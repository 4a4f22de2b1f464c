"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Two decode tiers:

* **Real kernels** (``fake=False``) for formats that are decodable with
  stdlib+numpy alone — BMP, PNG, baseline JPEG (own DCT/Huffman codec,
  :mod:`linked_maps_spark.jpeg`), netpbm P5/P6, concatenated-P6 video
  streams, and PCM16 WAV — implemented in :mod:`linked_maps_spark.codecs`
  (spec-conformant, round-trip tested).  Formats that genuinely need
  DSP/entropy libraries absent from this container (MP3, H.264) raise a
  documented ``NotImplementedError`` at the dispatch point; JPEG covers
  BOTH baseline (SOF0) and progressive (SOF2) since round 5.
* **Deterministic fakes** (``fake=True``, the default) whose outputs are
  pure functions of the payload sha256 — these keep the driver-gate DuckDB
  oracles value-exact (a real image decode is not SQL-expressible).

The real path is value-oracled anyway via :func:`wav_roundtrip_stats` /
:func:`bmp_roundtrip_stats`: payloads are synthesized from integer
formulas, round-tripped through the real encoders+decoders, and integer
stats of the DECODED media are compared against DuckDB recomputing the
same formulas — an encoder or decoder bug breaks the hash match.

At scale: binary payloads ride in their own column so column pruning keeps
metadata-only queries from ever reading the bytes; decode fans out with
``mapInPandas`` (streaming Arrow batches, bounded memory per task).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linked_maps_spark import codecs

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, declared_mime string"
)
FEATURE_SCHEMA = "media_id long, feature array<float>, feat_dim int"


def synth_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table: payload = utf-8 bytes of the doc text
    (stands in for image/audio bytes; schema and sizes are what matter)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("declared_mime"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Metadata extraction — pure JVM expressions, no decode needed:
    byte length, 4-byte magic sniff (hex), payload sha256."""
    return media.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.upper(F.hex(F.substring("payload", 1, 4))).alias("magic"),
        F.sha2("payload", 256).alias("payload_sha256"),
    ).orderBy("media_id")


MEDIA_METADATA_SQL = """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           upper(hex(encode(substr(text, 1, 4)))) AS magic,
           sha256(text) AS payload_sha256
    FROM documents
    ORDER BY media_id
"""


def _decode_image_any(payload: bytes) -> np.ndarray:
    """Dispatch a payload to the right real image decoder by magic bytes.
    Concatenated-P6 video streams decode to their first frame."""
    mime = codecs.sniff(payload)
    if mime == "image/bmp":
        return codecs.decode_bmp(payload)
    if mime == "image/png":
        return codecs.decode_png(payload)
    if mime == "image/x-portable-pixmap":
        return codecs.decode_ppm_stream(payload)[0]
    if mime == "image/jpeg":
        return codecs.decode_jpeg(payload)  # baseline AND progressive (SOF2)
    raise NotImplementedError(f"no native image decoder for {mime or 'unknown'}")


def _real_features(payload: bytes) -> np.ndarray:
    """Real feature extraction: image stats for image-like payloads,
    RMS/ZCR/spectral-centroid for WAV audio."""
    mime = codecs.sniff(payload)
    if mime == "audio/wav":
        return codecs.audio_features(*codecs.decode_wav(payload))
    return codecs.image_features(_decode_image_any(payload))


def decode_features(media: DataFrame, dim: int = 8, fake: bool = True) -> DataFrame:
    """'Decode + feature-extract' over Arrow batches (``mapInPandas``).

    With ``fake=True`` the feature is a deterministic function of the payload
    sha256 (keeps the DuckDB oracle value-exact; ``dim`` applies); with
    ``fake=False`` payloads are REALLY decoded (BMP/PNG/baseline-JPEG/netpbm/
    WAV/P6-stream via :mod:`codecs`) and ``feat_dim`` is the extractor's
    native length — only formats needing absent DSP libs (MP3/H.264)
    raise."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                feats = [
                    _real_features(bytes(payload)) for payload in pdf["payload"]
                ]
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "feature": feats,
                        "feat_dim": np.array([len(f) for f in feats], dtype=np.int32)
                        if feats
                        else np.array([], dtype=np.int32),
                    }
                )
                continue
            feats = []
            for payload in pdf["payload"]:
                digest = hashlib.sha256(bytes(payload)).digest()
                arr = np.frombuffer(digest[: dim * 4], dtype="<u4").astype(np.float64)
                feats.append((arr / np.float64(2**32)).astype(np.float32))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "feat_dim": np.int32(dim),
                }
            )

    return media.select("media_id", "payload").mapInPandas(extract, FEATURE_SCHEMA)


RESIZED_SCHEMA = "media_id long, width int, height int, thumb binary"
FRAMES_SCHEMA = "media_id long, frame_idx int, frame_offset_s double, frame string"


def resize_images(
    media: DataFrame, width: int = 64, height: int = 64, fake: bool = True
) -> DataFrame:
    """'Resize' kernel over Arrow batches.  With ``fake=True`` the thumb is a
    deterministic function of (payload sha256, target size) — byte plumbing,
    batch shape and schema are real.  With ``fake=False`` image payloads are
    really decoded (BMP/PNG/baseline-JPEG/netpbm; P6 streams use frame 0),
    bilinear-resampled in numpy, and re-encoded as BMP thumbs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                thumbs = []
                for payload in pdf["payload"]:
                    img = _decode_image_any(bytes(payload))
                    if img.shape[2] < 3:  # grey or grey+alpha → replicate luma
                        img = np.repeat(img[:, :, :1], 3, axis=2)
                    small = codecs.resize_bilinear(img[:, :, :3], width, height)
                    thumbs.append(codecs.encode_bmp(small))
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "width": np.int32(width),
                        "height": np.int32(height),
                        "thumb": thumbs,
                    }
                )
                continue
            thumbs = []
            for payload in pdf["payload"]:
                seed = hashlib.sha256(bytes(payload) + f"{width}x{height}".encode())
                # deterministic fake pixel buffer of the right byte size
                reps = (width * height * 3 + 31) // 32
                thumbs.append((seed.digest() * reps)[: width * height * 3])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": np.int32(width),
                    "height": np.int32(height),
                    "thumb": thumbs,
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame,
    fps: float = 1.0,
    max_frames: int = 4,
    fake: bool = True,
    src_fps: float = 4.0,
) -> DataFrame:
    """'Frame-sample' kernel for video payloads: emit ≤ ``max_frames`` rows
    per media at 1/fps spacing.  Fake frames are sha256(payload ‖ idx).

    With ``fake=False`` the payload must be a concatenated-P6 stream (the
    ffmpeg ``image2pipe`` raw-video format) recorded at ``src_fps``; frames
    are REALLY parsed/decoded, the sampler picks the nearest source frame to
    each 1/fps tick, and ``frame`` is the sha256 of the decoded RGB pixels
    (content-addressed — the bytes themselves come back via the decoders).
    Containers needing ffmpeg (MP4/H.264) raise NotImplementedError."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                rows = []
                for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                    payload = bytes(payload)
                    if codecs.sniff(payload) != "image/x-portable-pixmap":
                        raise NotImplementedError(
                            "real frame sampling supports concatenated-P6 "
                            "streams; MP4/H.264 need ffmpeg (absent here)"
                        )
                    frames = codecs.decode_ppm_stream(payload)
                    prev_idx = -1
                    for k in range(max_frames):
                        # half-up rounding (consistent at exact halves), and
                        # dedupe: fps > src_fps would otherwise emit the same
                        # source frame for consecutive ticks
                        idx = int(k / fps * src_fps + 0.5)
                        if idx >= len(frames):
                            break
                        if idx == prev_idx:
                            continue
                        prev_idx = idx
                        rows.append(
                            {
                                "media_id": media_id,
                                "frame_idx": idx,
                                "frame_offset_s": idx / src_fps,
                                "frame": hashlib.sha256(
                                    frames[idx].tobytes()
                                ).hexdigest(),
                            }
                        )
                yield pd.DataFrame(
                    rows, columns=["media_id", "frame_idx", "frame_offset_s", "frame"]
                )
                continue
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                # fake duration: 1 second per 64 payload bytes
                n = min(max_frames, max(1, len(bytes(payload)) // 64))
                for i in range(n):
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": i,
                            "frame_offset_s": i / fps,
                            "frame": hashlib.sha256(
                                bytes(payload) + i.to_bytes(4, "big")
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_offset_s", "frame"]
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(kernel, FRAMES_SCHEMA)
    )


def feature_values(media: DataFrame, dim: int = 8) -> DataFrame:
    """Driver-facing projection of :func:`decode_features`: the raw
    ``array<float>`` column is not canonicalizable by the oracle harness
    (pandas cannot factorize lists), so explode it to scalar
    ``(media_id, idx, value)`` rows.  Bit-exact against DuckDB: both sides
    compute float32(round(u4 / 2^32)) with IEEE round-to-nearest."""
    feats = decode_features(media, dim=dim, fake=True)
    return (
        feats.select("media_id", F.posexplode("feature").alias("idx", "value"))
        .orderBy("media_id", "idx")
    )


# ---------------------------------------------------------------------------
# real-format synthesis + round-trip value oracles


def _sha_bytes(seed: bytes, n: int) -> np.ndarray:
    """Deterministic byte stream: sha256(seed ‖ counter) blocks, first n."""
    blocks = []
    got = 0
    ctr = 0
    while got < n:
        d = hashlib.sha256(seed + ctr.to_bytes(4, "big")).digest()
        blocks.append(d)
        got += len(d)
        ctr += 1
    return np.frombuffer(b"".join(blocks)[:n], dtype=np.uint8)


def _synth_payload(doc_id: int, text: str) -> tuple[str, bytes]:
    """One real-format payload per doc: images rotate BMP/PNG/JPEG, audio is
    PCM16 WAV, video is a concatenated-P6 stream (2-4 frames)."""
    seed = text.encode("utf-8") + doc_id.to_bytes(8, "big")
    kind = ("image", "audio", "video")[doc_id % 3]
    if kind == "image":
        w, h = 8 + doc_id % 5, 6 + doc_id % 4
        px = _sha_bytes(seed, w * h * 3).reshape(h, w, 3)
        enc = (
            codecs.encode_bmp,
            codecs.encode_png,
            lambda p: codecs.encode_jpeg(p, quality=90),
        )[(doc_id // 3) % 3]
        return kind, enc(px)
    if kind == "audio":
        n = 64 + doc_id % 64
        i = np.arange(n, dtype=np.int64)
        v = ((doc_id * 31 + i * 7919) % 65536 - 32768).astype(np.int16)
        return kind, codecs.encode_wav(8000 + 100 * (doc_id % 5), v)
    k = 2 + doc_id % 3
    frames = [
        _sha_bytes(seed + f.to_bytes(4, "big"), 8 * 6 * 3).reshape(6, 8, 3)
        for f in range(k)
    ]
    return kind, codecs.encode_ppm_stream(frames)


def synth_real_media(documents: DataFrame) -> DataFrame:
    """Like :func:`synth_media` but payloads are spec-conformant BMP / PNG /
    JPEG / WAV / concatenated-P6 bytes, deterministically generated from
    (doc_id, text) — so the ``fake=False`` real-decode paths run end-to-end
    on genuine files.  declared_mime comes from the magic-byte sniffer."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                kind, payload = _synth_payload(int(doc_id), str(text))
                rows.append((int(doc_id), kind, payload, codecs.sniff(payload)))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "declared_mime"]
            )

    return documents.select("doc_id", "text").mapInPandas(gen, MEDIA_SCHEMA)


WAV_STATS_SCHEMA = (
    "media_id long, sample_rate long, n_samples long, min_s long, max_s long, "
    "sum_s long, crossings long"
)


def wav_roundtrip_stats(documents: DataFrame) -> DataFrame:
    """Value oracle for the REAL WAV codec: synthesize PCM16 samples from an
    integer formula, round-trip them through ``encode_wav``/``decode_wav``,
    and report integer stats of the DECODED audio.  DuckDB recomputes the
    same stats straight from the formula (:data:`WAV_ROUNDTRIP_SQL`) — any
    header/layout/endianness bug in either codec breaks the hash match."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 64 + doc_id % 64
                i = np.arange(n, dtype=np.int64)
                v = ((doc_id * 31 + i * 7919) % 65536 - 32768).astype(np.int16)
                rate, dec = codecs.decode_wav(
                    codecs.encode_wav(8000 + 100 * (doc_id % 5), v)
                )
                s = dec[:, 0].astype(np.int64)
                sign = s < 0
                rows.append(
                    (
                        doc_id,
                        rate,
                        len(s),
                        int(s.min()),
                        int(s.max()),
                        int(s.sum()),
                        int(np.count_nonzero(sign[1:] != sign[:-1])),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_samples",
                    "min_s",
                    "max_s",
                    "sum_s",
                    "crossings",
                ],
            )

    return (
        documents.filter(F.col("doc_id") % 3 == 1)
        .select("doc_id")
        .mapInPandas(kernel, WAV_STATS_SCHEMA)
        .orderBy("media_id")
    )


WAV_ROUNDTRIP_SQL = """
    WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
    g AS (SELECT unnest(range(128)) AS i),
    s AS (SELECT a.doc_id, g.i,
                 ((a.doc_id*31 + g.i*7919) % 65536) - 32768 AS v
          FROM a CROSS JOIN g
          WHERE g.i < 64 + (a.doc_id % 64)),
    w AS (SELECT doc_id, i, v,
                 lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
          FROM s)
    SELECT doc_id AS media_id,
           CAST(8000 + 100*(doc_id % 5) AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MIN(v) AS BIGINT) AS min_s,
           CAST(MAX(v) AS BIGINT) AS max_s,
           CAST(SUM(v) AS BIGINT) AS sum_s,
           CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS crossings
    FROM w GROUP BY doc_id ORDER BY media_id
"""


BMP_STATS_SCHEMA = (
    "media_id long, width long, height long, n_bytes long, pixel_sum long"
)


def bmp_roundtrip_stats(documents: DataFrame) -> DataFrame:
    """Value oracle for the REAL BMP codec: pixels from an integer formula →
    ``encode_bmp`` → ``decode_bmp`` → stats of the DECODED image, including
    the exact container size (header + 4-byte-padded rows).  DuckDB
    recomputes all of it from the formula (:data:`BMP_ROUNDTRIP_SQL`)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 5, 6 + doc_id % 4
                j = np.arange(w * h * 3, dtype=np.int64)
                px = ((doc_id * 7 + j * 13) % 256).astype(np.uint8).reshape(h, w, 3)
                payload = codecs.encode_bmp(px)
                dec = codecs.decode_bmp(payload)
                rows.append(
                    (
                        doc_id,
                        dec.shape[1],
                        dec.shape[0],
                        len(payload),
                        int(dec.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "n_bytes", "pixel_sum"],
            )

    return (
        documents.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .mapInPandas(kernel, BMP_STATS_SCHEMA)
        .orderBy("media_id")
    )


RESIZE_STATS_SCHEMA = (
    "media_id long, out_w long, out_h long, pixel_sum long, pos_sum long, "
    "pixel_xor long"
)


def resize_roundtrip_stats(documents: DataFrame) -> DataFrame:
    """Value oracle for the REAL resize kernel: formula pixels →
    ``encode_bmp`` → ``decode_bmp`` → ``resize_nearest`` to 4×3 → integer
    stats of the RESIZED image.  Nearest-neighbor with half-pixel centers is
    exact index arithmetic (src = ⌊(2·out+1)·in / (2·out_n)⌋), so DuckDB
    recomputes every output pixel from the formula; the position-weighted
    sum catches misplacement that a plain sum would miss."""
    out_w, out_h = 4, 3

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 5, 6 + doc_id % 4
                j = np.arange(w * h * 3, dtype=np.int64)
                px = ((doc_id * 7 + j * 13) % 256).astype(np.uint8).reshape(h, w, 3)
                dec = codecs.decode_bmp(codecs.encode_bmp(px))
                small = codecs.resize_nearest(dec, out_w, out_h).astype(np.int64)
                flat = small.reshape(-1)
                pos = np.arange(flat.size, dtype=np.int64)
                rows.append(
                    (
                        doc_id,
                        small.shape[1],
                        small.shape[0],
                        int(flat.sum()),
                        int((flat * pos).sum()),
                        int(np.bitwise_xor.reduce(flat)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "out_w",
                    "out_h",
                    "pixel_sum",
                    "pos_sum",
                    "pixel_xor",
                ],
            )

    return (
        documents.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .mapInPandas(kernel, RESIZE_STATS_SCHEMA)
        .orderBy("media_id")
    )


RESIZE_ROUNDTRIP_SQL = """
    WITH a AS (SELECT doc_id, 8 + (doc_id % 5) AS w, 6 + (doc_id % 4) AS h
               FROM documents WHERE doc_id % 3 = 0),
    yy AS (SELECT unnest(range(3)) AS y),
    xx AS (SELECT unnest(range(4)) AS x),
    cc AS (SELECT unnest(range(3)) AS c),
    v AS (SELECT a.doc_id, yy.y, xx.x, cc.c,
                 (a.doc_id*7
                  + ((((2*yy.y + 1) * a.h) // 6) * a.w * 3
                     + (((2*xx.x + 1) * a.w) // 8) * 3
                     + cc.c) * 13) % 256 AS val
          FROM a CROSS JOIN yy CROSS JOIN xx CROSS JOIN cc)
    SELECT doc_id AS media_id,
           CAST(4 AS BIGINT) AS out_w,
           CAST(3 AS BIGINT) AS out_h,
           CAST(SUM(val) AS BIGINT) AS pixel_sum,
           CAST(SUM(val * (y*12 + x*3 + c)) AS BIGINT) AS pos_sum,
           CAST(bit_xor(val) AS BIGINT) AS pixel_xor
    FROM v GROUP BY doc_id ORDER BY media_id
"""


PNG_STATS_SCHEMA = (
    "media_id long, width long, height long, pixel_sum long, pixel_xor long"
)


def png_roundtrip_stats(documents: DataFrame) -> DataFrame:
    """Value oracle for the REAL PNG codec (zlib deflate → chunk/CRC framing
    → inflate → unfilter): formula pixels → ``encode_png`` → ``decode_png``
    → integer stats of the DECODED image.  Container size is omitted (zlib
    output length is not SQL-expressible); sum + xor of the decoded pixels
    catch any value or ordering corruption."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 5 + doc_id % 7, 4 + doc_id % 5
                j = np.arange(w * h * 3, dtype=np.int64)
                px = ((doc_id * 11 + j * 17) % 256).astype(np.uint8).reshape(h, w, 3)
                dec = codecs.decode_png(codecs.encode_png(px)).astype(np.int64)
                flat = dec.reshape(-1)
                rows.append(
                    (
                        doc_id,
                        dec.shape[1],
                        dec.shape[0],
                        int(flat.sum()),
                        int(np.bitwise_xor.reduce(flat)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "pixel_sum", "pixel_xor"],
            )

    return (
        documents.filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
        .mapInPandas(kernel, PNG_STATS_SCHEMA)
        .orderBy("media_id")
    )


PNG_ROUNDTRIP_SQL = """
    WITH a AS (SELECT doc_id, 5 + (doc_id % 7) AS w, 4 + (doc_id % 5) AS h
               FROM documents WHERE doc_id % 3 = 2),
    g AS (SELECT unnest(range(264)) AS j),
    p AS (SELECT a.doc_id, a.w, a.h, (a.doc_id*11 + g.j*17) % 256 AS v
          FROM a CROSS JOIN g WHERE g.j < a.w * a.h * 3)
    SELECT doc_id AS media_id,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(bit_xor(v) AS BIGINT) AS pixel_xor
    FROM p GROUP BY doc_id ORDER BY media_id
"""


JPEG_STATS_SCHEMA = (
    "media_id long, width long, height long, pixel_sum long, blockpos_sum long"
)


def jpeg_roundtrip_stats(
    documents: DataFrame, codec: str = "baseline"
) -> DataFrame:
    """Value oracle for the REAL baseline-JPEG codec (DCT → quantize →
    zigzag → DPCM/Huffman → byte stuffing → full marker parse back).

    ``codec="progressive"`` routes the SAME images through the SOF2
    scan-script encoder and the progressive decoder instead — identical
    quantized coefficients, so the DC-only closed form (and therefore
    ``JPEG_ROUNDTRIP_SQL``) applies unchanged, and the gate value-checks
    the successive-approximation entropy coding end-to-end.

    JPEG is lossy, so the trick that makes it value-oracle-able: greyscale
    images whose 8×8 blocks are each CONSTANT have DC-only spectra, and at
    quality 50 the luminance DC quantizer is exactly the Annex K value 16,
    so the decoded block value has the closed integer form
    ``clip(128 + 2·round_half_away((v-128)/2), 0, 255)`` (see
    :mod:`linked_maps_spark.jpeg` docstring for the tie analysis).  DuckDB
    recomputes every block from that formula; the block-position-weighted
    sum catches any block misplacement the plain sum would miss.  The DC
    DPCM chain, EOB/Huffman coding, bit stuffing and the whole container
    round-trip are all on the hash path."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                wb, hb = 2 + doc_id % 3, 1 + doc_id % 2
                nb = wb * hb
                vals = (doc_id * 13 + np.arange(nb, dtype=np.int64) * 29) % 256
                img = np.repeat(
                    np.repeat(vals.reshape(hb, wb), 8, axis=0), 8, axis=1
                ).astype(np.uint8)
                if codec == "progressive":
                    payload = codecs.encode_progressive_jpeg(img, quality=50)
                elif codec == "baseline":
                    payload = codecs.encode_jpeg(img, quality=50)
                else:  # honest dispatch: a typo must not silently pass
                    raise ValueError(f"unknown jpeg codec {codec!r}")
                dec = codecs.decode_jpeg(payload)
                plane = dec[:, :, 0].astype(np.int64)
                h, w = plane.shape
                blocksums = (
                    plane.reshape(h // 8, 8, w // 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(-1, 64)
                    .sum(axis=1)
                )
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        int(blocksums.sum()),
                        int((blocksums * np.arange(nb)).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "pixel_sum", "blockpos_sum"],
            )

    return (
        documents.select("doc_id")
        .mapInPandas(kernel, JPEG_STATS_SCHEMA)
        .orderBy("media_id")
    )


JPEG_ROUNDTRIP_SQL = """
    WITH a AS (SELECT doc_id, 2 + (doc_id % 3) AS wb, 1 + (doc_id % 2) AS hb
               FROM documents),
    g AS (SELECT unnest(range(8)) AS b),
    p AS (SELECT a.doc_id, a.wb, a.hb, g.b,
                 (a.doc_id*13 + g.b*29) % 256 AS v
          FROM a CROSS JOIN g WHERE g.b < a.wb * a.hb),
    d AS (SELECT doc_id, wb, hb, b,
                 CASE WHEN v >= 128
                      THEN LEAST(128 + 2*((v - 128 + 1)//2), 255)
                      ELSE GREATEST(128 - 2*((128 - v + 1)//2), 0) END AS dec
          FROM p)
    SELECT doc_id AS media_id,
           CAST(MIN(wb)*8 AS BIGINT) AS width,
           CAST(MIN(hb)*8 AS BIGINT) AS height,
           CAST(SUM(dec)*64 AS BIGINT) AS pixel_sum,
           CAST(SUM(dec*b)*64 AS BIGINT) AS blockpos_sum
    FROM d GROUP BY doc_id ORDER BY media_id
"""


BMP_ROUNDTRIP_SQL = """
    WITH a AS (SELECT doc_id, 8 + (doc_id % 5) AS w, 6 + (doc_id % 4) AS h
               FROM documents WHERE doc_id % 3 = 0),
    g AS (SELECT unnest(range(324)) AS j),
    p AS (SELECT a.doc_id, a.w, a.h, (a.doc_id*7 + g.j*13) % 256 AS v
          FROM a CROSS JOIN g WHERE g.j < a.w * a.h * 3)
    SELECT doc_id AS media_id,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(54 + MIN(h) * ((MIN(w)*3 + 3) - ((MIN(w)*3 + 3) % 4))
                AS BIGINT) AS n_bytes,
           CAST(SUM(v) AS BIGINT) AS pixel_sum
    FROM p GROUP BY doc_id ORDER BY media_id
"""


def feature_values_sql(dim: int = 8) -> str:
    """DuckDB oracle for :func:`feature_values`: re-derive the fake feature
    from sha256 hex — word *i* is the little-endian uint32 at byte offset
    ``4*i`` of the digest, divided by 2^32 and cast to FLOAT."""
    le_word = (
        "'0x' || substr(h, 8*w.idx+7, 2) || substr(h, 8*w.idx+5, 2)"
        " || substr(h, 8*w.idx+3, 2) || substr(h, 8*w.idx+1, 2)"
    )
    return f"""
    WITH media AS (SELECT doc_id AS media_id, sha256(text) AS h FROM documents)
    SELECT m.media_id,
           CAST(w.idx AS INT) AS idx,
           CAST(CAST({le_word} AS BIGINT) / 4294967296.0 AS FLOAT) AS value
    FROM media m CROSS JOIN (SELECT unnest(range({dim})) AS idx) w
    ORDER BY media_id, idx
    """


def jpeg_progressive_roundtrip_stats(documents: DataFrame) -> DataFrame:
    """Gate surface for the progressive (SOF2) codec — shares
    ``JPEG_ROUNDTRIP_SQL`` with the baseline entry (see
    :func:`jpeg_roundtrip_stats`)."""
    return jpeg_roundtrip_stats(documents, codec="progressive")
