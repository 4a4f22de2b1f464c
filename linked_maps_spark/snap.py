"""Snap-rounding front-end: arbitrary-coordinate WKT → the engine's grid.

The core algebra (``geometry.py``) is exact int64 set algebra over a fixed
grid, which buys bit-exact replay but only accepts grid-aligned input.  The
reference ingests real NAD83 shapefiles with arbitrary coordinates
(``/root/reference/segment.py:131-142``) and runs a 0.0015°-buffered PostGIS
algebra (``/root/reference/segment.py:60``, ``postgis_sqls.py:47-56``).  This
module closes the gap with classic **snap-rounding** (pure numpy, no GEOS):

* vertices quantize to a configurable pitch (default 0.002°, on the order of
  the reference's buffer) after an origin shift that maps the lng/lat domain
  into the engine's non-negative grid window;
* line segments rasterize to 8-connected unit-step chains (DDA: the dominant
  axis advances one cell per step, the minor axis by ``rint`` — every step is
  axis-aligned or 45°, exactly the engine's edge alphabet);
* polygon rings scan-fill to unit cells by even-odd crossing parity — holes
  (which the strict parser rejects) subtract here, matching PostGIS
  semantics on the snapped domain.

Equivalence contract (documented tolerance, not bit-parity with PostGIS):
every snapped vertex moves ≤ pitch/√2̄·½ ≈ 0.71·pitch/2 from its source, and
two features interact in the snapped algebra iff they share unit edges/cells
— the grid analog of the reference's "within 2×buffer" overlap.  Finer pitch
→ closer to the buffered continuum, at 1/pitch² cell cost.

The engine-grid WKT this module emits expresses coordinates in **grid
units × engine PITCH** (a fixed-point scaling of true degrees:
``true = origin + grid_value / PITCH * pitch``); ``unsnap_wkt`` maps back.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from . import geometry as G

DEFAULT_PITCH = 0.002  # degrees — same order as the reference's 0.0015° buffer
# The grid window is G._P (=16384) cells per axis → pitch × 16384 degrees
# (32.77° at the default pitch).  ``origin`` places the window: it must be
# identical for every feature that will be compared (ids are origin-
# relative, and comparisons only ever happen within one (repo, path) key).
# The default covers the reference's California rasters
# (data/railroads/ca, NAD83 lng/lat); corpora wider than one window shard
# origins per region tile — see ``derive_origins`` / the ``origins``
# parameter of ``snap_change_log``.
DEFAULT_ORIGIN = (-125.0, 32.0)

_NUM_RE = re.compile(r"[-+0-9.eE]+")


_split_groups = G.split_groups


def _coords(ring: str) -> np.ndarray:
    vals = np.asarray(_NUM_RE.findall(ring), dtype=np.float64)
    if vals.size % 2:
        raise G.GeometryError(f"odd coordinate count in {ring[:40]!r}")
    return np.stack([vals[0::2], vals[1::2]], axis=1)


def _quantize(arr: np.ndarray, pitch: float, origin: tuple[float, float]) -> np.ndarray:
    q = np.rint((arr - np.asarray(origin)) / pitch).astype(np.int64)
    if q.size and (q.min() < 0 or q.max() >= G._P):
        raise G.GeometryError(
            f"snapped coordinate outside the {G._P}-cell grid window "
            f"(pitch={pitch}, origin={origin})"
        )
    return q


def _raster_line(arr: np.ndarray) -> np.ndarray:
    """Snapped int vertices → unit-edge ids along an 8-connected DDA chain."""
    ids: list[np.ndarray] = []
    for (x0, y0), (x1, y1) in zip(arr[:-1], arr[1:]):
        n = int(max(abs(x1 - x0), abs(y1 - y0)))
        if n == 0:
            continue  # both endpoints snapped to the same cell
        t = np.arange(n + 1, dtype=np.float64)
        xs = (x0 + np.rint(t * (x1 - x0) / n)).astype(np.int64)
        ys = (y0 + np.rint(t * (y1 - y0) / n)).astype(np.int64)
        p = G._pid(xs[:-1], ys[:-1])
        q = G._pid(xs[1:], ys[1:])
        ids.append(np.minimum(p, q) * G._E + np.maximum(p, q))
    return np.unique(np.concatenate(ids)) if ids else np.empty(0, np.int64)


def _fill_polygon(rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd scan fill over cell centers; rings[0] outer, rest holes
    (even-odd parity makes holes subtract without classifying them)."""
    allv = np.concatenate(rings)
    x_lo, x_hi = int(allv[:, 0].min()), int(allv[:, 0].max())
    y_lo, y_hi = int(allv[:, 1].min()), int(allv[:, 1].max())
    if x_hi <= x_lo or y_hi <= y_lo:
        return np.empty(0, np.int64)
    gx, gy = np.meshgrid(
        np.arange(x_lo, x_hi, dtype=np.int64), np.arange(y_lo, y_hi, dtype=np.int64)
    )
    cx = gx.ravel().astype(np.float64) + 0.5
    cy = gy.ravel().astype(np.float64) + 0.5
    inside = np.zeros(cx.shape, dtype=bool)
    for ring in rings:
        r = ring.astype(np.float64)
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        if len(r) < 3:
            continue
        x0, y0 = r[:, 0], r[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        for ex0, ey0, ex1, ey1 in zip(x0, y0, x1, y1):
            if ey0 == ey1:
                continue
            crosses = ((ey0 <= cy) != (ey1 <= cy)) & (
                cx < ex0 + (cy - ey0) * (ex1 - ex0) / (ey1 - ey0)
            )
            inside ^= crosses
    return np.sort(G._pid(gx.ravel()[inside], gy.ravel()[inside]))


def snap_wkt(
    wkt: str,
    geom_type: str = G.LINE,
    pitch: float = DEFAULT_PITCH,
    origin: tuple[float, float] = DEFAULT_ORIGIN,
) -> str:
    """Arbitrary-coordinate WKT → canonical engine-grid WKT.

    Empty/blank input stays a tombstone ('').  A geometry that collapses
    entirely under snapping returns the canonical EMPTY form."""
    wkt = (wkt or "").strip()
    if not wkt:
        return ""
    if wkt.upper().endswith("EMPTY"):
        return f"{geom_type} EMPTY"
    head, _, rest = wkt.partition("(")
    head = head.strip().upper()
    body = "(" + rest  # the full parenthesized payload
    outer = _split_groups(body)
    if len(outer) != 1:
        raise G.GeometryError("malformed WKT body")
    if geom_type == G.LINE:
        if head == "MULTILINESTRING":
            lines = _split_groups(outer[0])  # depth-2 groups = linestrings
        elif head == "LINESTRING":
            lines = outer  # the single coordinate list
        else:
            raise G.GeometryError(f"expected (MULTI)LINESTRING, got {head}")
        ids = G.union_all(
            [_raster_line(_quantize(_coords(ln), pitch, origin)) for ln in lines]
        )
    elif geom_type == G.POLYGON:
        if head == "MULTIPOLYGON":
            polys = _split_groups(outer[0])  # depth-2 groups = polygons
        elif head == "POLYGON":
            polys = outer  # ring list of the single polygon
        else:
            raise G.GeometryError(f"expected (MULTI)POLYGON, got {head}")
        cell_parts = []
        for poly in polys:
            rings = [
                _quantize(_coords(r), pitch, origin) for r in _split_groups(poly)
            ]
            if not rings:
                raise G.GeometryError("polygon with no rings")
            cell_parts.append(_fill_polygon(rings))
        ids = G.union_all(cell_parts)
    else:
        raise G.GeometryError(f"unknown geometry type {geom_type}")
    return G.to_wkt(ids, geom_type)


def snap_change_log(
    df,
    geom_type: str = G.LINE,
    pitch: float = DEFAULT_PITCH,
    origin: tuple[float, float] = DEFAULT_ORIGIN,
    origins: dict[str, tuple[float, float]] | None = None,
    origin_key: str = "repo",
):
    """Spark transform: snap a WAL's ``content`` column (arbitrary WKT) to
    engine-grid WKT — the ingest adapter for reference-shaped (NAD83) data.
    Runs as an Arrow-batched pandas UDF; tombstones ('') pass through.

    **Region-tile origin sharding**: one grid window spans
    ``pitch × 16384`` degrees (32.8° at the default pitch, 8.2° at 0.0005°),
    so a corpus wider than one window passes ``origins`` — a mapping from
    the ``origin_key`` column's value (e.g. repo or region path) to that
    tile's origin, usually built once by :func:`derive_origins` and
    persisted with :func:`save_origins`.  Grid ids are origin-relative, but
    the fold's algebra is strictly per ``(repo, path)`` key and ids never
    compare across keys, so per-region origins are sound.  A key whose
    geometry outgrows its window still trips the grid-range guard
    (geometry.py) rather than corrupting ids."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if origins is None:
        @pandas_udf("string")
        def snap_col(s: pd.Series) -> pd.Series:
            return s.map(lambda w: snap_wkt(w, geom_type, pitch, origin))

        return df.withColumn("content", snap_col(F.col("content")))

    omap = dict(origins)

    @pandas_udf("string")
    def snap_tiled(key: pd.Series, s: pd.Series) -> pd.Series:
        out = []
        for k, w in zip(key, s):
            w = (w or "").strip()
            if not w:
                # tombstone pass-through BEFORE the tile lookup: a key whose
                # onboarding rows were all tombstones has no derived origin,
                # and the contract says tombstones always pass
                out.append("")
                continue
            if w.upper().endswith("EMPTY"):
                out.append(f"{geom_type} EMPTY")
                continue
            if k not in omap:
                raise G.GeometryError(f"no tile origin for {origin_key}={k!r}")
            out.append(snap_wkt(w, geom_type, pitch, tuple(omap[k])))
        return pd.Series(out, dtype=object)

    return df.withColumn("content", snap_tiled(F.col(origin_key), F.col("content")))


def derive_origins(
    df,
    pitch: float = DEFAULT_PITCH,
    origin_key: str = "repo",
    margin_frac: float = 0.05,
) -> dict[str, tuple[float, float]]:
    """One Spark job over an onboarding corpus: per ``origin_key`` group,
    the min vertex corner minus a ``margin_frac``-of-window margin becomes
    that region tile's origin.

    The result is STATE: derive it once from the initial corpus, persist it
    (:func:`save_origins` / :func:`load_origins`) next to the warehouse, and
    reuse it for every later ingest of the same keys — re-deriving over a
    different WAL slice could shift an origin and fork a key's grid ids."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("minx double, miny double")
    def bounds(s: pd.Series) -> pd.DataFrame:
        out = []
        for w in s:
            w = (w or "").strip()
            if not w or w.upper().endswith("EMPTY"):
                out.append((None, None))
                continue
            vals = np.asarray(_NUM_RE.findall(w.partition("(")[2]), dtype=np.float64)
            out.append((float(vals[0::2].min()), float(vals[1::2].min())))
        return pd.DataFrame(out, columns=["minx", "miny"])

    margin = margin_frac * pitch * G._P
    rows = (
        df.select(F.col(origin_key).alias("k"), bounds(F.col("content")).alias("b"))
        .groupBy("k")
        .agg(F.min("b.minx").alias("minx"), F.min("b.miny").alias("miny"))
        .collect()
    )
    return {
        r["k"]: (r["minx"] - margin, r["miny"] - margin)
        for r in rows
        if r["minx"] is not None
    }


def save_origins(origins: dict[str, tuple[float, float]], path: str) -> None:
    import json

    with open(path, "w") as fh:
        json.dump({k: list(v) for k, v in origins.items()}, fh, indent=1)


def load_origins(path: str) -> dict[str, tuple[float, float]]:
    import json

    with open(path) as fh:
        return {k: tuple(v) for k, v in json.load(fh).items()}


def ensure_origins(
    wal, warehouse: str, pitch: float, fresh: bool, origin_key: str = "path"
) -> dict[str, tuple[float, float]]:
    """The warehouse's persisted snap-origin contract, in one place: keys
    already assigned an origin KEEP it (re-deriving could shift the origin
    and silently fork the grid ids of existing geometries); only keys this
    warehouse has never seen get one derived from the WAL.  Updates
    ``<warehouse>/origins.json`` and returns the full mapping."""
    import os

    origins_path = os.path.join(warehouse, "origins.json")
    origins = (
        load_origins(origins_path)
        if os.path.exists(origins_path) and not fresh
        else {}
    )
    new_keys = (
        set(r[origin_key] for r in wal.select(origin_key).distinct().collect())
        - origins.keys()
    )
    if new_keys:
        derived = derive_origins(wal, pitch=pitch, origin_key=origin_key)
        origins.update({k: v for k, v in derived.items() if k in new_keys})
        save_origins(origins, origins_path)
    return origins
