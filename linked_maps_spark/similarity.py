"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — brute-force cosine top-k: the correctness baseline.
  Dot products run JVM-side via ``zip_with``/``aggregate`` in float64 with a
  sequential left fold — bit-compatible with DuckDB's ``list_dot_product``
  over ``DOUBLE[]``.
* :func:`ann_lsh_topk` — the scale path: random-hyperplane LSH buckets
  (hyperplane components derived from the portable hash → deterministic, no
  RNG state), candidates restricted to same-bucket pairs.  At 100 TB the
  bucket join replaces the O(N·Q) cross product with O(candidates).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import MAX_KEY_DF
from .util import quote_ident


def _dot_expr(a: str, b: str) -> str:
    """The one Spark definition of the dot product, as Spark-SQL text over
    two array<double> expressions: a sequential left fold in float64 —
    bit-compatible with DuckDB's ``list_dot_product`` over ``DOUBLE[]`` —
    parsed JVM-side in ONE py4j round trip.  Inside a lambda (``pq_mse``)
    the enclosing higher-order function is written as text around it; the
    underscored lambda variables cannot shadow a caller's column or
    lambda.  (A statically unrolled 64-term variant was measured faster to
    EVALUATE but cost more to BUILD than the evaluation saved — query
    functions rebuild their plan per call, so construction is on the timed
    path; see OPTIMIZATION_r06.md.  The heavy multi-dot surfaces — LSH
    planes, IVF centroid sims, PQ codes/LUTs — avoid per-row JVM dots
    entirely via the vectorized Arrow kernels below.)"""
    return (
        f"aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y), 0.0D, "
        "(_acc, _t) -> _acc + _t)"
    )


def _as_double_expr(vec: str) -> str:
    """Spark-SQL text of the array column ``vec`` cast element-wise to
    double.  ``vec`` is a column NAME, backtick-quoted here, so names that
    are not plain identifiers resolve as written."""
    return f"transform({quote_ident(vec)}, _x -> cast(_x as double))"


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("_v", F.expr(_as_double_expr(vec))).withColumn(
        "_norm", F.expr(f"sqrt({_dot_expr('_v', '_v')})")
    )


def _h32f(s: str) -> float:
    """Driver-side value of ``h32(lit(s)) / 2^31 - 1`` — the md5-derived
    plane/centroid component, bit-identical to the JVM expression (exact
    int → double conversion, division by a power of two, subtraction)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / float(1 << 31) - 1.0


def _np_seq_dots(V, W):
    """(n, m) dot-product table with the SAME IEEE semantics as the
    ``_dot_expr`` left fold, vectorized across rows: the d-loop accumulates
    ``acc = acc + V[:,d]·W[:,d]`` so every (row, column) pair sees the
    identical ``((0 + t0) + t1) + …`` add sequence — numpy performs each
    elementwise op as a separate correctly-rounded IEEE operation (no FMA
    contraction, no reassociation), so the doubles match the JVM fold
    bit-for-bit."""
    import numpy as np

    acc = np.zeros((V.shape[0], W.shape[0]))
    for d in range(V.shape[1]):
        acc = acc + V[:, d : d + 1] * W[None, :, d]
    return acc


def _np_seq_sqnorm(V):
    """Row-wise ‖v‖² with the same sequential fold semantics."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for d in range(V.shape[1]):
        acc = acc + V[:, d] * V[:, d]
    return acc


def _emb_batches(batches, dim: int):
    """Iterate ``(vec_ids, V, bad)`` per Arrow batch of (vec_id, embedding):
    ``V`` is the (n, dim) float64 matrix of conforming rows (float32 →
    float64 is exact) and ``bad`` marks rows that are NULL, not exactly
    ``dim`` wide, or carrying NULL elements — those take the all-null
    degenerate outputs the JVM expressions produced (``zip_with`` pads
    mismatched lengths with nulls and propagates element nulls, collapsing
    the fold to NULL; a null ELEMENT nulls every full-vector dot, which is
    exactly the bad-row output for the LSH/IVF kernels.  The PQ kernels
    apply the same whole-row rule where the JVM form would null only the
    affected subspace — a documented approximation for rows no conforming
    corpus produces)."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        vec_ids = b.column(0).to_pylist()
        col = b.column(1)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        n = len(col)
        # fast path: no null rows, no null elements, every row exactly dim
        # wide → one zero-copy reshape of the flat value buffer
        if col.null_count == 0 and isinstance(col, pa.ListArray):
            flat = col.flatten()  # offset-aware concatenation of row values
            if n and len(flat) == n * dim and flat.null_count == 0:
                lengths = np.diff(col.offsets.to_numpy())
                if (lengths == dim).all():
                    V = flat.to_numpy(zero_copy_only=False).astype(
                        np.float64, copy=False
                    ).reshape(n, dim)
                    yield vec_ids, V, np.zeros(n, dtype=bool)
                    continue
        rows = col.to_pylist()
        bad = np.zeros(n, dtype=bool)
        V = np.zeros((n, dim))
        for i, r in enumerate(rows):
            if r is None or len(r) != dim or any(x is None for x in r):
                bad[i] = True
            else:
                V[i, :] = r
        yield vec_ids, V, bad


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Top-k cosine neighbors for the first ``n_queries`` vec_ids.

    Join is query-side broadcast (queries are tiny); ranking window has a
    unique (sim desc, vec_id asc) tie-break."""
    base = with_norm(embeddings).select("vec_id", "_v", "_norm")
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv"), F.col("_norm").alias("_qn")
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "cosine", F.expr(f"round({_dot_expr('_v', '_qv')} / (_norm * _qn), 6)")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def cosine_topk_sql(n_queries: int = 5, k: int = 5) -> str:
    return f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM base
          WHERE vec_id < {n_queries}),
    scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               ROUND(list_dot_product(b.v, q.qv) / (b.nrm * q.qn), 6) AS cosine
        FROM base b JOIN q ON b.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def lsh_band_array(
    embeddings: DataFrame, n_planes: int = 8, n_bands: int = 4, dim: int = 64
) -> DataFrame:
    """(vec_id, bands array<string>) — each vector's LSH band values, the
    per-vector index state shared by the on-the-fly ANN paths and the
    persisted ``vec_index`` table (vec_index.py): one definition, so the
    indexed and recompute paths are provably identical.

    Vectorized Arrow kernel (guide §4.2): the old form materialized
    ``n_planes`` 64-literal array columns and a JVM fold per (row, plane) —
    at 32 planes that is ~20k py4j calls just to BUILD the plan (measured
    18 s) and an interpreted multi-thousand-node tree per row to evaluate
    (15 s for 2 000 rows).  Here the planes are the same md5-derived
    doubles computed driver-side and the per-plane dots run as one numpy
    column-accumulation per batch — identical IEEE sequence to the ``_dot_expr``
    fold (see ``_np_seq_dots``), so every bit (and thus every band string)
    is unchanged.  Non-conforming rows (NULL / wrong width) produce all-'0'
    bits exactly as the JVM ``zip_with`` null-padding did."""
    rows = n_planes // n_bands
    planes = [[_h32f(f"{p}:{d}") for d in range(dim)] for p in range(n_planes)]

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        P = np.array(planes)
        prefixes = [f"{b}_" for b in range(n_bands)]
        for vec_ids, V, bad in _emb_batches(batches, dim):
            dots = _np_seq_dots(V, P)
            bits = np.where(dots >= 0, "1", "0")
            bits[bad, :] = "0"
            bands = [
                [
                    prefixes[b] + "".join(row[b * rows : (b + 1) * rows])
                    for b in range(n_bands)
                ]
                for row in bits
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(bands, type=pa.list_(pa.string())),
                ],
                names=["vec_id", "bands"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        fn, "vec_id long, bands array<string>"
    )


def lsh_bands(
    embeddings: DataFrame, n_planes: int = 8, n_bands: int = 4, dim: int = 64
) -> DataFrame:
    """(vec_id, band_val) exploded rows of :func:`lsh_band_array`."""
    return lsh_band_array(embeddings, n_planes, n_bands, dim).select(
        "vec_id", F.explode(F.col("bands")).alias("band_val")
    )


def md5_centroid(c: int, dim: int) -> list[float]:
    """Driver-side value of the md5-derived IVF centroid ``c`` (the same
    ``h32(f"c{c}:{d}")/2^31 - 1`` components the SQL oracle computes)."""
    import hashlib

    return [
        int(hashlib.md5(f"c{c}:{d}".encode()).hexdigest()[:8], 16)
        / float(1 << 31)
        - 1.0
        for d in range(dim)
    ]


def _ivf_sims(
    embeddings: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, _sims array<double>): cosine similarity of each vector to
    every coarse centroid.  ``centroids`` defaults to the md5-derived fixed
    directions (oracle-checkable); pass trained centroids (vec_index.py)
    for the data-dependent variant."""
    # Vectorized Arrow kernel (guide §4.2; see lsh_band_array's note): the
    # centroid components are the same md5-derived / trained doubles
    # computed driver-side; per-cell dots and norms use the sequential-fold
    # numpy accumulation, so every similarity double is bit-identical to
    # the old per-cell JVM fold expressions (which cost ~n_cells × 64
    # literal nodes to build and an interpreted tree per row to evaluate).
    if centroids is None:
        cent_vals = [
            [_h32f(f"c{c}:{d}") for d in range(dim)] for c in range(n_cells)
        ]
    else:
        cent_vals = [[float(x) for x in c] for c in centroids]
        n_cells = len(cent_vals)
    import math

    cnorms = []
    for cv in cent_vals:
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        cnorms.append(math.sqrt(acc))

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        C = np.array(cent_vals)
        CN = np.array(cnorms)
        for vec_ids, V, bad in _emb_batches(batches, dim):
            norm_v = np.sqrt(_np_seq_sqnorm(V))
            sims = _np_seq_dots(V, C) / (norm_v[:, None] * CN[None, :])
            # degenerate rows keep the JVM shape: an array OF nulls (the
            # old per-cell fold yielded NULL per element), not a null array
            null_row = [None] * n_cells
            out = [
                null_row if bad[i] else sims[i].tolist()
                for i in range(len(vec_ids))
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(out, type=pa.list_(pa.float64())),
                ],
                names=["vec_id", "_sims"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        fn, "vec_id long, _sims array<double>"
    )


def ivf_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, cell): IVF coarse-cell assignment — argmax centroid
    similarity, first-match tie-break (array_position is 1-based first
    occurrence on both engines).  The per-vector index state of the IVF
    paths; persisted by vec_index.py."""
    return _ivf_sims(embeddings, n_cells, dim, centroids).select(
        "vec_id",
        F.expr("array_position(_sims, array_max(_sims))").cast("int").alias("cell"),
    )


def ivf_probes(
    embeddings: DataFrame,
    n_queries: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(query_id, cell): each query vector's top-``n_probe`` cells by
    (sim desc, cell asc) — computed over ONLY the query rows."""
    qs = _ivf_sims(
        embeddings.filter(F.col("vec_id") < n_queries), n_cells, dim, centroids
    ).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.col("_sims")).alias("c0", "sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("c0"))
    return (
        qs.withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", (F.col("c0") + 1).cast("int").alias("cell"))
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with band-OR candidates.

    Hyperplane p's component for dimension d is
    ``(h32(f"{p}:{d}") / 2^31) - 1 ∈ [-1, 1)`` — pure function of (p, d), so
    every executor materializes identical planes without broadcasting RNG
    state, and the whole pipeline is DuckDB-expressible (see
    :func:`ann_lsh_topk_sql`).

    Round-1 required an exact match on the FULL ``n_planes``-bit signature
    (one bucket, no multi-probe), which collapsed recall (12 of the 25
    brute-force rows at sf0.01).  Now the signature splits into ``n_bands``
    bands and a vector is a candidate if it shares ANY band with the query —
    the classic OR-construction: P(candidate) = 1-(1-s^r)^b for sign-agree
    rate s, r = planes/band.  Exact cosine re-ranks candidates.

    Scale plan: base side explodes to N×bands rows joined on the band value
    (equi-join, AQE-splittable); the query side is broadcast."""
    banded = lsh_bands(embeddings, n_planes, n_bands, dim)
    qb = banded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "band_val"
    )
    cand = (
        banded.join(
            F.broadcast(qb),
            (banded.band_val == qb.band_val) & (banded.vec_id != qb.query_id),
        )
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _exact_rerank(cand, embeddings, n_queries, k)


def _exact_rerank(cand: DataFrame, embeddings: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Shared tail: exact cosine over (query_id, vec_id) candidate pairs,
    windowed top-k with the (sim desc, vec_id asc) tie-break."""
    vecs = with_norm(embeddings).select("vec_id", "_v", "_norm")
    qv = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    scored = (
        cand.join(vecs, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine", F.expr(f"round({_dot_expr('_v', '_qv')} / (_norm * _qn), 6)")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k — the inverted-file ANN scale path.

    Classic IVF partitions vectors into coarse cells and searches only the
    query's ``n_probe`` nearest cells.  A trained quantizer isn't
    reproducible cross-engine, so the coarse centroids are md5-derived
    fixed vectors (component (c, d) = ``h32(f"c{c}:{d}")/2^31 - 1``, the
    hyperplane trick of :func:`ann_lsh_topk`) — random directions that
    partition the sphere into deterministic Voronoi cells, making the whole
    pipeline DuckDB-expressible (:func:`ann_ivf_topk_sql`).

    Scale plan: each base vector computes its cell ONCE (JVM expressions,
    one pass — at 100 TB this is the index build, persisted alongside the
    table); candidates come from an equi-join on ``cell`` against the
    query's probe set (broadcast — n_queries × n_probe rows), then exact
    cosine re-ranks.  Never a cross join; cost ≈ |probed cells| / |cells|
    of brute force."""
    cells = ivf_cells(embeddings, n_cells, dim, centroids)
    probes = ivf_probes(embeddings, n_queries, n_cells, n_probe, dim, centroids)
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _exact_rerank(cand, embeddings, n_queries, k)


def _ivf_cells_ctes(n_cells: int, dim: int) -> str:
    """Shared DuckDB CTE chain ``base → simmed → cells`` re-deriving
    :func:`ivf_cells` (md5 centroids, argmax/first-match tie-break) — one
    definition so the ANN and SemDeDup oracles cannot drift."""

    def cent(c: int) -> str:
        return (
            f"list_transform(range(0, {dim}), d -> "
            f"CAST(('0x' || substr(md5('c{c}:' || d), 1, 8)) AS UBIGINT)::BIGINT"
            f" / 2147483648.0 - 1.0)"
        )

    sims = ", ".join(
        f"list_dot_product(v, {cent(c)})"
        f" / (nrm * sqrt(list_dot_product({cent(c)}, {cent(c)})))"
        for c in range(n_cells)
    )
    return f"""
    base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    simmed AS (SELECT vec_id, v, nrm, [{sims}] AS sims FROM base),
    cells AS (
        SELECT vec_id, list_position(sims, list_max(sims)) AS cell FROM simmed
    )"""


def ann_ivf_topk_sql(
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`ann_ivf_topk` (same md5-derived centroids)."""
    return f"""
    WITH {_ivf_cells_ctes(n_cells, dim)},
    qexp AS (
        SELECT s.vec_id AS query_id, t.c + 1 AS cell, s.sims[t.c + 1] AS sim
        FROM simmed s, range(0, {n_cells}) AS t(c)
        WHERE s.vec_id < {n_queries}
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT query_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, cell ASC) AS prank
            FROM qexp
        ) WHERE prank <= {n_probe}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, cl.vec_id
        FROM cells cl JOIN probes p ON cl.cell = p.cell
        WHERE cl.vec_id <> p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.vec_id AS neighbor_id,
               ROUND(list_dot_product(b.v, q.v) / (b.nrm * q.nrm), 6) AS cosine
        FROM cand c JOIN base b ON b.vec_id = c.vec_id
                    JOIN base q ON q.vec_id = c.query_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def dedup_embedding_cosine(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 32,
    n_bands: int = 4,
    dim: int = 64,
    max_bucket: int = MAX_KEY_DF,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family variant of
    ANN): candidates from the band-OR hyperplane LSH self-join — never a
    cross join — then exact cosine verification at ``threshold``.

    Approximate-candidate + exact-verify semantics: a qualifying pair is
    reported iff it shares ≥1 LSH band (standard near-dup practice; raise
    ``n_bands`` for recall).  The SQL oracle mirrors the same candidate rule,
    so results are value-exact.

    Scale guards (both mirrored in the oracle so values stay exact):

    * **wide bands** — 32 planes / 4 bands = 8 bits per band: a random pair
      shares a band with probability ≈ 1−(1−0.5⁸)⁴ ≈ 1.6% (vs ~68% at the
      old 2-bit bands), so the self-join fan-out is sparse by construction,
      while a true near-dup at cosine ≥ 0.9 (sign-agree ≈ 0.86) is caught
      with probability ≈ 1−(1−0.86⁸)⁴ ≈ 0.76;
    * **hot-bucket ceiling** — band buckets larger than ``max_bucket`` are
      dropped on both sides before the self-join (the ``dedup.py`` MinHash
      pattern): one degenerate bucket of B rows would otherwise emit O(B²)
      pairs, so total candidates stay ≤ N·bands·max_bucket — linear in N,
      never quadratic."""
    banded = lsh_bands(embeddings, n_planes, n_bands, dim)
    # anti-join the OVER-ceiling bands (tiny by construction: ≤ N·bands /
    # max_bucket entries, so AQE broadcasts it) rather than semi-joining the
    # near-complete under-ceiling set, which would shuffle the full banded
    # table a second time
    hot = (
        banded.groupBy("band_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("band_val")
    )
    banded = banded.join(hot, "band_val", "left_anti")
    a, c = banded.alias("a"), banded.alias("c")
    cand = (
        a.join(c, (F.col("a.band_val") == F.col("c.band_val"))
               & (F.col("a.vec_id") < F.col("c.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vecs = with_norm(embeddings).select("vec_id", "_v", "_norm")
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("_v").alias("_va"),
                     F.col("_norm").alias("_na"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("_v").alias("_vb"),
                     F.col("_norm").alias("_nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine", F.expr(f"round({_dot_expr('_va', '_vb')} / (_na * _nb), 6)")
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def dedup_embedding_cosine_sql(
    threshold: float = 0.9,
    n_planes: int = 32,
    n_bands: int = 4,
    dim: int = 64,
    max_bucket: int = MAX_KEY_DF,
) -> str:
    """DuckDB oracle for :func:`dedup_embedding_cosine` — same wide bands,
    same hot-bucket ceiling (band buckets > ``max_bucket`` dropped before
    the self-join), so results stay value-exact."""
    rows = n_planes // n_bands

    def plane(p: int) -> str:
        return (
            f"list_transform(range(0, {dim}), d -> "
            f"CAST(('0x' || substr(md5('{p}:' || d), 1, 8)) AS UBIGINT)::BIGINT"
            f" / 2147483648.0 - 1.0)"
        )

    bits = ", ".join(
        f"CASE WHEN list_dot_product(v, {plane(p)}) >= 0 THEN '1' ELSE '0' END AS bit_{p}"
        for p in range(n_planes)
    )
    sig = " || ".join(f"bit_{p}" for p in range(n_planes))
    return f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    bitted AS (SELECT vec_id, v, nrm, {bits} FROM base),
    sig AS (SELECT vec_id, v, nrm, {sig} AS sig FROM bitted),
    banded_all AS (
        SELECT vec_id, t.b AS band_no,
               substr(sig, t.b * {rows} + 1, {rows}) AS band_bits
        FROM sig, range(0, {n_bands}) AS t(b)
    ),
    small AS (
        SELECT band_no, band_bits FROM banded_all
        GROUP BY band_no, band_bits HAVING COUNT(*) <= {max_bucket}
    ),
    banded AS (
        SELECT b.* FROM banded_all b JOIN small USING (band_no, band_bits)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM banded a JOIN banded c
          ON a.band_no = c.band_no AND a.band_bits = c.band_bits
         AND a.vec_id < c.vec_id
    ),
    scored AS (
        SELECT cand.vec_a, cand.vec_b,
               ROUND(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cosine
        FROM cand JOIN sig sa ON sa.vec_id = cand.vec_a
                  JOIN sig sb ON sb.vec_id = cand.vec_b
    )
    SELECT vec_a, vec_b, cosine FROM scored
    WHERE cosine >= {threshold}
    ORDER BY vec_a, vec_b
    """


# ------------------------------------------------------------------ SemDeDup

def semantic_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
    dim: int = 64,
    max_cell: int = MAX_KEY_DF,
    cells: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    embedding near-duplicates searched ONLY within the same coarse-quantizer
    cell — the paper clusters with k-means and compares pairs inside each
    cluster; here the cells are the SAME deterministic IVF quantizer the ANN
    path uses (:func:`ivf_cells`), so at 100 TB the assignment is read from
    the persisted ``vec_index`` table (pass ``cells=``) instead of recomputed.

    Scale shape: each vector belongs to exactly ONE cell, so the self-join
    emits every qualifying pair exactly once — no band-OR fan-out, no
    ``dropDuplicates`` shuffle (the advantage over the LSH-banded
    :func:`dedup_embedding_cosine`); cells larger than ``max_cell`` are
    dropped on both engines before the join (the ``dedup.py`` ceiling
    pattern), so candidates stay ≤ N·max_cell — linear in N.  The contract
    is candidate-restricted like the paper's: a pair is reported iff it
    shares a cell AND exact cosine ≥ ``threshold``."""
    if cells is None:
        cells = ivf_cells(embeddings, n_cells, dim)
    hot = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cell)
        .select("cell")
    )
    small = cells.join(hot, "cell", "left_anti")
    a, c = small.alias("a"), small.alias("c")
    cand = a.join(
        c, (F.col("a.cell") == F.col("c.cell")) & (F.col("a.vec_id") < F.col("c.vec_id"))
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"))
    vecs = with_norm(embeddings).select("vec_id", "_v", "_norm")
    va = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("_v").alias("_va"), F.col("_norm").alias("_na")
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("_v").alias("_vb"), F.col("_norm").alias("_nb")
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine", F.expr(f"round({_dot_expr('_va', '_vb')} / (_na * _nb), 6)")
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def dedup_semantic(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
    dim: int = 64,
    max_cell: int = MAX_KEY_DF,
    cells: DataFrame | None = None,
) -> DataFrame:
    """The SemDeDup APPLY step: within every connected component of the
    :func:`semantic_pairs` graph keep exactly one vector (the minimum
    vec_id — transitive closure, because A~B and B~C must collapse to ONE
    keeper even when A~C was never emitted) and emit each dropped vector
    with its keeper.  Component labels come from the shared
    :func:`dedup.connected_components` min-label/pointer-jumping loop —
    label table bounded by *paired* vectors, ≪ corpus."""
    from .dedup import connected_components

    pairs = semantic_pairs(embeddings, threshold, n_cells, dim, max_cell, cells).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labs = connected_components(pairs)
    return (
        labs.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("keeper_id"))
        .orderBy("vec_id")
    )


def _semantic_pairs_ctes(
    threshold: float, n_cells: int, dim: int, max_cell: int
) -> str:
    """``… → pairs(doc_a, doc_b, cosine)`` CTE chain shared by the SemDeDup
    oracles (column names chosen to plug into ``dedup._CLOSURE_CTES``)."""
    return f"""{_ivf_cells_ctes(n_cells, dim)},
    small AS (
        SELECT cell FROM cells GROUP BY cell HAVING COUNT(*) <= {max_cell}
    ),
    cc AS (SELECT cl.* FROM cells cl JOIN small USING (cell)),
    scored AS (
        SELECT a.vec_id AS doc_a, c.vec_id AS doc_b,
               ROUND(list_dot_product(ba.v, bb.v) / (ba.nrm * bb.nrm), 6) AS cosine
        FROM cc a JOIN cc c ON a.cell = c.cell AND a.vec_id < c.vec_id
                  JOIN base ba ON ba.vec_id = a.vec_id
                  JOIN base bb ON bb.vec_id = c.vec_id
    ),
    pairs AS (SELECT * FROM scored WHERE cosine >= {threshold})"""


def semantic_pairs_sql(
    threshold: float = 0.9,
    n_cells: int = 16,
    dim: int = 64,
    max_cell: int = MAX_KEY_DF,
) -> str:
    """DuckDB oracle for :func:`semantic_pairs` — same md5 quantizer cells,
    same ceiling, same exact-cosine verify."""
    return f"""
    WITH {_semantic_pairs_ctes(threshold, n_cells, dim, max_cell)}
    SELECT doc_a AS vec_a, doc_b AS vec_b, cosine
    FROM pairs ORDER BY vec_a, vec_b
    """


def dedup_semantic_sql(
    threshold: float = 0.9,
    n_cells: int = 16,
    dim: int = 64,
    max_cell: int = MAX_KEY_DF,
) -> str:
    """DuckDB oracle for :func:`dedup_semantic`: the same pair CTEs, then the
    shared transitive-closure chain (``dedup._CLOSURE_CTES``)."""
    from .dedup import _CLOSURE_CTES

    return f"""
    WITH RECURSIVE {_semantic_pairs_ctes(threshold, n_cells, dim, max_cell)},
    {_CLOSURE_CTES}
    SELECT doc_id AS vec_id, cluster_id AS keeper_id
    FROM lab WHERE doc_id <> cluster_id
    ORDER BY vec_id
    """


def ann_lsh_topk_sql(
    n_queries: int = 5,
    k: int = 5,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`ann_lsh_topk` — the hyperplanes are md5-hash
    functions of (plane, dim), so the whole ANN path is SQL-expressible."""
    rows = n_planes // n_bands

    def plane(p: int) -> str:
        return (
            f"list_transform(range(0, {dim}), d -> "
            f"CAST(('0x' || substr(md5('{p}:' || d), 1, 8)) AS UBIGINT)::BIGINT"
            f" / 2147483648.0 - 1.0)"
        )

    bits = ", ".join(
        f"CASE WHEN list_dot_product(v, {plane(p)}) >= 0 THEN '1' ELSE '0' END AS bit_{p}"
        for p in range(n_planes)
    )
    sig = " || ".join(f"bit_{p}" for p in range(n_planes))
    band_or = " OR ".join(
        f"substr(b.sig, {b * rows + 1}, {rows}) = substr(q.qsig, {b * rows + 1}, {rows})"
        for b in range(n_bands)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    bitted AS (SELECT vec_id, v, nrm, {bits} FROM base),
    sig AS (SELECT vec_id, v, nrm, {sig} AS sig FROM bitted),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, sig AS qsig
          FROM sig WHERE vec_id < {n_queries}),
    cand AS (
        SELECT DISTINCT q.query_id, b.vec_id
        FROM sig b JOIN q ON b.vec_id <> q.query_id AND ({band_or})
    ),
    scored AS (
        SELECT c.query_id, c.vec_id AS neighbor_id,
               ROUND(list_dot_product(b.v, q.qv) / (b.nrm * q.qn), 6) AS cosine
        FROM cand c JOIN sig b ON b.vec_id = c.vec_id
                    JOIN q ON q.query_id = c.query_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


# -------------------------------------------------------- product quantization

PQ_M = 8        # subspaces
PQ_KSUB = 16    # centroids per subspace → codes are m × log2(ksub)/8 = 4 bytes


def _pq_cent_vals(j: int, c: int, dsub: int) -> list[float]:
    """Centroid c of subspace j: component d = h32(f"pq{j}:{c}:{d}")/2³¹ − 1 —
    the same portable-hash construction as the LSH planes / IVF centroids,
    so the full PQ pipeline is DuckDB-expressible.

    Components are precomputed driver-side as Python doubles: n/2³¹ only
    shifts the exponent and the final subtraction is exact, so these are
    bit-identical to the symbolic md5 expressions the DuckDB oracle still
    evaluates — while keeping the Catalyst tree two orders of magnitude
    smaller (the fully-symbolic form compiled to 2 MiB task binaries and
    minutes of planning time for 500 rows)."""
    vals = []
    for d in range(dsub):
        n = int(hashlib.md5(f"pq{j}:{c}:{d}".encode()).hexdigest()[:8], 16)
        vals.append(n / float(1 << 31) - 1.0)
    return vals


def _pq_book_vals(
    j: int, c: int, dsub: int, codebooks: list | None = None
) -> list[float]:
    """Centroid c of subspace j: trained values when ``codebooks`` is given
    (vec_index.train_pq_codebooks), md5-derived otherwise."""
    if codebooks is not None:
        return [float(x) for x in codebooks[j][c]]
    return _pq_cent_vals(j, c, dsub)


def _pq_cnorm(j: int, c: int, dsub: int, codebooks: list | None = None) -> float:
    """‖c‖² via the same sequential left fold both engines use for dots."""
    acc = 0.0
    for v in _pq_book_vals(j, c, dsub, codebooks):
        acc = acc + v * v
    return acc


def _pq_cents_j(j: int, dsub: int, ksub: int, codebooks: list | None = None):
    """All ksub centroids of subspace j as one nested literal array —
    letting score computation be a single ``zip_with`` per subspace instead
    of ksub unrolled folds (16× fewer Catalyst nodes, same arithmetic)."""
    return F.array(
        *[
            F.array(*[F.lit(v) for v in _pq_book_vals(j, c, dsub, codebooks)])
            for c in range(ksub)
        ]
    )


def _pq_cnorms_j(j: int, dsub: int, ksub: int, codebooks: list | None = None):
    return F.array(*[F.lit(_pq_cnorm(j, c, dsub, codebooks)) for c in range(ksub)])


def pq_codes(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    codebooks: list | None = None,
) -> DataFrame:
    """(vec_id, codes array<int>) — product-quantization codes: each vector
    splits into ``m`` subvectors and each subvector stores only the id
    (1-based) of its nearest subspace centroid.

    THE memory move at 100 TB: 64 float32 dims (256 B) become ``m`` 4-bit
    codes (4 B here; byte-sized codes at ksub=256) — a 32–64× shrink that
    lets the whole corpus's codes sit in executor memory for ADC scans,
    with the uncompressed vectors read only to re-rank a shortlist.

    Assignment is argmin-L2 per subspace, computed as
    ``‖c‖² − 2⟨x_j, c⟩`` (the ``‖x_j‖²`` term is constant per subspace so
    the argmin is unchanged) — both dot products run as sequential left
    folds, bit-compatible with DuckDB's ``list_dot_product``; ties break to
    the smallest centroid id (first match, both engines).

    ``codebooks`` (``[m][ksub][dsub]`` floats, from
    ``vec_index.train_pq_codebooks``) replaces the md5 codebooks; the
    oracle covers the default."""
    # Vectorized Arrow kernel (guide §4.2; see lsh_band_array's note): per
    # subspace the ksub scores ``‖c‖² − 2⟨x_j,c⟩`` come from one numpy
    # column-accumulation with the `_dot_expr` fold's exact IEEE sequence;
    # argmin takes the FIRST minimum (numpy argmin ≡ array_position of
    # array_min), codes stay 1-based.
    dsub = dim // m
    books = [
        [_pq_book_vals(j, c, dsub, codebooks) for c in range(ksub)]
        for j in range(m)
    ]
    bnorms = [
        [_pq_cnorm(j, c, dsub, codebooks) for c in range(ksub)]
        for j in range(m)
    ]

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        B = np.array(books)  # (m, ksub, dsub)
        N2 = np.array(bnorms)  # (m, ksub)
        for vec_ids, V, bad in _emb_batches(batches, dim):
            n = len(vec_ids)
            codes = np.zeros((n, m), dtype=np.int64)
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                scores = N2[j][None, :] - 2.0 * _np_seq_dots(sub, B[j])
                # Spark ranks NaN GREATEST (and NaN = NaN holds inside
                # array functions), so array_min skips NaNs and an all-NaN
                # row resolves to position 1; substituting +inf reproduces
                # both cases under np.argmin's first-match rule
                scores = np.where(np.isnan(scores), np.inf, scores)
                codes[:, j] = np.argmin(scores, axis=1) + 1
            null_row = [None] * m
            out = [
                null_row if bad[i] else codes[i].tolist() for i in range(n)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(out, type=pa.list_(pa.int32())),
                ],
                names=["vec_id", "codes"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        fn, "vec_id long, codes array<int>"
    )


def pq_codes_str(
    embeddings: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64
) -> DataFrame:
    """Driver-gate projection of :func:`pq_codes`: codes as a '-'-joined
    string (portable value hashing), ordered by vec_id."""
    return (
        pq_codes(embeddings, m, ksub, dim)
        .select("vec_id", F.array_join(F.col("codes"), "-").alias("code_str"))
        .orderBy("vec_id")
    )


def pq_query_luts(
    embeddings: DataFrame,
    n_queries: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    codebooks: list | None = None,
) -> DataFrame:
    """(query_id, _lut array<array<double>>) — each query's per-subspace ADC
    lookup table, ``lut[j][c] = ‖q_j − c‖²``, computed over ONLY the query
    rows (``vec_id < n_queries``).  Tiny (n_queries × m × ksub doubles) —
    always broadcast by callers."""
    # Arrow kernel like pq_codes: lut[j][c] = ⟨q_j,q_j⟩ − 2⟨q_j,c⟩ + ‖c‖²,
    # each dot the sequential fold, the three terms combined in the same
    # operation order as the old JVM expression.
    dsub = dim // m
    books = [
        [_pq_book_vals(j, c, dsub, codebooks) for c in range(ksub)]
        for j in range(m)
    ]
    bnorms = [
        [_pq_cnorm(j, c, dsub, codebooks) for c in range(ksub)]
        for j in range(m)
    ]
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        B = np.array(books)  # (m, ksub, dsub)
        N2 = np.array(bnorms)  # (m, ksub)
        for vec_ids, V, bad in _emb_batches(batches, dim):
            n = len(vec_ids)
            luts = np.zeros((n, m, ksub))
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                qq = _np_seq_sqnorm(sub)
                luts[:, j, :] = (
                    qq[:, None] - 2.0 * _np_seq_dots(sub, B[j])
                ) + N2[j][None, :]
            null_row = [[None] * ksub] * m
            out = [
                null_row if bad[i] else luts[i].tolist() for i in range(n)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(out, type=pa.list_(pa.list_(pa.float64()))),
                ],
                names=["query_id", "_lut"],
            )

    return q.mapInArrow(fn, "query_id long, _lut array<array<double>>")


def pq_mse(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    codebooks: list | None = None,
) -> float:
    """Mean squared quantization error ``E‖x − decode(code(x))‖²`` — the
    k-means objective the trained codebooks minimize.  Per subspace the
    assigned centroid's score is ``‖c‖² − 2⟨x_j,c⟩``, so the error
    contribution is ``min(scores_j) + ‖x_j‖²`` (no decode needed)."""
    dsub = dim // m
    # the literal centroid tables are bound as columns so the per-subspace
    # score fold can be one SQL string that names them
    base = embeddings.select(
        F.expr(f"{_as_double_expr('embedding')} AS _v"),
        *[_pq_cnorms_j(j, dsub, ksub, codebooks).alias(f"_cn{j}") for j in range(m)],
        *[_pq_cents_j(j, dsub, ksub, codebooks).alias(f"_ce{j}") for j in range(m)],
    )
    terms = []
    for j in range(m):
        sub = f"slice(_v, {j * dsub + 1}, {dsub})"
        terms.append(
            f"(array_min(zip_with(_cn{j}, _ce{j}, "
            f"(_n, _c) -> _n - 2.0D * {_dot_expr(sub, '_c')})) + {_dot_expr(sub, sub)})"
        )
    return base.selectExpr(f"avg({' + '.join(terms)}) AS mse").collect()[0]["mse"]


def _adc_col(m: int):
    """ADC distance from in-scope ``_lut``/``codes`` columns: a left-assoc
    + chain over the m subspace terms — identical association in the SQL
    oracles, so the double sums are bit-compatible."""
    adc = F.element_at(F.element_at("_lut", 1), F.element_at("codes", 1))
    for j in range(1, m):
        adc = adc + F.element_at(
            F.element_at("_lut", j + 1), F.element_at("codes", j + 1)
        )
    return adc


def ann_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): queries stay uncompressed; every
    candidate's distance is approximated from its codes alone via the
    query's per-subspace lookup table — ``adc = Σ_j lut[j][code_j]`` with
    ``lut[j][c] = ‖q_j − c‖²``.

    Scale plan: the LUT side is ``n_queries × m × ksub`` doubles —
    broadcast; the code table is the only scanned input (the 32× shrink is
    what makes an exhaustive scan of 10⁹ codes memory-resident), and the
    join never touches the uncompressed base vectors.  A production
    pipeline composes this with IVF (scan only probed cells' codes) and an
    exact re-rank of the shortlist; here the ADC ranking itself is the
    contract so the oracle can check it value-for-value.

    Output ranks by ``round(adc, 6)`` ascending, vec_id tie-break."""
    codes = pq_codes(embeddings, m, ksub, dim)
    qlut = pq_query_luts(embeddings, n_queries, m, ksub, dim)
    scored = (
        codes.join(F.broadcast(qlut), F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_adc_col(m), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def _pq_cent_sql(j: int, c: int, dsub: int) -> str:
    return (
        f"list_transform(range(0, {dsub}), d -> "
        f"CAST(('0x' || substr(md5('pq{j}:{c}:' || d), 1, 8)) AS UBIGINT)::BIGINT"
        f" / 2147483648.0 - 1.0)"
    )


def _pq_codes_list_sql(m: int, ksub: int, dim: int, var: str = "v") -> str:
    """``[code_0, …, code_{m-1}]`` — the PQ code list over a DOUBLE[] column
    ``var`` (same argmin/tie-break as :func:`pq_codes`)."""
    dsub = dim // m
    code_exprs = []
    for j in range(m):
        sub = f"{var}[{j * dsub + 1}:{(j + 1) * dsub}]"
        scores = ", ".join(
            f"list_dot_product({_pq_cent_sql(j, c, dsub)}, {_pq_cent_sql(j, c, dsub)})"
            f" - 2.0 * list_dot_product({sub}, {_pq_cent_sql(j, c, dsub)})"
            for c in range(ksub)
        )
        code_exprs.append(
            f"list_position([{scores}], list_min([{scores}]))::INT"
        )
    return "[" + ", ".join(code_exprs) + "]"


def _pq_lut_list_sql(m: int, ksub: int, dim: int, var: str = "v") -> str:
    """``[lut_0, …, lut_{m-1}]`` — the per-subspace ADC lookup tables over a
    DOUBLE[] query column ``var`` (same algebra as :func:`pq_query_luts`)."""
    dsub = dim // m
    return ", ".join(
        "["
        + ", ".join(
            f"list_dot_product({var}[{j * dsub + 1}:{(j + 1) * dsub}],"
            f" {var}[{j * dsub + 1}:{(j + 1) * dsub}])"
            f" - 2.0 * list_dot_product({var}[{j * dsub + 1}:{(j + 1) * dsub}],"
            f" {_pq_cent_sql(j, c, dsub)})"
            f" + list_dot_product({_pq_cent_sql(j, c, dsub)}, {_pq_cent_sql(j, c, dsub)})"
            for c in range(ksub)
        )
        + "]"
        for j in range(m)
    )


def _pq_codes_cte(m: int, ksub: int, dim: int) -> str:
    codes = _pq_codes_list_sql(m, ksub, dim)
    return f"""
    base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS (SELECT vec_id, {codes} AS codes FROM base)
    """


def pq_codes_sql(m: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64) -> str:
    """DuckDB oracle for :func:`pq_codes_str` (same centroids, same
    argmin/tie-break)."""
    return (
        "WITH " + _pq_codes_cte(m, ksub, dim)
        + """
    SELECT vec_id, array_to_string(codes, '-') AS code_str
    FROM codes ORDER BY vec_id
    """
    )


def ann_pq_topk_sql(
    n_queries: int = 5,
    k: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`ann_pq_topk` — same centroids, same LUT
    algebra, same left-assoc ADC sum."""
    lut_arrays = _pq_lut_list_sql(m, ksub, dim)
    adc = " + ".join(f"q.lut[{j + 1}][c.codes[{j + 1}]]" for j in range(m))
    return (
        "WITH " + _pq_codes_cte(m, ksub, dim)
        + f""",
    q AS (SELECT vec_id AS query_id, [{lut_arrays}] AS lut
          FROM base WHERE vec_id < {n_queries}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROUND({adc}, 6) AS adc_dist
        FROM codes c JOIN q ON c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def ann_ivfpq_topk_sql(
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    shortlist: int = 50,
) -> str:
    """DuckDB oracle for :func:`vec_index.ann_ivfpq_topk_indexed` — the full
    composed pipeline (IVF probe → ADC over PQ codes → shortlist → exact
    re-rank), value-for-value: same md5 coarse centroids and probe rule as
    :func:`ann_ivf_topk_sql`, same PQ codes/LUT algebra as
    :func:`ann_pq_topk_sql`, deterministic shortlist cut
    (adc asc, vec_id asc)."""

    def cent(c: int) -> str:
        return (
            f"list_transform(range(0, {dim}), d -> "
            f"CAST(('0x' || substr(md5('c{c}:' || d), 1, 8)) AS UBIGINT)::BIGINT"
            f" / 2147483648.0 - 1.0)"
        )

    sims = ", ".join(
        f"list_dot_product(v, {cent(c)})"
        f" / (nrm * sqrt(list_dot_product({cent(c)}, {cent(c)})))"
        for c in range(n_cells)
    )
    codes_list = _pq_codes_list_sql(m, ksub, dim)
    lut_arrays = _pq_lut_list_sql(m, ksub, dim)
    adc = " + ".join(f"q.lut[{j + 1}][cand.codes[{j + 1}]]" for j in range(m))
    return f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    simmed AS (SELECT vec_id, v, nrm, [{sims}] AS sims FROM base),
    cells AS (
        SELECT vec_id, list_position(sims, list_max(sims)) AS cell FROM simmed
    ),
    qexp AS (
        SELECT s.vec_id AS query_id, t.c + 1 AS cell, s.sims[t.c + 1] AS sim
        FROM simmed s, range(0, {n_cells}) AS t(c)
        WHERE s.vec_id < {n_queries}
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT query_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, cell ASC) AS prank
            FROM qexp
        ) WHERE prank <= {n_probe}
    ),
    codes AS (SELECT vec_id, {codes_list} AS codes FROM base),
    q AS (SELECT vec_id AS query_id, [{lut_arrays}] AS lut
          FROM base WHERE vec_id < {n_queries}),
    cand AS (
        SELECT p.query_id, cl.vec_id, c.codes
        FROM cells cl JOIN probes p ON cl.cell = p.cell
                      JOIN codes c ON c.vec_id = cl.vec_id
        WHERE cl.vec_id <> p.query_id
    ),
    adc AS (
        SELECT cand.query_id, cand.vec_id, ROUND({adc}, 6) AS adc_dist
        FROM cand JOIN q ON q.query_id = cand.query_id
    ),
    short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist ASC, vec_id ASC) AS srank
            FROM adc
        ) WHERE srank <= {shortlist}
    ),
    scored AS (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               ROUND(list_dot_product(b.v, qq.v) / (b.nrm * qq.nrm), 6) AS cosine
        FROM short s JOIN base b ON b.vec_id = s.vec_id
                     JOIN base qq ON qq.vec_id = s.query_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """
