"""Persisted ANN index over an embedding corpus (lake-table state).

The on-the-fly ANN paths (``similarity.ann_lsh_topk`` /
``similarity.ann_ivf_topk``) recompute every vector's index state — LSH
band values and IVF coarse-cell assignment — from scratch on each call.
Invisible at test scale; at 100 TB that recompute IS a full corpus scan
per query.  This module makes the index a first-class table:

* :func:`build_vec_index` — ONE pass over the embeddings computes
  ``(vec_id, cell, bands)`` and MERGEs it into a snapshot-versioned
  :class:`~linked_maps_spark.lakehouse.LakeTable` keyed by ``vec_id`` —
  the same COW/manifest machinery the CDC tables use, so the index is
  incrementally maintainable (upsert just the new/changed vectors) and
  time-travelable.  Index parameters (and trained centroids, below) ride
  in the snapshot summary, so a reader needs no side-channel state.
* :func:`ann_ivf_topk_indexed` / :func:`ann_lsh_topk_indexed` — answer
  top-k reading cells/bands FROM the index table: the heavy
  centroid/hyperplane expressions run over only the ``n_queries`` query
  rows, the corpus side is a parquet scan of the index plus an equi-join,
  and the exact re-rank touches only candidate ``vec_id``s.
* :func:`train_centroids` — seeded deterministic k-means (fixed Lloyd
  iteration count, md5-derived init — the fixed-centroid path is its
  iteration-zero) for a data-dependent quantizer; recall beats the fixed
  random directions on clustered corpora while staying reproducible.
  The md5-centroid path remains the oracle-checkable default (the
  reference has no ANN at all — SURVEY brief gap, not reference parity).

Cell assignment / banding definitions are IMPORTED from similarity.py
(``ivf_cells`` / ``lsh_band_array``), so the indexed and recompute paths
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .lakehouse import LakeTable
from .similarity import (
    PQ_KSUB,
    PQ_M,
    _adc_col,
    _exact_rerank,
    ivf_cells,
    ivf_probes,
    lsh_band_array,
    lsh_bands,
    md5_centroid,
    pq_codes,
    pq_query_luts,
    with_norm,
)

VEC_INDEX_SCHEMA = "vec_id long, cell int, bands array<string>, codes array<int>"


def train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    iters: int = 5,
    decimals: int = 6,
) -> list[list[float]]:
    """Seeded deterministic spherical k-means for the IVF quantizer.

    * init: the md5-derived fixed directions (``similarity.md5_centroid``)
      — no RNG state, identical everywhere;
    * ``iters`` Lloyd rounds: assignment is a JVM-expression Spark job
      (argmax cosine, the exact :func:`similarity.ivf_cells` rule with the
      current centroids), the per-cell mean is a groupBy over the
      posexploded components (k·dim doubles to the driver — tiny);
    * determinism: float summation order varies across partitionings, so
      each round's means are rounded to ``decimals`` decimals — at any
      realistic scale the partition-order jitter is ~1e-12, far below the
      rounding grain, so repeated runs produce bit-identical centroids;
    * an emptied cell keeps its previous centroid (classic k-means fix).
    """
    cents = [md5_centroid(c, dim) for c in range(n_cells)]
    for _ in range(iters):
        assigned = ivf_cells(embeddings, n_cells, dim, centroids=cents)
        comp = (
            assigned.join(with_norm(embeddings).select("vec_id", "_v"), "vec_id")
            .select("cell", F.posexplode(F.col("_v")).alias("d", "x"))
            .groupBy("cell", "d")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        means: dict[int, list[float]] = {}
        for r in comp:
            means.setdefault(int(r["cell"]) - 1, [0.0] * dim)[int(r["d"])] = r["m"]
        cents = [
            [round(x, decimals) for x in means[c]] if c in means else cents[c]
            for c in range(n_cells)
        ]
    return cents


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    iters: int = 5,
    decimals: int = 6,
) -> list[list[list[float]]]:
    """Seeded deterministic per-subspace k-means for the PQ quantizer
    (``[m][ksub][dsub]`` floats) — the same recipe as
    :func:`train_centroids`: md5-codebook init (no RNG), Lloyd rounds
    whose assignment step is the exact :func:`similarity.pq_codes` rule
    with the current books, per-(subspace, code) means rounded to
    ``decimals`` so float partition-order jitter cannot break run-to-run
    determinism, empty codes keep their previous centroid.

    One Spark job per round: codes for all m subspaces at once, then one
    posexplode + groupBy over the subvector components (``m·ksub·dsub``
    doubles to the driver — tiny)."""
    from .similarity import _as_double_expr, _pq_book_vals, pq_codes

    dsub = dim // m
    books = [
        [_pq_book_vals(j, c, dsub) for c in range(ksub)] for j in range(m)
    ]
    base = embeddings.select(
        "vec_id", F.expr(f"{_as_double_expr('embedding')} AS _v")
    )
    for _ in range(iters):
        codes = pq_codes(embeddings, m, ksub, dim, codebooks=books)
        subs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.element_at("codes", j + 1).alias("c"),
                    F.slice("_v", j * dsub + 1, dsub).alias("sub"),
                )
                for j in range(m)
            ]
        )
        comp = (
            base.join(codes, "vec_id")
            .select(F.explode(subs).alias("s"))
            .select("s.j", "s.c", F.posexplode("s.sub").alias("d", "x"))
            .groupBy("j", "c", "d")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        means: dict[tuple[int, int], list[float]] = {}
        for r in comp:
            means.setdefault((int(r["j"]), int(r["c"]) - 1), [0.0] * dsub)[
                int(r["d"])
            ] = r["mean"]
        books = [
            [
                [round(x, decimals) for x in means[(j, c)]]
                if (j, c) in means
                else books[j][c]
                for c in range(ksub)
            ]
            for j in range(m)
        ]
    return books


def build_vec_index(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int = 64,
    trained: "bool | None" = None,
    train_iters: int = 5,
    n_buckets: int = 16,
    overwrite: bool = False,
    pq_m: int = PQ_M,
    pq_ksub: int = PQ_KSUB,
) -> LakeTable:
    """Compute per-vector index state once and MERGE it into a LakeTable.

    Pass the full corpus on first build, then only the delta on refresh —
    ``merge_upsert`` on ``vec_id`` rewrites just the touched buckets (the
    incremental-maintenance path a 100 TB corpus needs; a full rebuild per
    new batch would be a full scan).  ``trained=None`` (the default)
    resolves to TRAINED for a fresh build — a data-trained quantizer is
    the production posture; the round-4 bench measured md5-codebook
    composed IVF+PQ at recall 0.155 vs 0.35+ trained — and to the STORED
    quantizer for a delta-merge (mixing quantizers in one table is never
    allowed; an explicit ``trained=`` that contradicts the stored one
    raises).  ``trained=True`` runs seeded-deterministic k-means for the
    IVF cells
    (:func:`train_centroids`) and per-subspace PQ codebooks
    (:func:`train_pq_codebooks`); both persist in the snapshot summary so
    queries (and later delta-merges) reuse them without retraining.
    ``trained=False`` keeps the data-independent md5 quantizer — the
    engine-independent definition the DuckDB value oracles can replay."""
    exists = False
    try:
        t = LakeTable.load(spark, path)
        exists = not overwrite
    except FileNotFoundError:
        pass
    if exists:
        cents = t.latest_summary_value("centroids")
        books = t.latest_summary_value("pq_codebooks")
        params = {
            k: t.latest_summary_value(k)
            for k in ("n_cells", "n_planes", "n_bands", "dim")
        }
        # pre-PQ index tables: fall back to the defaults (merge_upsert's
        # schema evolution NULL-fills the codes column for old rows)
        params["pq_m"] = t.latest_summary_value("pq_m") or pq_m
        params["pq_ksub"] = t.latest_summary_value("pq_ksub") or pq_ksub
        # a delta-merge MUST use the stored quantizer: silently accepting a
        # different geometry (or an explicit trained= that contradicts the
        # stored one) would mix incompatible cell/band/code spaces in one
        # table; trained=None follows the table
        asked = {"n_cells": n_cells, "n_planes": n_planes,
                 "n_bands": n_bands, "dim": dim,
                 "pq_m": pq_m, "pq_ksub": pq_ksub}
        drift = {k: (v, params[k]) for k, v in asked.items()
                 if params[k] is not None and params[k] != v}
        if trained is True and cents is None:
            drift["trained"] = (True, False)
        if trained is False and cents is not None:
            drift["trained"] = (False, True)
        if drift:
            raise ValueError(
                f"vec_index at {path} was built with different parameters "
                f"({drift}); pass overwrite=True to rebuild the index"
            )
    else:
        if trained is None:
            trained = True  # fresh build: trained is the production default
        t = LakeTable.create(
            spark, path, VEC_INDEX_SCHEMA, key_cols=["vec_id"],
            n_buckets=n_buckets, overwrite=overwrite,
        )
        cents = (
            [[float(x) for x in c] for c in train_centroids(
                embeddings, n_cells, dim, iters=train_iters)]
            if trained else None
        )
        books = (
            train_pq_codebooks(embeddings, pq_m, pq_ksub, dim, iters=train_iters)
            if trained else None
        )
        params = {"n_cells": n_cells, "n_planes": n_planes,
                  "n_bands": n_bands, "dim": dim,
                  "pq_m": pq_m, "pq_ksub": pq_ksub}
    src = ivf_cells(
        embeddings, params["n_cells"], params["dim"], centroids=cents
    ).join(
        lsh_band_array(embeddings, params["n_planes"], params["n_bands"], params["dim"]),
        "vec_id",
    ).join(
        pq_codes(
            embeddings, params["pq_m"], params["pq_ksub"], params["dim"],
            codebooks=books,
        ),
        "vec_id",
    )
    t.merge_upsert(
        src, assume_unique=True,
        summary={**params, "centroids": cents, "pq_codebooks": books,
                 "op": "vec-index-build"},
    )
    return t


def _index_params(index: LakeTable) -> dict:
    return {
        "n_cells": index.latest_summary_value("n_cells"),
        "n_planes": index.latest_summary_value("n_planes"),
        "n_bands": index.latest_summary_value("n_bands"),
        "dim": index.latest_summary_value("dim"),
        "centroids": index.latest_summary_value("centroids"),
        "pq_m": index.latest_summary_value("pq_m"),
        "pq_ksub": index.latest_summary_value("pq_ksub"),
        "pq_codebooks": index.latest_summary_value("pq_codebooks"),
    }


def ann_ivf_topk_indexed(
    embeddings: DataFrame,
    index: LakeTable,
    n_queries: int = 5,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k answered FROM the persisted index.

    Plan shape (the point of the index): centroid similarities are computed
    for ONLY the query vectors (``ivf_probes`` filters ``vec_id <
    n_queries`` before the expression); corpus cells come from the index
    table's parquet scan; candidates are the ``cell`` equi-join against the
    broadcast probe set; exact re-rank joins the embeddings by candidate
    ``vec_id``.  No full-corpus centroid math anywhere in the plan."""
    p = _index_params(index)
    probes = ivf_probes(
        embeddings, n_queries, p["n_cells"], n_probe, p["dim"],
        centroids=p["centroids"],
    )
    cand = (
        index.read().select("vec_id", "cell")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _exact_rerank(cand, embeddings, n_queries, k)


def ann_lsh_topk_indexed(
    embeddings: DataFrame,
    index: LakeTable,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """LSH band-OR top-k answered FROM the persisted index: query bands are
    computed over only the query rows; corpus bands explode off the index
    table's ``bands`` column."""
    p = _index_params(index)
    qb = lsh_bands(
        embeddings.filter(F.col("vec_id") < n_queries),
        p["n_planes"], p["n_bands"], p["dim"],
    ).select(F.col("vec_id").alias("query_id"), "band_val")
    banded = index.read().select(
        "vec_id", F.explode(F.col("bands")).alias("band_val")
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


def ann_ivfpq_topk_indexed(
    embeddings: DataFrame,
    index: LakeTable,
    n_queries: int = 5,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 200,
) -> DataFrame:
    """IVF+PQ top-k FROM the persisted index — the production ANN shape.

    Default ``shortlist=200``: the ADC ranking is 4 B/vector approximate,
    and a 50-deep shortlist at k=10 left defaults near-random on hard
    (i.i.d.-Gaussian) corpora (round-4 bench: recall 0.155); 200 costs the
    exact re-rank only n_queries × 200 vector reads and, together with the
    trained-by-default index build, holds the recall floor pinned in
    ``test_composed_defaults_recall_floor``.

    Plan: the query side computes its probe cells and ADC lookup tables over
    ONLY the ``n_queries`` rows (both broadcast); the corpus side is a
    parquet scan of the index table's ``(vec_id, cell, codes)`` — probed
    cells select candidates by ``cell`` equi-join, the PQ asymmetric
    distance ranks them from codes alone (4 B/vector — the uncompressed
    corpus never enters this join), and only the per-query ``shortlist``
    survivors are re-ranked by exact cosine against the embeddings table.
    At 100 TB: probe fraction ≈ n_probe/n_cells of the code scan, exact
    reads ≈ n_queries × shortlist vectors.

    Deterministic end-to-end (adc asc, vec_id asc shortlist cut; cosine
    desc, vec_id asc final rank), so the whole composition is value-oracled
    by :func:`similarity.ann_ivfpq_topk_sql`."""
    p = _index_params(index)
    probes = ivf_probes(
        embeddings, n_queries, p["n_cells"], n_probe, p["dim"],
        centroids=p["centroids"],
    )
    qlut = pq_query_luts(
        embeddings, n_queries, p["pq_m"], p["pq_ksub"], p["dim"],
        codebooks=p["pq_codebooks"],
    )
    cand = (
        index.read().select("vec_id", "cell", "codes")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    adc = (
        cand.join(F.broadcast(qlut), "query_id")
        .withColumn("adc_dist", F.round(_adc_col(p["pq_m"]), 6))
    )
    wsl = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    short = (
        adc.withColumn("srank", F.row_number().over(wsl))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", "vec_id")
    )
    return _exact_rerank(short, embeddings, n_queries, k)


_DRIVER_IDX: dict[str, LakeTable] = {}


def driver_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: build (once per process per scale) the vec
    index for ``sf_dir``'s embeddings in a scratch warehouse and answer the
    canonical ANN query FROM it.  Oracle: ``similarity.ann_ivf_topk_sql`` —
    the indexed path is value-identical to the recompute path because both
    read the same ``ivf_cells`` definition."""
    emb, idx = _driver_index(spark, sf_dir)
    return ann_ivf_topk_indexed(emb, idx, n_queries=5, k=5)


def driver_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the LSH band-OR ANN query answered from the
    same persisted index (oracle: ``similarity.ann_lsh_topk_sql``)."""
    emb, idx = _driver_index(spark, sf_dir)
    return ann_lsh_topk_indexed(emb, idx, n_queries=5, k=5)


def driver_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: IVF+PQ ADC top-k answered from the shared
    persisted index (oracle: ``similarity.ann_ivfpq_topk_sql`` — the full
    probe → ADC shortlist → exact re-rank composition, value-for-value)."""
    emb, idx = _driver_index(spark, sf_dir)
    return ann_ivfpq_topk_indexed(emb, idx, n_queries=5, k=5, shortlist=200)


def _driver_index(spark: SparkSession, sf_dir: str):
    import os

    from .util import scratch_root

    key = os.path.basename(os.path.normpath(sf_dir))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    if key not in _DRIVER_IDX:
        p = os.path.join(scratch_root(), f"lms_vec_index_{key}")
        # trained=False HERE ONLY: the correctness gate needs the
        # engine-independent md5 quantizer so DuckDB can replay the exact
        # cell/code definitions; the trained production default is covered
        # by the recall-floor pytest on the clustered fixture instead
        _DRIVER_IDX[key] = build_vec_index(
            spark, emb, p, overwrite=True, trained=False
        )
    return emb, _DRIVER_IDX[key]
