"""Persisted MinHash dedup index + incremental dedup against the corpus.

The batch family in :mod:`dedup` recomputes shingles and signatures over the
whole corpus every call — right for one-shot jobs, wrong for the production
cadence where a new crawl batch must be deduplicated against 100 TB of
already-ingested documents.  This module persists the per-document MinHash
state ONCE in a snapshot-versioned :class:`~.lakehouse.LakeTable` (the same
machinery as the CDC tables and the ANN ``vec_index``) and answers
incremental queries from it:

* **Index build/refresh** — ``(doc_id, sig, bands)``; first build scans the
  corpus once, later builds pass only the delta and ``merge_upsert`` rewrites
  just the touched buckets.
* **Incremental query** — candidates between a NEW batch and the indexed
  corpus come from an equi-join of the batch's band values against the
  index's ``bands`` (a parquet scan — the corpus never re-shingles);
  new×new pairs use the same banded self-join as the batch operator.  The
  hot-bucket ceiling counts over the union of both sides, so the result is
  *exactly* the batch operator's pairs restricted to those touching a new
  document (tested, and value-oracled in DuckDB by the same restriction).

Portable hashing throughout (`dedup.h32_expr`), so the whole incremental pipeline
keeps a full value oracle.

Reference analog: none (the reference dedups nothing); this is the
SURVEY-brief LLM-pipeline surface at its production shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import (
    LSH_BANDS,
    MAX_KEY_DF,
    MINHASH_PERMS,
    h32_sql,
    minhash_signature,
    word_shingles_sql,
)
from .lakehouse import LakeTable

DEDUP_INDEX_SCHEMA = "doc_id long, sig array<long>, bands array<string>"


def _sig_with_bands(
    documents: DataFrame, perms: int, bands: int
) -> DataFrame:
    """(doc_id, sig array<long>, bands array<string>) for a document batch."""
    rows = perms // bands
    sig = minhash_signature(documents, perms)
    band_vals = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(str(b)),
                *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)],
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id",
        F.array(*[F.col(f"mh_{i}") for i in range(perms)]).alias("sig"),
        band_vals.alias("bands"),
    )


def build_dedup_index(
    spark: SparkSession,
    documents: DataFrame,
    path: str,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    n_buckets: int = 16,
    overwrite: bool = False,
) -> LakeTable:
    """Compute MinHash state for ``documents`` and MERGE it into the index
    table at ``path`` (create on first use; params persist in the snapshot
    summary and later refreshes reuse them).  Pass the full corpus once,
    then only each new batch — the shingle explode runs over the delta
    alone, and ``merge_upsert`` on ``doc_id`` rewrites only touched
    buckets."""
    try:
        t = LakeTable.load(spark, path)
        if overwrite:
            raise FileNotFoundError
        perms = t.latest_summary_value("perms") or perms
        bands = t.latest_summary_value("bands") or bands
    except FileNotFoundError:
        t = LakeTable.create(
            spark, path, DEDUP_INDEX_SCHEMA, key_cols=["doc_id"],
            n_buckets=n_buckets, overwrite=overwrite,
        )
    t.merge_upsert(
        _sig_with_bands(documents, perms, bands), assume_unique=True,
        summary={"perms": perms, "bands": bands, "op": "dedup-index-build"},
    )
    return t


def dedup_minhash_incremental(
    new_docs: DataFrame,
    index: LakeTable,
    max_bucket: int = MAX_KEY_DF,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a, doc_b, est_jaccard) where at least
    one side is in ``new_docs`` — the other side answered FROM the index.

    ``new_docs`` must be doc_ids not yet merged into the index (query
    first, then :func:`build_dedup_index` the batch in).  The plan:
    the batch pays one shingle explode; the corpus side is a parquet scan
    of ``(doc_id, sig, bands)``; ONE banded equi-join over the union of
    both sides' band values (hot buckets dropped by a ceiling counted over
    that union — identical on the oracle side); signature re-join scores
    ``est_jaccard`` with the index providing corpus signatures.

    Exactly equal to ``dedup.dedup_minhash_lsh`` over corpus ∪ batch
    restricted to pairs touching the batch (tested)."""
    perms = index.latest_summary_value("perms") or MINHASH_PERMS
    bands = index.latest_summary_value("bands") or LSH_BANDS
    # the batch signature plan feeds BOTH the band union and the signature
    # re-join; lazy localCheckpoint materializes the shingle explode + min
    # aggregation once instead of once per consumer (batch-sized blocks)
    fresh = _sig_with_bands(new_docs, perms, bands).localCheckpoint(eager=False)
    both = (
        index.read().select("doc_id", "sig", F.explode("bands").alias("band_val"))
        .withColumn("is_new", F.lit(False))
        .unionByName(
            fresh.select(
                "doc_id", "sig", F.explode("bands").alias("band_val")
            ).withColumn("is_new", F.lit(True))
        )
    )
    # anti-join the tiny OVER-ceiling band list (AQE-broadcastable) instead
    # of semi-joining the near-complete under-ceiling set — same semantics,
    # one fewer full-size shuffle of the banded table
    hot = (
        both.groupBy("band_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("band_val")
    )
    both = both.join(hot, "band_val", "left_anti")
    a, c = both.alias("a"), both.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band_val") == F.col("c.band_val"))
            & (F.col("a.doc_id") < F.col("c.doc_id"))
            & (F.col("a.is_new") | F.col("c.is_new")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sigs = index.read().select("doc_id", "sig").unionByName(
        fresh.select("doc_id", "sig")
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sc = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sc"))
    est = sum(
        (F.element_at("_sa", i + 1) == F.element_at("_sc", i + 1)).cast("int")
        for i in range(perms)
    ) / perms
    return (
        cand.join(sa, "doc_a")
        .join(sc, "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------------ driver wiring

NEW_PRED = "doc_id % 4 = 0"  # the driver scenario's corpus/batch split

_DRIVER_IDX: dict[str, str] = {}


def driver_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: index the ``doc_id % 4 <> 0`` corpus once,
    then incrementally dedup the ``doc_id % 4 = 0`` batch against it."""
    import os

    from .util import scratch_root

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    key = os.path.basename(os.path.normpath(sf_dir))
    if key not in _DRIVER_IDX:
        path = os.path.join(
            scratch_root(), f"lms_dedup_idx_{key}"
        )
        build_dedup_index(
            spark, docs.filter(f"NOT ({NEW_PRED})"), path,
            n_buckets=8, overwrite=True,
        )
        _DRIVER_IDX[key] = path
    idx = LakeTable.load(spark, _DRIVER_IDX[key])
    return dedup_minhash_incremental(docs.filter(NEW_PRED), idx)


def dedup_minhash_incremental_sql(
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    max_bucket: int = MAX_KEY_DF,
    new_pred: str = NEW_PRED,
) -> str:
    """DuckDB oracle for :func:`driver_dedup_incremental`: the batch
    operator's algebra over all documents, pairs restricted to those
    touching the new batch — value-for-value including the union-counted
    hot-bucket ceiling."""
    rows = perms // bands
    sh_expr = word_shingles_sql("text")
    mh_cols = ", ".join(
        f"MIN({h32_sql('shingle', str(i))}) AS mh_{i}" for i in range(perms)
    )
    band_union = " UNION ALL ".join(
        "SELECT doc_id, concat_ws('_', '"
        + str(b)
        + "', "
        + ", ".join(f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_val FROM sig"
        for b in range(bands)
    )
    eq_sum = " + ".join(f"CAST(sa.mh_{i} = sc.mh_{i} AS INT)" for i in range(perms))
    return f"""
    WITH sh AS (
        SELECT doc_id, UNNEST({sh_expr}) AS shingle FROM documents
    ),
    sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    buckets_all AS ({band_union}),
    small AS (
        SELECT band_val FROM buckets_all GROUP BY band_val
        HAVING COUNT(*) <= {max_bucket}
    ),
    buckets AS (SELECT b.* FROM buckets_all b JOIN small s USING (band_val)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM buckets a JOIN buckets c
          ON a.band_val = c.band_val AND a.doc_id < c.doc_id
        WHERE ({new_pred.replace("doc_id", "a.doc_id")})
           OR ({new_pred.replace("doc_id", "c.doc_id")})
    )
    SELECT cand.doc_a, cand.doc_b, ROUND(({eq_sum}) / {perms}, 6) AS est_jaccard
    FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
              JOIN sig sc ON sc.doc_id = cand.doc_b
    ORDER BY doc_a, doc_b
    """
