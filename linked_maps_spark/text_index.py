"""Persisted inverted text index + index-backed ranked search.

:func:`textops.search_topk` re-tokenizes the corpus on every query — right
for one-shot jobs, wrong at 100 TB where the tokenize-and-count pass IS a
full corpus scan.  This module persists the postings ONCE in a
snapshot-versioned :class:`~.lakehouse.LakeTable` (the same machinery as the
CDC tables, the ANN ``vec_index`` and the MinHash ``dedup_index``) and
answers queries from it:

* **Index build/refresh** — ``(term, doc_id, tf)`` keyed by (term, doc_id)
  but BUCKETED BY TERM, so all postings of one term live in one bucket:
  a query's manifest-level bucket pruning touches ≤ |terms| buckets no
  matter how many files the corpus spans.  ``analyze(bloom_cols=["term"])``
  adds per-file term blooms on top — hash-shaped term values interleave
  across every file, so min/max bounds alone prune nothing, while a bloom
  miss is a proof of absence.  First build scans the corpus once; later
  calls pass only the new batch and ``merge_upsert`` rewrites only touched
  buckets.  The corpus doc count rides the snapshot summary (``n_docs``),
  so query-time idf needs no corpus scan either.
* **Index-backed query** — :func:`search_topk_indexed` reads ONLY the query
  terms' postings (``read_where`` = manifest bucket + stats + bloom
  pruning, then the residual filter) and reuses the exact scoring tail of
  the recompute operator (``textops.score_topk``), so indexed and
  recompute answers are value-identical (tested, and the driver row shares
  the recompute oracle).

Contract: append-only corpora (the training-data shape) — re-ingesting a
*modified* document would strand postings for terms the new version
dropped; re-ingesting an identical batch is idempotent for postings
(keyed MERGE) but callers must not double-count it (build first, count
once), matching dedup_index's query-then-build discipline.

Reference analog: none (the reference indexes nothing); this is the
SURVEY-brief LLM-pipeline surface at its production shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import tokens_expr
from .lakehouse import LakeTable
from .textops import score_topk
from .util import spread, scratch_root

TEXT_INDEX_SCHEMA = "term string, doc_id long, tf long"


def term_postings(documents: DataFrame) -> DataFrame:
    """(term, doc_id, tf) postings of a document batch — one explode +
    one partial-agg groupBy, the same tokenization (``dedup.tokens_expr``) as
    ``search_topk`` so indexed and recompute answers stay value-equal."""
    return (
        spread(documents, "doc_id")
        .select("doc_id", F.expr(f"explode({tokens_expr('text')}) AS term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def build_text_index(
    spark: SparkSession,
    documents: DataFrame,
    path: str,
    n_buckets: int = 16,
    overwrite: bool = False,
) -> LakeTable:
    """MERGE a document batch's postings into the index at ``path`` (create
    on first use).  Pass the full corpus once, then only each new batch —
    the tokenize pass runs over the delta alone and ``merge_upsert``
    rewrites only the term buckets the batch touches.  ``n_docs``
    accumulates in the snapshot summary (one count job per batch —
    the batch is being scanned anyway)."""
    t = LakeTable(spark, path)
    if overwrite or not t.exists():
        t = LakeTable.create(
            spark, path, TEXT_INDEX_SCHEMA,
            key_cols=["term", "doc_id"], bucket_cols=["term"],
            n_buckets=n_buckets, overwrite=overwrite,
        )
        prev_n = 0
    else:
        prev_n = t.latest_summary_value("n_docs") or 0
    post = term_postings(documents)
    t.merge_upsert(
        post, assume_unique=True,
        summary={"n_docs": prev_n + documents.count(), "op": "text-index-build"},
    )
    # per-file term blooms: =/IN probes prune files whose min/max term
    # bounds overlap everything (amortized maintenance read)
    t.analyze(bloom_cols=["term"])
    return t


def search_topk_indexed(index: LakeTable, terms: list[str], k: int = 10) -> DataFrame:
    """Top-``k`` ranked search answered FROM the index: the scan opens only
    files that may hold the query terms' postings (bucket + stats + bloom
    pruning — at 100 TB that is |terms| buckets' worth of files, not the
    corpus), idf's ``N`` comes from the snapshot summary (no job), and the
    scoring tail is shared with the recompute operator, so results are
    value-identical to ``textops.search_topk`` over the indexed corpus."""
    n = index.latest_summary_value("n_docs")
    if n is None:
        raise ValueError("text index has no n_docs summary — build it first")
    # deterministic bucket pruning FIRST (pmod(xxhash64(term), n) over the
    # query terms — a metadata-sized job), then stats/bloom file skipping
    # inside the surviving buckets: a bloom false positive or a stats-less
    # file can no longer open files in buckets no query term hashes to
    term_df = index.spark.createDataFrame(
        [(t,) for t in terms], "term string"
    )
    tf = index.read_where(
        [("term", "in", list(terms))], buckets=index.buckets_for(term_df)
    ).select("doc_id", "term", "tf")
    n_docs = index.spark.range(1).select(F.lit(int(n)).alias("n_docs"))
    return score_topk(tf, n_docs, k)


# ------------------------------------------------------------ driver wiring

_DRIVER_IDX: dict[str, str] = {}


def driver_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: index the documents table once per sf_dir
    (two batches, exercising the incremental merge), then answer the
    standard term query from the index alone."""
    import os

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    key = os.path.basename(os.path.normpath(sf_dir))
    if key not in _DRIVER_IDX:
        path = os.path.join(scratch_root(), f"lms_text_idx_{key}")
        build_text_index(spark, docs.filter("doc_id % 2 = 0"), path,
                         n_buckets=8, overwrite=True)
        build_text_index(spark, docs.filter("doc_id % 2 <> 0"), path)
        _DRIVER_IDX[key] = path
    idx = LakeTable.load(spark, _DRIVER_IDX[key])
    return search_topk_indexed(idx, ["data", "table", "shuffle"], k=10)
