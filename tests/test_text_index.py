"""Persisted inverted text index: incremental build ≡ one-shot, indexed
search ≡ recompute, query-time scan is bucket+bloom pruned."""

import os

import pytest

from linked_maps_spark import text_index, textops
from linked_maps_spark.lakehouse import LakeTable
from linked_maps_spark.util import table_digest

TERMS = ["rare", "common", "alpha"]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "rare common common alpha"),
        (2, "common common common common"),
        (3, "rare rare common"),
        (4, "nothing relevant here beta"),
        (5, "rare common common"),
        (6, "alpha beta gamma delta"),
        (7, "gamma gamma rare"),
        (8, "common alpha alpha"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_build_equals_one_shot_and_search_equals_recompute(
    spark, corpus, tmp_path_factory
):
    base = str(tmp_path_factory.mktemp("tix"))
    # one-shot build
    t1 = text_index.build_text_index(
        spark, corpus, os.path.join(base, "one"), n_buckets=4, overwrite=True
    )
    # two-batch incremental build
    t2 = text_index.build_text_index(
        spark, corpus.filter("doc_id <= 4"), os.path.join(base, "two"),
        n_buckets=4, overwrite=True,
    )
    t2 = text_index.build_text_index(
        spark, corpus.filter("doc_id > 4"), os.path.join(base, "two")
    )
    assert table_digest(t1.read()) == table_digest(t2.read())
    assert t1.latest_summary_value("n_docs") == 8
    assert t2.latest_summary_value("n_docs") == 8

    got = [tuple(r) for r in text_index.search_topk_indexed(t2, TERMS, 5).collect()]
    ref = [tuple(r) for r in textops.search_topk(corpus, TERMS, 5).collect()]
    assert got == ref and len(got) == 5


def test_idempotent_postings_and_touched_bucket_merge(spark, corpus, tmp_path_factory):
    """Re-merging an identical batch changes no postings (keyed MERGE); a
    single-term batch touches only that term's bucket."""
    path = str(tmp_path_factory.mktemp("tix2")) + "/idx"
    t = text_index.build_text_index(spark, corpus, path, n_buckets=4, overwrite=True)
    before = table_digest(t.read())
    v0 = t.snapshot()["version"]
    # re-merge batch 1's postings directly (not via build — n_docs contract)
    t.merge_upsert(text_index.term_postings(corpus.filter("doc_id <= 4")),
                   assume_unique=True, summary={"op": "replay"})
    assert table_digest(t.read()) == before
    # single-new-term batch rewrites a strict subset of buckets
    one = spark.createDataFrame([(9, "zeta zeta")], "doc_id long, text string")
    files_before = {f["path"]: f["bucket"] for f in t.snapshot()["files"]}
    t.merge_upsert(text_index.term_postings(one), assume_unique=True,
                   summary={"op": "one-term"})
    files_after = {f["path"]: f["bucket"] for f in t.snapshot()["files"]}
    carried = set(files_before) & set(files_after)
    touched_buckets = {b for p, b in files_after.items() if p not in files_before}
    assert carried  # untouched buckets' files carried over by pointer
    assert len(touched_buckets) == 1  # 'zeta' lives in exactly one bucket


def test_query_scan_is_pruned(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tix3")) + "/idx"
    # two batches → ≥2 files in some buckets; blooms from analyze()
    text_index.build_text_index(spark, corpus.filter("doc_id <= 4"), path,
                                n_buckets=4, overwrite=True)
    t = text_index.build_text_index(spark, corpus.filter("doc_id > 4"), path)
    n_all = len(t.snapshot()["files"])
    n_hit = len(t.files_where([("term", "in", ["rare"])]))
    assert 0 < n_hit < n_all  # manifest-level pruning, no file opens
    # absent term: bloom absence is a proof — zero files opened
    assert t.files_where([("term", "=", "no_such_term_xyz")]) == []
    # and the pruned read still returns exactly the filtered rows
    got = sorted(
        tuple(r) for r in
        t.read_where([("term", "=", "rare")]).select("doc_id", "tf").collect()
    )
    assert got == [(1, 1), (3, 2), (5, 1), (7, 1)]


def test_unbuilt_index_raises(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tix4")) + "/idx"
    t = LakeTable.create(spark, path, text_index.TEXT_INDEX_SCHEMA,
                         key_cols=["term", "doc_id"], bucket_cols=["term"],
                         n_buckets=2)
    with pytest.raises(ValueError, match="n_docs"):
        text_index.search_topk_indexed(t, ["x"], 3)


#: Spark jobs of the 2-batch build below.  Lower this bound when a change
#: removes a job, never raise it.
TWO_BATCH_BUILD_JOBS = 17


def test_two_batch_build_spark_jobs_pinned(spark, corpus, tmp_path_factory):
    from tests.test_ingest import _newest_job_id

    path = str(tmp_path_factory.mktemp("tixj")) + "/idx"
    before = _newest_job_id(spark)
    text_index.build_text_index(
        spark, corpus.filter("doc_id <= 4"), path, n_buckets=4, overwrite=True
    )
    t = text_index.build_text_index(spark, corpus.filter("doc_id > 4"), path)
    jobs = _newest_job_id(spark) - before
    assert t.latest_summary_value("n_docs") == 8
    assert jobs <= TWO_BATCH_BUILD_JOBS, jobs
