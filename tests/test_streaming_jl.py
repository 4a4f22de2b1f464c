"""Structured Streaming ingest path + JSON-Lines interchange round-trip."""

import os

import pytest

from linked_maps_spark import geometry as G
from linked_maps_spark.changelog import synth_change_log, to_spark
from linked_maps_spark.ingest import CdcEngine
from linked_maps_spark.jsonlines import export_jl, read_jl
from linked_maps_spark.streaming import stream_ingest, write_commit_aligned_landing
from linked_maps_spark.util import table_digest

SEG_COLS = ["repo", "path", "gid", "name", "seq", "wkt", "content_sha256", "is_leaf"]


def test_stream_ingest_equals_batch(spark, tmp_path):
    wal_pdf = synth_change_log(n_keys=4, n_commits=4, seed=14)
    wal_df = to_spark(spark, wal_pdf)

    # batch reference
    batch_eng = CdcEngine(spark, str(tmp_path / "batch"), geom_type=G.LINE, n_buckets=4)
    batch_eng.create_tables(overwrite=True)
    batch_eng.ingest(wal_df, commits_per_epoch=4)

    # streaming: land the WAL as parquet files, drain via availableNow
    wal_dir = str(tmp_path / "landing")
    wal_df.write.mode("overwrite").parquet(wal_dir)
    stream_eng = CdcEngine(spark, str(tmp_path / "stream"), geom_type=G.LINE, n_buckets=4)
    stream_eng.create_tables(overwrite=True)
    q = stream_ingest(stream_eng, wal_dir, str(tmp_path / "ckpt"), commits_per_epoch=4)
    assert q.lastProgress is not None

    assert table_digest(stream_eng.current_segments(), SEG_COLS) == table_digest(
        batch_eng.current_segments(), SEG_COLS
    )

    # redelivery: draining the same landing dir again must be a no-op
    stream_ingest(stream_eng, wal_dir, str(tmp_path / "ckpt2"), commits_per_epoch=4)
    assert table_digest(stream_eng.current_segments(), SEG_COLS) == table_digest(
        batch_eng.current_segments(), SEG_COLS
    )


def test_jsonlines_roundtrip(spark, tmp_path):
    wal_pdf = synth_change_log(n_keys=3, n_commits=3, seed=6)
    eng = CdcEngine(spark, str(tmp_path / "wh"), geom_type=G.LINE, n_buckets=4)
    eng.create_tables(overwrite=True)
    eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=3)

    prefix = str(tmp_path / "out")
    seg = eng.current_segments()
    rel = eng.relations.read()
    export_jl(seg, rel, prefix)
    for suffix in (".geom.jl", ".seg.jl", ".rel.jl"):
        assert os.path.isdir(prefix + suffix)

    geom_df, seg_df, rel_df = read_jl(spark, prefix)
    assert geom_df.count() == seg.count() == seg_df.count()
    assert rel_df.count() == rel.count()
    # seg.jl year rule (main.py:66-67): only edition nodes carry years
    rows = {r["name"]: r for r in seg_df.collect()}
    for name, r in rows.items():
        if "_" in name:
            assert r["years"] == []
        else:
            assert r["years"] == [name[:4]]
    # gid→wkt mapping survives the round trip (generate_graph.py:27-31)
    wkts = {r["gid"]: r["wkt"] for r in geom_df.collect()}
    for r in seg.select("gid", "wkt").collect():
        assert wkts[r["gid"]] == r["wkt"]


def test_stream_ingest_microbatched_equals_batch(spark, tmp_path):
    """maxFilesPerTrigger=1 over a commit-aligned landing dir: every commit
    is its own micro-batch → its own ingest call resuming from the previous
    call's committed leaf state.  Final state must be bit-identical to one
    batch ingest of the whole WAL."""
    wal_pdf = synth_change_log(n_keys=6, n_commits=4, seed=21)
    batch_eng = CdcEngine(spark, str(tmp_path / "batch"), geom_type=G.LINE, n_buckets=4)
    batch_eng.create_tables(overwrite=True)
    batch_eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)

    landing = str(tmp_path / "landing")
    n_files = write_commit_aligned_landing(wal_pdf, landing)
    stream_eng = CdcEngine(spark, str(tmp_path / "stream"), geom_type=G.LINE, n_buckets=4)
    stream_eng.create_tables(overwrite=True)
    q = stream_ingest(
        stream_eng, landing, str(tmp_path / "ckpt"), commits_per_epoch=2,
        max_files_per_trigger=1,
    )
    # the drain really ran (at least) one micro-batch per commit file;
    # >= not ==, because availableNow may legally fire a trailing empty
    # micro-batch on some Spark versions
    assert q.lastProgress is not None and q.lastProgress["batchId"] + 1 >= n_files

    assert table_digest(stream_eng.current_segments(), SEG_COLS) == table_digest(
        batch_eng.current_segments(), SEG_COLS
    )


def test_stream_ingest_misordered_landing_fails_loudly(spark, tmp_path):
    """Landing files whose mtime order DISAGREES with commit order would let
    ingest's watermark silently discard whole commits as replays; the drain
    must raise instead of losing data."""
    wal_pdf = synth_change_log(n_keys=4, n_commits=3, seed=33)
    landing = str(tmp_path / "landing_bad")
    os.makedirs(landing, exist_ok=True)
    commits = sorted(wal_pdf["commit"].unique())
    for i, c in enumerate(commits):
        f = os.path.join(landing, f"wal_{i:04d}.parquet")
        wal_pdf[wal_pdf["commit"] == c].to_parquet(f, index=False)
        # REVERSED mtimes: newest commit gets the oldest timestamp
        os.utime(f, (1_000_000_000 - i, 1_000_000_000 - i))

    eng = CdcEngine(spark, str(tmp_path / "bad"), geom_type=G.LINE, n_buckets=4)
    eng.create_tables(overwrite=True)
    with pytest.raises(Exception) as ei:
        stream_ingest(eng, landing, str(tmp_path / "ckbad"),
                      commits_per_epoch=1, max_files_per_trigger=1)
    assert "diverges from commit order" in str(ei.value)


def test_landing_writer_appendable_keeps_monotone_mtimes(spark, tmp_path):
    """A second write_commit_aligned_landing call on the same landing dir
    (the long-running-stream shape: batches land over time) must continue
    the mtime sequence past the first call's files — overlapping mtimes
    would let FileStreamSource deliver the second batch's commits before
    the first's and trip the misorder guard.  Drain both landings through
    one checkpoint and require bit-equality with a single batch ingest."""
    wal_pdf = synth_change_log(n_keys=6, n_commits=4, seed=27)
    commits = sorted(wal_pdf["commit"].unique())
    first, second = (
        wal_pdf[wal_pdf["commit"].isin(commits[:2])],
        wal_pdf[wal_pdf["commit"].isin(commits[2:])],
    )
    landing = str(tmp_path / "landing")
    n1 = write_commit_aligned_landing(first, landing)
    files1 = sorted(os.listdir(landing))
    mt1 = [os.path.getmtime(os.path.join(landing, f)) for f in files1]
    n2 = write_commit_aligned_landing(second, landing)
    files2 = sorted(set(os.listdir(landing)) - set(files1))
    mt2 = [os.path.getmtime(os.path.join(landing, f)) for f in files2]
    assert n1 == 2 and n2 == 2 and len(files2) == 2
    # strictly monotone across the call boundary, no name collisions
    assert min(mt2) > max(mt1)

    eng = CdcEngine(spark, str(tmp_path / "app"), geom_type=G.LINE, n_buckets=4)
    eng.create_tables(overwrite=True)
    stream_ingest(eng, landing, str(tmp_path / "ckapp"),
                  commits_per_epoch=1, max_files_per_trigger=1)

    batch_eng = CdcEngine(spark, str(tmp_path / "app_batch"), geom_type=G.LINE,
                          n_buckets=4)
    batch_eng.create_tables(overwrite=True)
    batch_eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=1)
    assert table_digest(eng.current_segments(), SEG_COLS) == table_digest(
        batch_eng.current_segments(), SEG_COLS
    )
