"""End-to-end CDC ingest: replay equality, resume, dedup, schema evolution.

One full ingest (module fixture) is shared by the read-only assertions; the
replay/robustness tests build their own warehouses and compare digests
against the shared one.
"""

import pandas as pd
import pytest
import pyspark.sql.functions as F

from linked_maps_spark import geometry as G
from linked_maps_spark.changelog import synth_change_log, to_spark
from linked_maps_spark.fold import fold_key
from linked_maps_spark.ingest import CdcEngine
from linked_maps_spark.util import table_digest

N_KEYS, N_COMMITS, SEED = 6, 5, 21

SEG_COLS = [
    "repo", "path", "gid", "name", "seq", "wkt", "content_sha256",
    "editions", "is_leaf", "retired",
]


@pytest.fixture(scope="module")
def wal_pdf():
    return synth_change_log(n_keys=N_KEYS, n_commits=N_COMMITS, seed=SEED)


@pytest.fixture(scope="module")
def expected(wal_pdf):
    """Driver-side single-process expected state via the engine fold."""
    segs, rels = {}, set()
    for (repo, path), sub in wal_pdf.groupby(["repo", "path"]):
        res = fold_key(repo, path, sub.sort_values("commit").to_dict("records"), [])
        for r in res.segments:
            segs[r["gid"]] = r
        rels |= {(r["parent_gid"], r["child_gid"]) for r in res.relations}
    return segs, rels


def _engine(spark, tmp_path, name):
    eng = CdcEngine(spark, str(tmp_path / name), geom_type=G.LINE, n_buckets=4)
    eng.create_tables(overwrite=True)
    return eng


def _seg_digest(eng):
    return table_digest(eng.current_segments(), SEG_COLS)


@pytest.fixture(scope="module")
def full(spark, tmp_path_factory, wal_pdf):
    """The shared uninterrupted run: 3 epochs of 2 commits."""
    eng = _engine(spark, tmp_path_factory.mktemp("ing"), "full")
    stats = eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    return eng, stats


def test_ingest_matches_expected_state(spark, wal_pdf, expected, full):
    eng, stats = full
    assert stats.n_events == len(wal_pdf)
    exp_segs, exp_rels = expected
    got = {r["gid"]: r.asDict() for r in eng.current_segments().collect()}
    assert set(got) == set(exp_segs)
    for gid, erow in exp_segs.items():
        grow = got[gid]
        for c in ("name", "seq", "wkt", "content_sha256", "is_leaf", "retired"):
            assert grow[c] == erow[c], f"{c} mismatch for {erow['name']}"
        assert sorted(grow["editions"]) == sorted(erow["editions"])
    got_rels = {
        (r["parent_gid"], r["child_gid"]) for r in eng.relations.read().collect()
    }
    assert got_rels == exp_rels
    assert eng.watermark() == max(wal_pdf["commit"])


def test_metrics_and_commit_log(spark, wal_pdf, full):
    eng, stats = full
    log = eng.commit_log.read().orderBy("epoch").collect()
    assert [r["epoch"] for r in log] == list(range(len(stats.epochs)))
    assert sum(r["n_events"] for r in log) == len(wal_pdf)
    m = eng.metrics.read()
    assert m.count() > 0
    assert {"epoch", "partition_id", "n_segments", "n_relations"} <= set(m.columns)


def test_full_reingest_is_noop(spark, wal_pdf, full):
    eng, _ = full
    d1 = _seg_digest(eng)
    stats = eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    assert stats.n_events == 0  # watermark skips everything
    assert _seg_digest(eng) == d1


def test_kill_and_resume_replay(spark, tmp_path, wal_pdf, full):
    """Stop after 1 epoch, resume with a fresh engine object → same digest as
    the uninterrupted run (checkpoint-resume criterion)."""
    eng, _ = full
    part = _engine(spark, tmp_path, "part")
    part.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2, max_epochs=1)
    assert part.watermark() < max(wal_pdf["commit"])
    resumed = CdcEngine(spark, part.warehouse, geom_type=G.LINE, n_buckets=4)
    resumed.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    assert _seg_digest(resumed) == _seg_digest(eng)
    assert table_digest(resumed.relations.read()) == table_digest(eng.relations.read())


@pytest.mark.parametrize("crash_point", ["relations_merge", "segments_merge"])
def test_crash_mid_epoch_replay(spark, tmp_path, wal_pdf, full, crash_point):
    """Exactly-once across MID-epoch crash windows (the round-1 suite only
    killed at epoch boundaries): a crash after the relations/metrics merges
    (before segments) or after the segments merge (before the commit-log
    append) must replay to the digest of an uninterrupted run — the latter
    window is the one where a naive re-fold would intersect an edition with
    its own descendants."""
    eng, _ = full
    part = _engine(spark, tmp_path, f"crash_{crash_point}")
    part._crash_after = crash_point
    with pytest.raises(RuntimeError, match="injected crash"):
        part.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    # watermark did NOT advance past the crashed epoch
    assert (part.watermark() or "") < max(wal_pdf["commit"])
    part._crash_after = None
    resumed = CdcEngine(spark, part.warehouse, geom_type=G.LINE, n_buckets=4)
    resumed.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    assert _seg_digest(resumed) == _seg_digest(eng)
    assert table_digest(resumed.relations.read()) == table_digest(eng.relations.read())
    # commit log ends up contiguous with no duplicate epochs
    epochs = [r["epoch"] for r in resumed.commit_log.read().orderBy("epoch").collect()]
    assert epochs == sorted(set(epochs))


def test_epoch_leaf_read_is_bucket_pruned(spark, tmp_path, wal_pdf, full):
    """Epoch cost must not scale with untouched-table size: leaf state for a
    1-key batch reads only the buckets that key hashes into, and matches the
    unpruned full-scan semi-join."""
    eng, _ = full
    one_key = eng.current_segments().select("repo", "path").distinct().limit(1)
    leaves, buckets = eng._pruned_leaves(one_key)
    n_buckets = eng.segments.snapshot()["n_buckets"]
    assert 0 < len(buckets) < n_buckets
    # manifest files outside the touched buckets are not opened
    all_files = eng.segments.snapshot()["files"]
    assert {f["bucket"] for f in all_files} - set(buckets), "fixture too small"
    full_scan = eng.current_leaves().join(one_key, ["repo", "path"], "left_semi")
    assert table_digest(leaves, SEG_COLS) == table_digest(full_scan, SEG_COLS)


def test_epoch_size_and_dup_reorder_invariance(spark, tmp_path, wal_pdf, full):
    """(a) one big epoch == three small epochs; (b) dup_log fixture
    (FIXTURES.md §6): duplicated rows in shuffled order → identical state."""
    eng, _ = full
    dup = pd.concat([wal_pdf, wal_pdf]).sample(frac=1.0, random_state=13)
    other = _engine(spark, tmp_path, "dup")
    other.ingest(to_spark(spark, dup), commits_per_epoch=N_COMMITS)
    assert _seg_digest(other) == _seg_digest(eng)
    assert table_digest(other.relations.read()) == table_digest(eng.relations.read())


def test_stale_scratch_dir_overwritten_and_cleaned(spark, tmp_path, wal_pdf, full):
    """A crash mid-combined-write leaves a partial scratch dir; the replayed
    epoch must overwrite it deterministically, and maintenance must leave
    no _stage leftovers behind."""
    import os

    eng, _ = full
    part = _engine(spark, tmp_path, "stale")
    sdf = to_spark(spark, wal_pdf)
    part.ingest(sdf, commits_per_epoch=2, max_epochs=1)
    # simulate a crashed epoch-1 attempt: garbage where its scratch will go
    stale = os.path.join(part.warehouse, "_stage", "e1", "kind=segment", "_bucket=0")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "w") as fh:
        fh.write("not parquet")
    part.ingest(sdf, commits_per_epoch=2)
    assert _seg_digest(part) == _seg_digest(eng)
    assert table_digest(part.relations.read()) == table_digest(eng.relations.read())
    assert not os.path.exists(os.path.join(part.warehouse, "_stage"))


def test_diverged_bucket_layout_reconverged_before_write(
    spark, tmp_path, wal_pdf, full, monkeypatch
):
    """The combined epoch write partitions segments and relations by one
    ``_bucket`` column, so they must share a bucket layout; after an
    EXTERNAL rebucket diverges them, ingest re-converges the layouts before
    its first epoch write and still reaches identical digests."""
    eng, _ = full
    part = _engine(spark, tmp_path, "diverge")
    sdf = to_spark(spark, wal_pdf)
    part.ingest(sdf, commits_per_epoch=2, max_epochs=1)
    part.segments.rebucket(8)  # diverge: segments 8 buckets, relations 4
    layouts = []
    prepare = part._prepare_epoch

    def spy(*a, **k):
        layouts.append((part.segments.snapshot()["n_buckets"],
                        part.relations.snapshot()["n_buckets"]))
        return prepare(*a, **k)

    monkeypatch.setattr(part, "_prepare_epoch", spy)
    part.ingest(sdf, commits_per_epoch=2)
    assert layouts and layouts[0] == (8, 8)
    assert _seg_digest(part) == _seg_digest(eng)
    assert table_digest(part.relations.read()) == table_digest(eng.relations.read())


def test_size_triggered_rebucket_keeps_shared_layout(spark, tmp_path):
    """Shared layout policy: a segments-only size trigger doubles BOTH
    tables into one layout, so the next ingest needs no re-converging
    rebucket and writes digests identical to a never-rebucketed run."""
    wal = synth_change_log(n_keys=6, n_commits=4, seed=23)
    commits = sorted(set(wal["commit"]))
    first = wal[wal.commit <= commits[1]]

    eng = _engine(spark, tmp_path, "corebucket")
    eng.ingest(to_spark(spark, first), commits_per_epoch=2)
    n0 = eng.segments.snapshot()["n_buckets"]
    seg_mean = sum(eng.segments.bucket_stats().values()) / n0
    rel_mean = sum(eng.relations.bucket_stats().values()) / n0
    assert rel_mean < seg_mean, "fixture: segments must be the bigger table"
    # target between the two means: ONLY segments trips the doubling
    eng.target_bucket_bytes = int((rel_mean + seg_mean) / 2)
    eng.maintain()
    n1 = eng.segments.snapshot()["n_buckets"]
    assert n1 > n0
    assert eng.relations.snapshot()["n_buckets"] == n1  # co-rebucketed

    eng.ingest(to_spark(spark, wal), commits_per_epoch=2)

    # digests identical to a never-rebucketed straight run
    ref = _engine(spark, tmp_path, "corebucket_ref")
    ref.ingest(to_spark(spark, wal), commits_per_epoch=2)
    assert _seg_digest(eng) == _seg_digest(ref)
    assert table_digest(eng.relations.read()) == table_digest(ref.relations.read())


def _newest_job_id(spark) -> int:
    """Id of the newest job in the driver's status store, read once the
    listener bus has drained.  Job ids are dense and increasing, so the
    difference of two readings counts the jobs between them even after
    ``spark.ui.retainedJobs`` evicts old entries (the list's length stops
    growing then)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


#: Spark jobs of the fixed 2-epoch ingest below (fold + combined write,
#: kept rewrites, maintenance).  Spark jobs per epoch may only go down:
#: lower this bound when a change removes one, never raise it.
TWO_EPOCH_INGEST_JOBS = 25


def test_two_epoch_ingest_spark_jobs_pinned(spark, tmp_path, monkeypatch):
    """A fixed 2-epoch ingest into already-converged tables runs at most
    ``TWO_EPOCH_INGEST_JOBS`` Spark jobs and makes no ``rebucket`` call."""
    import threading

    from linked_maps_spark.lakehouse import LakeTable

    wal = to_spark(spark, synth_change_log(n_keys=4, n_commits=4, seed=29))
    eng = _engine(spark, tmp_path, "jobcount")
    # the once-per-session worker warm-up runs on a background thread; its
    # job must not land inside the counted window
    for t in threading.enumerate():
        if t.name == "lms-prewarm":
            t.join()
    rebucketed = []
    rebucket = LakeTable.rebucket

    def spy(self, *a, **k):
        rebucketed.append(self.path)
        return rebucket(self, *a, **k)

    monkeypatch.setattr(LakeTable, "rebucket", spy)
    before = _newest_job_id(spark)
    stats = eng.ingest(wal, commits_per_epoch=2)
    jobs = _newest_job_id(spark) - before
    assert len(stats.epochs) == 2
    assert rebucketed == []
    assert jobs <= TWO_EPOCH_INGEST_JOBS, jobs


def test_metrics_append_io_flat_in_epoch_count(spark, tmp_path, monkeypatch):
    """The metrics table is append-only: epoch K's write I/O must not grow
    with K (the round-2 COW merge re-read and rewrote the whole history every
    epoch — O(N²) rows over N epochs).  Maintenance is disabled so each
    epoch's appended file bytes are observable."""
    import os

    wal = synth_change_log(n_keys=4, n_commits=8, seed=9)
    eng = _engine(spark, tmp_path, "flat")
    monkeypatch.setattr(eng, "maintain", lambda *a, **k: None)
    sdf = to_spark(spark, wal)
    sizes = []
    for _ in range(8):
        before = {f["path"] for f in eng.metrics.snapshot()["files"]}
        st = eng.ingest(sdf, commits_per_epoch=1, max_epochs=1)
        assert len(st.epochs) == 1
        new = [
            f for f in eng.metrics.snapshot()["files"] if f["path"] not in before
        ]
        sizes.append(
            sum(os.path.getsize(os.path.join(eng.metrics.path, f["path"])) for f in new)
        )
    assert all(s > 0 for s in sizes)
    # flat: the 8th epoch writes about as much as the 1st (the old design
    # wrote ~8× by now); generous bound for parquet footer variance
    assert sizes[-1] < 2 * sizes[0]
    # replay dedup view returns one accounting set per epoch
    m = eng.read_metrics()
    assert m.select("epoch").distinct().count() == 8
    assert "attempt" not in m.columns


def test_maintenance_bounds_log_files_and_snapshots(spark, tmp_path):
    """After many epochs, commit_log/metrics must not accumulate one file —
    and one snapshot — per epoch: the post-ingest maintenance pass compacts
    the logs and expires old snapshots (bounded constants)."""
    import os

    wal = synth_change_log(n_keys=4, n_commits=12, seed=11)
    eng = _engine(spark, tmp_path, "bounded")
    eng.ingest(to_spark(spark, wal), commits_per_epoch=1)  # 12 epochs
    for tbl in (eng.commit_log, eng.metrics):
        assert len(tbl.snapshot()["files"]) <= 2
        snap_dir = os.path.join(tbl.path, "_snapshots")
        assert len(os.listdir(snap_dir)) <= 4
    # nothing lost: all 12 epochs still present in both logs
    assert eng.commit_log.read().select("epoch").distinct().count() == 12
    assert eng.read_metrics().select("epoch").distinct().count() == 12
    assert eng.watermark() == max(wal["commit"])
    # a resume against the maintained warehouse still works (no state lost
    # to compaction/expiry)
    resumed = CdcEngine(spark, eng.warehouse, geom_type=G.LINE, n_buckets=4)
    st = resumed.ingest(to_spark(spark, wal), commits_per_epoch=2)
    assert st.n_events == 0


def test_schema_evolution(spark, tmp_path):
    """evolving_log fixture: later epochs add an ``attrs`` column; MERGE
    evolves the segments schema, pre-evolution rows read NULL."""
    base = synth_change_log(n_keys=3, n_commits=4, seed=5)
    evolved = synth_change_log(n_keys=3, n_commits=6, seed=5, attrs_from_epoch=4)
    late = evolved[evolved.commit > max(base.commit)]

    eng = _engine(spark, tmp_path, "evo")
    eng.ingest(to_spark(spark, base), commits_per_epoch=4)
    assert "attrs" not in eng.current_segments().columns
    eng.ingest(
        to_spark(spark, late[["repo", "path", "commit", "lang", "content", "attrs"]]),
        commits_per_epoch=2,
    )
    seg = eng.current_segments()
    assert "attrs" in seg.columns
    assert seg.filter(F.col("attrs").isNotNull()).count() > 0
    assert seg.filter(F.col("attrs").isNull()).count() > 0
    # digest stable across a replay of the evolved tail
    d1 = table_digest(eng.current_segments(), SEG_COLS + ["attrs"])
    eng2 = CdcEngine(spark, eng.warehouse, geom_type=G.LINE, n_buckets=4)
    eng2.ingest(to_spark(spark, evolved), commits_per_epoch=3)
    assert table_digest(eng2.current_segments(), SEG_COLS + ["attrs"]) == d1


def test_watermark_is_metadata_only(spark, tmp_path, monkeypatch):
    """watermark() must be an O(1) driver-side manifest read — never a Spark
    job — and must survive log compaction + snapshot expiry (the compaction
    overwrite carries end_commit forward in its summary)."""
    from linked_maps_spark.lakehouse import LakeTable

    wal = synth_change_log(n_keys=3, n_commits=12, seed=19)
    eng = _engine(spark, tmp_path, "wm")
    eng.ingest(to_spark(spark, wal), commits_per_epoch=1)  # forces compaction
    assert any(
        s.get("summary", {}).get("reason") == "log-compaction"
        for s in eng.commit_log.history()
    ), "fixture did not trigger log compaction"
    def boom(self, *a, **k):
        raise AssertionError("watermark() launched a table read")
    monkeypatch.setattr(LakeTable, "read", boom)
    assert eng.watermark() == max(wal["commit"])


def test_read_metrics_keeps_legacy_null_attempt_rows(spark, tmp_path):
    """A pre-attempt-column warehouse read by current code: metrics rows with
    attempt NULL must dedup as attempt 0, not vanish from a NULL comparison."""
    eng = _engine(spark, tmp_path, "legacy")
    eng.ingest(to_spark(spark, synth_change_log(n_keys=2, n_commits=2, seed=3)),
               commits_per_epoch=2)
    # legacy row: epoch 99 written WITHOUT the attempt column (NULL-filled)
    legacy = spark.range(1).select(
        F.lit(99).cast("long").alias("epoch"),
        F.lit(0).cast("int").alias("partition_id"),
        F.lit(1).cast("long").alias("n_keys"),
        F.lit(1).cast("long").alias("n_segments"),
        F.lit(0).cast("long").alias("n_relations"),
        F.lit(1).cast("long").alias("n_events"),
        F.lit(1.0).alias("wall_ms"),
    )
    eng.metrics.append(legacy)
    m = eng.read_metrics()
    assert m.filter(F.col("epoch") == 99).count() == 1


#: metrics-table column names: the epoch write's accounting columns use
#: the fold's reserved names instead, so a WAL extra may take any of these
_METRICS_NAMES = ("epoch", "partition_id", "n_keys", "n_segments",
                  "n_relations", "n_events", "wall_ms", "attempt")


def test_wal_extra_column_collisions(spark, tmp_path):
    """(a) an extra shadowing a fold/state column or the epoch write's
    ``_bucket`` partition column fails fast with a contract error; (b)
    extras named like metrics-table columns ingest correctly."""
    wal = synth_change_log(n_keys=3, n_commits=2, seed=7)

    for bad in ("gid", "_bucket"):
        eng = _engine(spark, tmp_path, f"badcol{bad}")
        with pytest.raises(Exception, match="reserved fold/state"):
            eng.ingest(to_spark(spark, wal).withColumnRenamed("lang", bad),
                       commits_per_epoch=2)

    shadowed = to_spark(spark, wal).select(
        "*", *[F.col("lang").alias(c) for c in _METRICS_NAMES]
    )
    eng2 = _engine(spark, tmp_path, "shadowcol")
    eng2.ingest(shadowed, commits_per_epoch=2)
    ref = _engine(spark, tmp_path, "shadowref")
    ref.ingest(to_spark(spark, wal), commits_per_epoch=2)
    assert table_digest(eng2.current_segments(), SEG_COLS) == \
        table_digest(ref.current_segments(), SEG_COLS)
    # the WAL's own values survived on the edition nodes (not the engine's)
    for c in _METRICS_NAMES:
        vals = {r[c] for r in eng2.current_segments()
                .filter(F.col(c).isNotNull()).collect()}
        assert vals and vals <= set(wal["lang"]), c


def test_adopted_data_files_carry_no_metrics_values(spark, full):
    """Adopted segment files physically contain the combined write's
    accounting columns, but they must be all-NULL on data rows — the table
    stays clean (columns are invisible to schema-projected reads and
    RLE-compress to ~nothing)."""
    import os

    eng, _ = full
    snap = eng.segments.snapshot()
    paths = [os.path.join(eng.segments.path, f["path"]) for f in snap["files"]]
    assert paths, "fixture wrote no segment files"
    # no schema projection: see the files' real columns (kept-row files lack
    # the metrics columns entirely, so union the schemas)
    raw = spark.read.option("mergeSchema", "true").parquet(*paths)
    acct = ("_pid", "_n_keys", "_n_segments", "_n_relations", "_wall_ms")
    assert set(acct) <= set(raw.columns)
    for c in acct:
        assert raw.filter(F.col(c).isNotNull()).count() == 0, c
    # and the projected read never exposes them
    assert not set(acct) & set(eng.current_segments().columns)


def test_tombstone_retire_via_engine(spark, tmp_path):
    wal = synth_change_log(n_keys=4, n_commits=5, seed=8, tombstone_every=2)
    eng = _engine(spark, tmp_path, "tomb")
    eng.ingest(to_spark(spark, wal), commits_per_epoch=5)
    seg = eng.current_segments()
    assert seg.filter(F.col("retired")).count() > 0
    assert eng.current_leaves().filter(F.col("retired")).count() == 0


def test_polygon_mode_engine(spark, tmp_path):
    """MULTIPOLYGON mode end-to-end (postgis_sqls.py:57-63 buffer-0 path)."""
    wal = synth_change_log(n_keys=3, n_commits=3, seed=17, geom_type=G.POLYGON)
    eng = CdcEngine(spark, str(tmp_path / "poly"), geom_type=G.POLYGON, n_buckets=4)
    eng.create_tables(overwrite=True)
    eng.ingest(to_spark(spark, wal), commits_per_epoch=3)
    seg = eng.current_segments()
    assert seg.count() > 3
    wkts = [r["wkt"] for r in seg.select("wkt").collect()]
    assert all(w.startswith("MULTIPOLYGON") for w in wkts)
    # per-key expected state via the engine fold (driver-side)
    exp = {}
    for (repo, path), sub in wal.groupby(["repo", "path"]):
        res = fold_key(repo, path, sub.sort_values("commit").to_dict("records"), [],
                       geom_type=G.POLYGON)
        for r in res.segments:
            exp[r["gid"]] = r["content_sha256"]
    got = {r["gid"]: r["content_sha256"] for r in seg.collect()}
    assert got == exp


def test_segments_change_feed_across_epochs(spark, tmp_path):
    """LakeTable.changes over the REAL engine's segments table: the CDF
    between the pre- and post-epoch snapshots is exactly the epoch's
    effect — inserts for new gids, update pre+post pairs for flag flips
    (leaf retirement), never a delete (the fold only adds or amends)."""
    wal = synth_change_log(n_keys=4, n_commits=4, seed=31)
    eng = _engine(spark, tmp_path, "cdf")
    first = wal[wal["commit"] <= sorted(wal["commit"].unique())[1]]
    eng.ingest(to_spark(spark, first), commits_per_epoch=2)
    v1 = eng.segments.version()
    gids_v1 = {r["gid"] for r in eng.segments.read().select("gid").collect()}
    eng.ingest(to_spark(spark, wal), commits_per_epoch=2)
    v2 = eng.segments.version()
    assert v2 > v1

    cdf = eng.segments.changes(v1, v2).collect()
    by_type: dict[str, set] = {}
    for r in cdf:
        by_type.setdefault(r["_change_type"], set()).add(r["gid"])
    assert "delete" not in by_type
    # inserts are exactly the gids that did not exist at v1
    gids_v2 = {r["gid"] for r in eng.segments.read().select("gid").collect()}
    assert by_type.get("insert", set()) == gids_v2 - gids_v1
    # updates come in matched pre/post pairs on pre-existing gids
    pre = by_type.get("update_preimage", set())
    assert pre == by_type.get("update_postimage", set())
    assert pre <= gids_v1
    # replaying the CDF's post-state onto the v1 snapshot reproduces v2
    post_rows = [
        r for r in cdf if r["_change_type"] in ("insert", "update_postimage")
    ]
    v1_rows = {
        r["gid"]: r for r in eng.segments.read(version=v1).collect()
    }
    for r in post_rows:
        v1_rows[r["gid"]] = r
    want = {r["gid"]: tuple(r[c] for c in SEG_COLS) for r in
            eng.segments.read().collect()}
    got = {g: tuple(r[c] for c in SEG_COLS) for g, r in v1_rows.items()}
    assert got == want


class TestBalancedShufflePlacement:
    """The fold/write shuffles route low-cardinality partition keys through
    util.balanced_part_col: a driver-side murmur3 pre-image that places value
    v on partition v % n_parts exactly, instead of letting hash-of-hash
    birthday collisions idle ~1/e of the stage's slots (measured: 6 of 16
    partitions empty, 3× record skew on the 4-core fold)."""

    def test_mmh3_long_matches_spark_hash(self, spark):
        from linked_maps_spark.util import mmh3_long

        vals = [0, 1, 5, -1, 42, 16, 511, -123456789, 2**40 + 7, -(2**55) - 3]
        rows = {
            r["x"]: r["h"]
            for r in spark.createDataFrame([(v,) for v in vals], "x bigint")
            .select("x", F.hash("x").alias("h"))
            .collect()
        }
        assert all(rows[v] == mmh3_long(v) for v in vals)

    def test_every_value_on_its_designated_partition(self, spark):
        from linked_maps_spark.util import balanced_part_col

        n_parts, modulus = 8, 24  # modulus a non-multiple case: 3 values/part
        src = spark.range(0, 20000).withColumn(
            "fp", F.pmod(F.xxhash64("id"), F.lit(modulus))
        )
        placed = (
            src.repartition(n_parts, balanced_part_col(F.col("fp"), modulus, n_parts))
            .withColumn("pid", F.spark_partition_id())
            .groupBy("fp")
            .agg(
                F.count_distinct("pid").alias("npid"),
                F.first("pid").alias("pid"),
            )
            .collect()
        )
        assert len(placed) == modulus
        # value-locality (the file-count bound): one partition per value
        assert all(r["npid"] == 1 for r in placed)
        # exact designated placement — no collisions, no empty slots
        assert all(r["pid"] == r["fp"] % n_parts for r in placed)
        occupancy = {}
        for r in placed:
            occupancy[r["pid"]] = occupancy.get(r["pid"], 0) + 1
        assert len(occupancy) == n_parts  # every slot busy
        assert max(occupancy.values()) == 3 and min(occupancy.values()) == 3

    def test_probe_search_independent_of_modulus(self):
        """The probe table is residue-class-sized: a 2^20-bucket layout must
        cost the same driver search (and the same plan-side literal array)
        as a 16-bucket one — O(modulus) search would hang the first write
        after maybe_rebucket doubles into the thousands."""
        import time

        from linked_maps_spark.util import _PROBE_CACHE, balanced_probes, mmh3_long

        _PROBE_CACHE.pop(64, None)
        t0 = time.monotonic()
        probes = balanced_probes(64)
        assert time.monotonic() - t0 < 1.0
        assert len(probes) == 64
        assert all(mmh3_long(k) % 64 == r for r, k in enumerate(probes))
        # a huge modulus changes nothing: same table, same cost
        from pyspark.sql import functions as F

        from linked_maps_spark.util import balanced_part_col

        t0 = time.monotonic()
        balanced_part_col(F.lit(123456789), 1 << 20, 64)
        assert time.monotonic() - t0 < 1.0


def test_hot_detection_gated_by_manifest_row_pretest(spark, tmp_path, monkeypatch):
    """A key's leaves all hash into one bucket, so no touched bucket with
    manifest rows < salt_leaf_threshold can hide a hot key — the exact-count
    Spark job must be SKIPPED on such state (zero jobs in the non-skewed
    steady state) and still run when a bucket's rows cross the threshold."""
    eng = _engine(spark, tmp_path, "pretest")
    wal = synth_change_log(n_keys=4, n_commits=6, seed=5)
    eng.ingest(to_spark(spark, wal[wal["commit"] <= sorted(set(wal["commit"]))[3]]),
               commits_per_epoch=2)
    assert eng.segments.snapshot()["files"]  # state exists, all buckets tiny

    calls = []
    real = CdcEngine._hot_keys

    def spy(self, leaves):
        calls.append(1)
        return real(self, leaves)

    monkeypatch.setattr(CdcEngine, "_hot_keys", spy)
    eng.ingest(to_spark(spark, wal), commits_per_epoch=2)  # remaining commits
    assert calls == []  # pretest proved no hot key: job skipped

    # positive control: a FRESH engine instance over pre-existing state has
    # no hot-key carry (the advisory set lives in the engine, seeded by the
    # fold's kind='hot' markers) — with threshold 1 every non-empty bucket
    # is "possibly hot", so its FIRST epoch must take the exact-count path
    # (and the result digest is unaffected by which path ran; the broader
    # salt tests pin bit-equality)
    wh2 = str(tmp_path / "pretest2")
    eng2 = CdcEngine(spark, wh2, geom_type=G.LINE,
                     n_buckets=4, salt_leaf_threshold=1)
    eng2.create_tables(overwrite=True)
    eng2.ingest(to_spark(spark, wal[wal["commit"] <= sorted(set(wal["commit"]))[3]]),
                commits_per_epoch=2)
    calls.clear()
    cold = CdcEngine(spark, wh2, geom_type=G.LINE,
                     n_buckets=4, salt_leaf_threshold=1)
    cold.ingest(to_spark(spark, wal), commits_per_epoch=2)
    assert calls  # no carry on a fresh instance: exact path taken

    # ...and the warm engine that folded those epochs needs NO scan even at
    # threshold 1: every key crossed, the markers seeded its carry
    assert eng2._hot_carry  # markers arrived

    # pretest-skip coverage: a fresh engine at the DEFAULT threshold over a
    # warehouse with pre-existing state has no carry, so its first epoch
    # validates the touched buckets — whose manifest rows are far below
    # 256 — and the manifest pretest must rule the scan out (zero
    # detection jobs, buckets marked validated without a scan)
    wh4 = str(tmp_path / "pretest4")
    setup = CdcEngine(spark, wh4, geom_type=G.LINE, n_buckets=4)
    setup.create_tables(overwrite=True)
    setup.ingest(to_spark(spark, wal[wal["commit"] <= sorted(set(wal["commit"]))[3]]),
                 commits_per_epoch=2)
    calls.clear()
    fresh_default = CdcEngine(spark, wh4, geom_type=G.LINE, n_buckets=4)
    fresh_default.ingest(to_spark(spark, wal), commits_per_epoch=2)
    assert calls == []  # manifest pretest ruled every fresh bucket out
    assert fresh_default._hot_carry == set()
    assert fresh_default._validated_buckets  # validated without a scan
    calls.clear()
    eng3 = CdcEngine(spark, str(tmp_path / "pretest3"), geom_type=G.LINE,
                     n_buckets=4, salt_leaf_threshold=1)
    eng3.create_tables(overwrite=True)
    eng3.ingest(to_spark(spark, wal), commits_per_epoch=2)  # empty start: carry seeded
    assert calls == []  # scan-free from epoch 0 via the empty-table seed


# ----------------------------------------------------- dead-letter queue

def test_fold_key_quarantine_equals_clean_subset():
    """A poison event under on_error='quarantine' is skipped exactly as if
    it never entered the WAL; default mode raises."""
    good1 = {"repo": "r", "path": "p", "commit": "1900",
             "content": "MULTILINESTRING ((0.00 0.00, 0.02 0.00))"}
    poison = {"repo": "r", "path": "p", "commit": "1910",
              "content": "MULTILINESTRING ((0.005 0.00, 0.01 0.00))"}  # off-grid
    good2 = {"repo": "r", "path": "p", "commit": "1920",
             "content": "MULTILINESTRING ((0.01 0.00, 0.03 0.00))"}
    with pytest.raises(G.GeometryError):
        fold_key("r", "p", [good1, poison, good2], [])
    res = fold_key("r", "p", [good1, poison, good2], [], on_error="quarantine")
    clean = fold_key("r", "p", [good1, good2], [])
    assert [(s["gid"], s["content_sha256"], s["is_leaf"]) for s in res.segments] == \
           [(s["gid"], s["content_sha256"], s["is_leaf"]) for s in clean.segments]
    assert res.relations == clean.relations
    assert len(res.dead) == 1 and res.dead[0]["commit"] == "1910"
    assert "grid" in res.dead[0]["error"]
    # a poison replica that out-ranks a clean one under last-writer-wins
    # quarantines the whole commit (dedup runs before the parse)
    poison_big = dict(poison, commit="1900",
                      content="Z" + "MULTILINESTRING ((0.00 0.00, 0.02 0.00))")
    res2 = fold_key("r", "p", [good1, poison_big, good2], [], on_error="quarantine")
    assert len(res2.dead) == 1 and res2.dead[0]["commit"] == "1900"
    # the split helper (salted path) makes the same call
    from linked_maps_spark.ingest import _split_poison

    clean_ev, dead_ev = _split_poison([good1, poison_big, good2], G.LINE, "quarantine")
    assert [e["commit"] for e in clean_ev] == ["1920"]  # 1900 quarantined
    assert len(dead_ev) == 1 and dead_ev[0]["commit"] == "1900"


def test_engine_quarantine_end_to_end(spark, tmp_path, wal_pdf):
    """Poisoned WAL: quarantine engine converges to the clean WAL's exact
    state, dead_letter carries one attempt-deduped row per poison event,
    strict engine aborts; maintain() keeps the dead rows readable."""
    # poison 3 events across epochs: off-grid, diagonal-invalid, garbage
    poisoned = wal_pdf.copy()
    bad = {
        0: "MULTILINESTRING ((0.005 0.00, 0.01 0.00))",
        7: "MULTILINESTRING ((0.00 0.00, 0.02 0.01))",
        13: "this is not wkt at all (",
    }
    for i, c in bad.items():
        poisoned.loc[poisoned.index[i], "content"] = c
    clean = wal_pdf.drop(wal_pdf.index[list(bad)])

    strict = _engine(spark, tmp_path, "strict")
    with pytest.raises(Exception):
        strict.ingest(to_spark(spark, poisoned), commits_per_epoch=2)

    q = CdcEngine(spark, str(tmp_path / "quar"), geom_type=G.LINE,
                  n_buckets=4, on_error="quarantine")
    q.create_tables(overwrite=True)
    q.ingest(to_spark(spark, poisoned), commits_per_epoch=2)
    ref = _engine(spark, tmp_path, "cleanref")
    ref.ingest(to_spark(spark, clean), commits_per_epoch=2)
    assert _seg_digest(q) == _seg_digest(ref)
    assert table_digest(q.relations.read()) == table_digest(ref.relations.read())

    dead = q.read_dead_letter().orderBy("commit", "repo", "path").collect()
    assert len(dead) == 3
    want = {
        (poisoned.iloc[i]["repo"], poisoned.iloc[i]["path"],
         poisoned.iloc[i]["commit"], c)
        for i, c in bad.items()
    }
    got = {(r["repo"], r["path"], r["commit"], r["content"]) for r in dead}
    assert got == want
    assert all(r["error"] for r in dead)

    # replay: watermark skips everything; dead rows unchanged
    q.ingest(to_spark(spark, poisoned), commits_per_epoch=2)
    assert q.read_dead_letter().count() == 3
    # maintenance keeps the dead-letter readable (compaction + expiry paths)
    q.maintain(max_log_files=0)
    assert q.read_dead_letter().count() == 3
    assert _seg_digest(q) == _seg_digest(ref)


def test_quarantine_clean_epochs_write_no_dead_snapshots(spark, tmp_path, wal_pdf):
    """A quarantine-mode ingest of a fully clean WAL must not commit one
    empty dead_letter snapshot per epoch (the slow path's per-epoch append
    is skipped when the epoch produced zero dead rows — only maintain()
    would otherwise have to compact the litter)."""
    q = CdcEngine(spark, str(tmp_path / "qclean"), geom_type=G.LINE,
                  n_buckets=4, on_error="quarantine")
    q.create_tables(overwrite=True)
    v0 = q.dead_letter.version()
    q.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)  # several epochs
    assert q.dead_letter.version() == v0          # zero dead commits
    assert q.read_dead_letter().count() == 0


def test_stream_quarantine_equals_batch(spark, tmp_path, wal_pdf):
    """Streaming drain (foreachBatch → engine.ingest) with quarantine:
    identical state AND dead rows to the batch quarantine ingest."""
    from linked_maps_spark.streaming import stream_ingest

    poisoned = wal_pdf.copy()
    poisoned.loc[poisoned.index[4], "content"] = "MULTILINESTRING ((0.005 0.00, 0.01 0.00))"
    wal_dir = str(tmp_path / "walq")
    to_spark(spark, poisoned).coalesce(2).write.parquet(wal_dir)

    batch = CdcEngine(spark, str(tmp_path / "bq"), geom_type=G.LINE,
                      n_buckets=4, on_error="quarantine")
    batch.create_tables(overwrite=True)
    batch.ingest(to_spark(spark, poisoned), commits_per_epoch=2)

    streamed = CdcEngine(spark, str(tmp_path / "sq"), geom_type=G.LINE,
                         n_buckets=4, on_error="quarantine")
    streamed.create_tables(overwrite=True)
    stream_ingest(streamed, wal_dir, str(tmp_path / "ckq"), commits_per_epoch=2)

    assert _seg_digest(streamed) == _seg_digest(batch)
    dead_cols = ["repo", "path", "commit", "error", "content"]
    assert table_digest(streamed.read_dead_letter(), dead_cols) == \
           table_digest(batch.read_dead_letter(), dead_cols)
    assert streamed.read_dead_letter().count() == 1


def test_rows_by_key_normalization_and_grouping():
    """_rows_by_key (the fold wrapper's list-based regrouping) matches the
    pandas groupby/to_dict contract exactly: NaN/pd.NA → None, editions
    arrays pass through untouched, scattered (non-contiguous) key rows
    regroup completely, keys bucket in first-appearance order, and
    event-less keys are skipped."""
    import numpy as np

    from linked_maps_spark.ingest import _STATE_COLS, _rows_by_key

    cols = ["repo", "path", "commit", "content", "lang", "_is_event"] + [
        c for c in _STATE_COLS
    ]
    base = {c: None for c in _STATE_COLS}
    rows = [
        # key A event, key B event, key A state, key B event  (interleaved)
        {"repo": "r", "path": "a", "commit": "c1", "content": "LINESTRING (0 0, 1 0)",
         "lang": "py", "_is_event": True, **base},
        {"repo": "r", "path": "b", "commit": "c1", "content": "LINESTRING (0 0, 0 1)",
         "lang": float("nan"), "_is_event": True, **base},
        {"repo": "r", "path": "a", "commit": None, "content": None, "lang": None,
         "_is_event": False, **{**base, "gid": "g1", "name": "n", "seq": 3,
                                "wkt": "LINESTRING (0 0, 1 0)",
                                "editions": np.array(["2000"], dtype=object),
                                "is_leaf": True, "retired": False}},
        {"repo": "r", "path": "b", "commit": "c2", "content": "LINESTRING (1 0, 1 1)",
         "lang": pd.NA, "_is_event": True, **base},
        # state-only key: must be skipped entirely
        {"repo": "r", "path": "z", "commit": None, "content": None, "lang": None,
         "_is_event": False, **{**base, "gid": "g9", "seq": 0}},
    ]
    pdf = pd.DataFrame(rows, columns=cols)
    got = list(_rows_by_key(pdf, ["lang"]))
    assert [(r, p) for r, p, _e, _s in got] == [("r", "a"), ("r", "b")]
    (ra, pa, ev_a, st_a), (rb, pb, ev_b, st_b) = got
    assert len(ev_a) == 1 and len(st_a) == 1 and len(ev_b) == 2 and st_b == []
    # NaN and pd.NA both normalized to None; plain values untouched
    assert ev_a[0]["lang"] == "py"
    assert ev_b[0]["lang"] is None and ev_b[1]["lang"] is None
    # seq survives as a number, editions array passes through by identity
    assert st_a[0]["seq"] == 3
    assert list(st_a[0]["editions"]) == ["2000"]
    assert st_a[0]["commit_created"] is None
    # event dicts carry exactly the event columns (repo/path/commit/content+extras)
    assert set(ev_a[0]) == {"repo", "path", "commit", "content", "lang"}
    assert set(st_a[0]) == {"repo", "path", "lang", *_STATE_COLS}


def test_fold_width_adaptive():
    """Fold-shuffle width: volume-sized, floored at defaultParallelism,
    capped at the configured count; unknown row stats disable the shrink."""
    from linked_maps_spark.ingest import _FOLD_ROWS_PER_TASK, _fold_width

    # small epoch at a wide config shrinks to the core floor
    assert _fold_width(128, 32, 32_000, 0) == 32
    # volume between floor and cap sizes by rows/task
    rows = 60 * _FOLD_ROWS_PER_TASK
    assert _fold_width(128, 32, rows, 0) == 60
    # events + state both count
    assert _fold_width(128, 32, rows // 2, rows - rows // 2) == 60
    # large epochs are unchanged (cap)
    assert _fold_width(128, 32, 10_000_000, 0) == 128
    # unknown manifest stats: conservative, no shrink
    assert _fold_width(128, 32, 100, None) == 128
    # never below the configured count when it IS the floor (test configs)
    assert _fold_width(4, 4, 490, 0) == 4


def test_plan_warm_micro_ingest(spark, tmp_path, wal_pdf, full):
    """The prewarm plan-compile path (a micro ingest into a throwaway
    warehouse) must leave no state behind and must not perturb a real
    ingest's results: digest equality against the shared fixture run."""
    import glob
    import os

    from linked_maps_spark.ingest import _plan_warm
    from linked_maps_spark.util import scratch_root

    _plan_warm(spark)  # blocking call of the background warm body
    # throwaway warehouse cleaned up (same scratch policy as the warm)
    assert not glob.glob(os.path.join(scratch_root(), "lms_planwarm_*"))
    # a real ingest after the warm is bit-identical to the fixture run
    eng_ref, _ = full
    eng = _engine(spark, tmp_path, "after_warm")
    eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    assert _seg_digest(eng) == _seg_digest(eng_ref)


def test_commit_log_epoch_numbering_summary_path(spark, tmp_path, wal_pdf):
    """Epoch ids come from the commit-log snapshot summary (O(1) manifest
    read); resumed ingests must keep numbering contiguous across calls."""
    eng = _engine(spark, tmp_path, "epochnum")
    eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2, max_epochs=1)
    eng.ingest(to_spark(spark, wal_pdf), commits_per_epoch=2)
    log = eng.commit_log.read().orderBy("epoch").collect()
    assert [r["epoch"] for r in log] == list(range(len(log)))
    assert len(log) == 3  # 5 commits / 2 per epoch
    # n_keys comes from the fold's own accounting now: every epoch touched
    # all N_KEYS keys (the synth WAL writes every key every commit)
    assert all(r["n_keys"] == N_KEYS for r in log)


def test_null_commit_fails_loudly(spark, tmp_path):
    """collect_set skips NULLs, which would silently drop a malformed row's
    events from every epoch — the commit collection must raise instead."""
    eng = _engine(spark, tmp_path, "nullcommit")
    wal = to_spark(spark, synth_change_log(n_keys=2, n_commits=2, seed=3))
    from linked_maps_spark.changelog import commit_label

    bad = wal.withColumn(
        "commit",
        F.when(F.col("commit") == commit_label(0), F.lit(None)).otherwise(
            F.col("commit")
        ),
    )
    with pytest.raises(ValueError, match="NULL commit"):
        eng.ingest(bad, commits_per_epoch=2)
