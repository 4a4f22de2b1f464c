"""LakeTable: snapshots, MERGE, schema evolution, time travel, pruning."""

import os

import pytest

from linked_maps_spark.lakehouse import CommitConflict, LakeTable
from linked_maps_spark.util import table_digest


@pytest.fixture()
def tbl(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), "k string, v long", key_cols=["k"], n_buckets=4
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_create_and_read_empty(tbl):
    assert tbl.version() == 0
    assert tbl.read().count() == 0
    assert [f.name for f in tbl.schema().fields] == ["k", "v"]


def test_append_and_time_travel(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    tbl.append(_df(spark, [("b", 2)]))
    assert tbl.version() == 2
    assert tbl.read().count() == 2
    assert tbl.read(version=1).count() == 1
    assert tbl.read(version=0).count() == 0


def test_merge_upsert_updates_and_inserts(spark, tbl):
    tbl.append(_df(spark, [("a", 1), ("b", 2)]))
    tbl.merge_upsert(_df(spark, [("b", 20), ("c", 3)]))
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_merge_idempotent(spark, tbl):
    src = _df(spark, [("a", 1), ("b", 2)])
    tbl.merge_upsert(src)
    d1 = table_digest(tbl.read())
    tbl.merge_upsert(src)  # replay
    assert table_digest(tbl.read()) == d1


def test_merge_dedups_source_last_writer_wins(spark, tbl):
    src = spark.createDataFrame(
        [("a", 1, 1), ("a", 9, 2)], "k string, v long, ord long"
    )
    t2 = LakeTable.create(
        tbl.spark, tbl.path + "_o", "k string, v long, ord long", key_cols=["k"], n_buckets=2
    )
    t2.merge_upsert(src, order_col="ord")
    assert t2.read().collect()[0]["v"] == 9


def test_merge_only_rewrites_touched_buckets(spark, tbl):
    tbl.append(_df(spark, [(f"k{i}", i) for i in range(50)]))
    files_before = {f["path"]: f for f in tbl.snapshot()["files"]}
    tbl.merge_upsert(_df(spark, [("k0", 100)]))
    snap = tbl.snapshot()
    src_bucket = {f["bucket"] for f in snap["files"] if f["path"] not in files_before}
    assert len(src_bucket) == 1  # exactly one bucket rewritten
    untouched = [f for f in snap["files"] if f["path"] in files_before]
    assert untouched and all(f["bucket"] not in src_bucket for f in untouched)


def test_schema_evolution_on_merge(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    evolved = spark.createDataFrame([("b", 2, "x")], "k string, v long, extra string")
    tbl.merge_upsert(evolved)
    got = {r["k"]: (r["v"], r["extra"]) for r in tbl.read().collect()}
    assert got == {"a": (1, None), "b": (2, "x")}  # old rows read NULL
    # old snapshot still readable with its own (pre-evolution) schema
    assert "extra" not in tbl.read(version=1).columns


def test_commit_conflict(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    snap = tbl.snapshot()
    with pytest.raises(CommitConflict):
        tbl._commit_snapshot(
            tbl.version(), tbl.schema(), snap["files"], "append", {}
        )


def test_bucket_pruned_read(spark, tbl):
    tbl.append(_df(spark, [(f"k{i}", i) for i in range(20)]))
    all_buckets = {f["bucket"] for f in tbl.snapshot()["files"]}
    some = sorted(all_buckets)[:1]
    pruned = tbl.read(buckets=some)
    assert 0 < pruned.count() < 20


def test_summary_lookup(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]), summary={"epoch": 7})
    tbl.append(_df(spark, [("b", 2)]))
    assert tbl.latest_summary_value("epoch") == 7


def test_expire_snapshots(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    tbl.merge_upsert(_df(spark, [("a", 2)]))
    tbl.merge_upsert(_df(spark, [("b", 3)]))
    import os

    n_before = sum(
        len(files) for _r, _d, files in os.walk(os.path.join(tbl.path, "data"))
    )
    deleted = tbl.expire_snapshots(keep_last=1)
    assert deleted > 0
    # current state fully readable after expiration
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {"a": 2, "b": 3}
    # expired versions no longer time-travelable
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tbl.snapshot(0)


def test_compact_files_binpack_touches_only_fragmented_buckets(spark, tbl):
    # 6 single-row appends land 6 files in whichever buckets the keys hash
    # to; compaction must coalesce ONLY buckets over the threshold and carry
    # every other bucket's files over by pointer (same manifest paths).
    for i in range(6):
        tbl.append(_df(spark, [(f"k{i}", i)]))
    before = table_digest(tbl.read())
    snap = tbl.snapshot()
    per_bucket: dict[int, list[str]] = {}
    for f in snap["files"]:
        per_bucket.setdefault(f["bucket"], []).append(f["path"])
    max_files = 1
    fragmented = {b for b, ps in per_bucket.items() if len(ps) > max_files}
    assert fragmented, "fixture must fragment at least one bucket"
    compact = {b: ps for b, ps in per_bucket.items() if len(ps) <= max_files}

    v = tbl.compact_files(max_files_per_bucket=max_files)
    assert v == tbl.version()
    after = tbl.snapshot()
    per_after: dict[int, list[str]] = {}
    for f in after["files"]:
        per_after.setdefault(f["bucket"], []).append(f["path"])
    # fragmented buckets: exactly one file now
    for b in fragmented:
        assert len(per_after[b]) == 1
    # untouched buckets: identical manifest entries (no rewrite happened)
    for b, ps in compact.items():
        assert sorted(per_after[b]) == sorted(ps)
    # layout-only: content digest unchanged
    assert table_digest(tbl.read()) == before
    # already-compact table: no-op, no new snapshot
    assert tbl.compact_files(max_files_per_bucket=max_files) == v
    assert tbl.version() == v


def test_zorder_clustering_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order vs lexicographic clustering on a 64×64 grid in ONE bucket,
    16 files: a predicate on the TRAILING dimension alone prunes most
    z-clustered files (each holds a ~16×16 tile, narrow in BOTH columns)
    but zero lexicographically-clustered ones (every x-stripe file spans
    all of y).  Content digests unchanged by either rewrite."""
    from linked_maps_spark.util import table_digest

    t = LakeTable.create(
        spark, str(tmp_path / "z"), "k long, x long, y long",
        key_cols=["k"], n_buckets=1,
    )
    rows = [(64 * x + y, x, y) for x in range(64) for y in range(64)]
    t.append(spark.createDataFrame(rows, "k long, x long, y long"))
    before = table_digest(t.read())

    def files_hit(preds):
        return len(t.files_where(preds))

    t.cluster_files(["x", "y"], files_per_bucket=16)
    t.analyze()
    lex_total = len(t.snapshot()["files"])
    lex_y_hit = files_hit([("y", "<=", 7)])
    assert lex_y_hit == lex_total  # x-stripes all span y: nothing prunes
    assert table_digest(t.read()) == before

    t.cluster_files(["x", "y"], files_per_bucket=16, zorder=True, z_bits=6)
    t.analyze()
    z_total = len(t.snapshot()["files"])
    z_y_hit = files_hit([("y", "<=", 7)])
    z_x_hit = files_hit([("x", "<=", 7)])
    assert z_y_hit <= z_total // 2  # trailing dim now prunes
    assert z_x_hit <= z_total // 2  # leading dim still prunes
    assert table_digest(t.read()) == before


def test_zorder_autoquantizes_wide_domains(spark, tmp_path):
    """Columns wider than 2^z_bits are right-shifted to fit (recorded in
    the commit summary), so the curve keeps real locality instead of
    interleaving masked noise bits; negative values are rejected."""
    from linked_maps_spark.util import table_digest

    t = LakeTable.create(
        spark, str(tmp_path / "w"), "k long, ts_sec long, size long",
        key_cols=["k"], n_buckets=1,
    )
    base = 1_700_000_000  # epoch-seconds scale >> 2^16
    rows = [
        (64 * x + y, base + 3600 * x, 1_000_000 + 17_000 * y)
        for x in range(64)
        for y in range(64)
    ]
    t.append(spark.createDataFrame(rows, "k long, ts_sec long, size long"))
    before = table_digest(t.read())
    t.cluster_files(["ts_sec", "size"], files_per_bucket=16, zorder=True)
    t.analyze()
    assert t.snapshot()["summary"]["z_shifts"] != [0, 0]
    # both dimensions prune despite the wide domains
    total = len(t.snapshot()["files"])
    hit_ts = len(t.files_where([("ts_sec", "<=", base + 3600 * 7)]))
    hit_sz = len(t.files_where([("size", "<=", 1_000_000 + 17_000 * 7)]))
    assert hit_ts <= total // 2 and hit_sz <= total // 2
    assert table_digest(t.read()) == before
    import pytest as _pytest

    neg = LakeTable.create(
        spark, str(tmp_path / "n"), "k long, a long, b long",
        key_cols=["k"], n_buckets=1,
    )
    neg.append(spark.createDataFrame([(1, -3, 4)], "k long, a long, b long"))
    with _pytest.raises(ValueError, match="non-negative"):
        neg.cluster_files(["a", "b"], zorder=True)


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """Delta CHECK analog: violations raise BEFORE anything lands (table
    version and content unchanged); add_constraint validates existing rows
    and is metadata-only; NULL fails (strict)."""
    from linked_maps_spark.lakehouse import ConstraintViolation

    t = LakeTable.create(
        spark, str(tmp_path / "c"), "k string, v long", key_cols=["k"],
        n_buckets=2, constraints={"v_nonneg": "v >= 0"},
    )
    t.append(_df(spark, [("a", 1)]))
    for op in (t.append, t.merge_upsert, t.overwrite):
        v = t.version()
        with pytest.raises(ConstraintViolation, match="v_nonneg"):
            op(_df(spark, [("b", -5)]))
        assert t.version() == v  # nothing committed
    with pytest.raises(ConstraintViolation):  # strict: NULL fails
        t.append(_df(spark, [("n", None)]))
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1}

    # ALTER ADD CONSTRAINT: rejected while violating data exists …
    t.append(_df(spark, [("z", 99)]))
    with pytest.raises(ConstraintViolation, match="v_small"):
        t.add_constraint("v_small", "v < 50")
    # … accepted once clean, metadata-only, then enforced
    t.merge_upsert(_df(spark, [("z", 10)]))
    files = {f["path"] for f in t.snapshot()["files"]}
    t.add_constraint("v_small", "v < 50")
    assert {f["path"] for f in t.snapshot()["files"]} == files
    with pytest.raises(ConstraintViolation, match="v_small"):
        t.append(_df(spark, [("w", 60)]))
    t.append(_df(spark, [("w", 40)]))  # passes both


def test_zvalue_col_matches_python_interleave(spark):
    """The JVM shift/mask spreading is bit-exact vs a naive python Morton
    interleave across the full corner/boundary set."""
    from pyspark.sql import functions as F

    from linked_maps_spark.util import zvalue_col

    def morton(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z

    edge = [0, 1, 2, 3, 7, 8, 255, 256, 0x5555, 0xAAAA, 0xFFFF]
    rows = [(a, b) for a in edge for b in edge]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", zvalue_col(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == morton(r["a"], r["b"]), (r["a"], r["b"])


def test_rebucket_preserves_content_and_prunes(spark, tbl):
    rows = [(f"k{i}", i) for i in range(40)]
    tbl.append(_df(spark, rows))
    d1 = table_digest(tbl.read(), ["k", "v"])
    v = tbl.rebucket(16)
    snap = tbl.snapshot()
    assert snap["n_buckets"] == 16 and snap["operation"] == "rebucket"
    assert tbl.version() == v
    assert table_digest(tbl.read(), ["k", "v"]) == d1
    # new layout actually spreads across more buckets, and merge touches fewer
    assert len({f["bucket"] for f in snap["files"]}) > 4
    tbl.merge_upsert(_df(spark, [("k1", 100)]))
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got["k1"] == 100 and len(got) == 40


def test_adopt_merge_links_external_files(spark, tbl, tmp_path):
    """adopt_merge: a MERGE commit whose data files were written by an
    external job (the ingest's combined epoch write) — files hard-link into
    the manifest, touched buckets' old files drop, untouched carry over,
    and the returned commit callable links the snapshot."""
    import os

    from pyspark.sql import functions as F

    tbl.append(_df(spark, [(f"k{i}", i) for i in range(20)]))
    before = {f["path"] for f in tbl.snapshot()["files"]}
    # externally write the post-merge content of k0's bucket: every row of
    # that bucket with k0's value updated
    src = _df(spark, [("k0", 100)])
    b0 = tbl.buckets_for(src)
    assert len(b0) == 1
    merged_rows = (
        tbl.read(buckets=b0).join(src.select("k"), "k", "left_anti").unionByName(src)
    )
    ext = str(tmp_path / "t" / "ext")  # same fs as the table (hard links)
    merged_rows.withColumn("_bucket", tbl.bucket_expr(merged_rows)).write.partitionBy(
        "_bucket"
    ).parquet(ext)
    files = []
    for bdir in os.listdir(ext):
        if bdir.startswith("_bucket="):
            b = int(bdir.split("=", 1)[1])
            files += [
                (os.path.join(ext, bdir, p), b)
                for p in os.listdir(os.path.join(ext, bdir))
                if p.endswith(".parquet")
            ]
    commit = tbl.adopt_merge(files, tbl.schema(), b0, summary={"epoch": 9})
    assert tbl.version() == 1  # nothing committed yet (deferred)
    v = commit()
    assert v == 2 and tbl.latest_summary_value("epoch") == 9
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got["k0"] == 100 and len(got) == 20
    snap = tbl.snapshot()
    # untouched buckets' files carried over; touched bucket fully replaced
    assert {f["bucket"] for f in snap["files"] if f["path"] in before} == (
        {f["bucket"] for f in snap["files"]} - set(b0)
    )
    # adopted files are links, not copies: same inode as the external file
    adopted = [f for f in snap["files"] if f["path"] not in before]
    assert adopted
    ino_t = {os.stat(os.path.join(tbl.path, f["path"])).st_ino for f in adopted}
    ino_e = {os.stat(p).st_ino for p, _ in files}
    assert ino_t <= ino_e


def test_rebucket_is_atomic_single_commit(spark, tbl):
    """A crash mid-rebucket must never leave a committed snapshot whose
    n_buckets disagrees with its files' bucket tags — a bucket-pruned read
    would silently drop keys (resume-state loss, forked lineages).  Rebucket
    is write-first + ONE atomic commit: a crash before the commit leaves the
    old snapshot fully intact."""
    tbl.append(_df(spark, [(f"k{i}", i) for i in range(40)]))
    d1 = table_digest(tbl.read(), ["k", "v"])
    v_before = tbl.version()

    def boom(*a, **k):
        raise RuntimeError("injected crash before rebucket commit")

    orig = tbl._commit_snapshot
    tbl._commit_snapshot = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        tbl.rebucket(16)
    tbl._commit_snapshot = orig
    # nothing committed: version, bucket count, and reads all unchanged
    assert tbl.version() == v_before
    assert tbl.snapshot()["n_buckets"] == 4
    assert table_digest(tbl.read(), ["k", "v"]) == d1
    # the corruption mode was: new count + old file tags → key hashes to a
    # bucket its file isn't tagged with → invisible to a pruned read
    one = tbl.read().limit(1)
    hit = tbl.read(buckets=tbl.buckets_for(one)).join(
        one.select("k"), "k", "left_semi"
    )
    assert hit.count() == 1
    # the retried rebucket lands as exactly one new snapshot
    v = tbl.rebucket(16)
    assert v == v_before + 1
    snap = tbl.snapshot()
    assert snap["n_buckets"] == 16 and snap["operation"] == "rebucket"
    assert table_digest(tbl.read(), ["k", "v"]) == d1


def test_maybe_rebucket_policy(spark, tmp_path):
    from linked_maps_spark import geometry as G
    from linked_maps_spark.changelog import synth_change_log, to_spark
    from linked_maps_spark.ingest import CdcEngine

    eng = CdcEngine(spark, str(tmp_path / "rb"), geom_type=G.LINE, n_buckets=2)
    eng.create_tables(overwrite=True)
    eng.ingest(to_spark(spark, synth_change_log(n_keys=6, n_commits=3, seed=3)),
               commits_per_epoch=3)
    assert eng.segments.snapshot()["n_buckets"] == 2  # default target never hit
    d1 = table_digest(eng.current_segments(), ["gid", "wkt", "seq"])
    eng.maybe_rebucket(target_bucket_bytes=1024)  # force the policy
    assert eng.segments.snapshot()["n_buckets"] > 2
    assert table_digest(eng.current_segments(), ["gid", "wkt", "seq"]) == d1
    # epoch pruning still works against the new layout
    leaves, buckets = eng._pruned_leaves(
        eng.current_segments().select("repo", "path").distinct().limit(1)
    )
    assert leaves.count() > 0 and buckets


# ------------------------------------------------------- change data feed


def _cdf_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_delete_where_semantics_and_cow(spark, tbl):
    tbl.append(_df(spark, [("a", 1), ("b", 2), ("c", 3), ("d", 4)]))
    before = {f["path"] for f in tbl.snapshot()["files"]}
    v = tbl.delete_where("v >= 3")
    assert tbl.snapshot(v)["operation"] == "delete"
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {"a": 1, "b": 2}
    # COW: buckets without a match carry their old files over unchanged
    untouched = {f["path"] for f in tbl.snapshot()["files"]} & before
    kept_buckets = {
        tbl.buckets_for(_df(spark, [("a", 1)]))[0],
        tbl.buckets_for(_df(spark, [("b", 2)]))[0],
    }
    deleted_buckets = {
        tbl.buckets_for(_df(spark, [("c", 3)]))[0],
        tbl.buckets_for(_df(spark, [("d", 4)]))[0],
    }
    if kept_buckets - deleted_buckets:  # a purely-kept bucket exists
        assert untouched


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "n"), "k string, v long", key_cols=["k"], n_buckets=2
    )
    t.append(
        spark.createDataFrame([("a", 1), ("b", None)], "k string, v long")
    )
    t.delete_where("v > 0")  # NULL -> not deleted (ANSI DELETE)
    assert {r["k"] for r in t.read().collect()} == {"b"}


def test_delete_where_noop_commits_version(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    v0 = tbl.version()
    v = tbl.delete_where("v > 99")
    assert v == v0 + 1
    assert tbl.read().count() == 1


def test_changes_insert_update_delete(spark, tbl):
    tbl.merge_upsert(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))  # v1
    tbl.merge_upsert(_df(spark, [("b", 20), ("d", 4)]))           # v2
    tbl.delete_where("k = 'c'")                                    # v3
    got = _cdf_rows(tbl.changes(1, 3))
    assert got == [
        ("b", 2, "update_preimage"),
        ("b", 20, "update_postimage"),
        ("c", 3, "delete"),
        ("d", 4, "insert"),
    ]
    # sub-ranges compose
    assert _cdf_rows(tbl.changes(2, 3)) == [("c", 3, "delete")]
    assert ("d", 4, "insert") in _cdf_rows(tbl.changes(1, 2))
    # identical versions diff to nothing; whole-range from v0 = all inserts
    assert tbl.changes(3, 3).count() == 0
    assert {t for *_, t in _cdf_rows(tbl.changes(0, 3))} == {"insert"}


def test_changes_prunes_unchanged_buckets(spark, tmp_path, monkeypatch):
    t = LakeTable.create(
        spark, str(tmp_path / "p"), "k string, v long", key_cols=["k"], n_buckets=8
    )
    t.merge_upsert(
        spark.createDataFrame([(f"k{i}", i) for i in range(64)], "k string, v long")
    )
    delta = spark.createDataFrame([("k0", 99)], "k string, v long")
    t.merge_upsert(delta)  # touches only k0's bucket
    touched = set(t.buckets_for(delta))
    seen: list = []
    orig = LakeTable.read

    def spy(self, version=None, buckets=None):
        seen.append(buckets)
        return orig(self, version, buckets)

    monkeypatch.setattr(LakeTable, "read", spy)
    got = _cdf_rows(t.changes(1, 2))
    assert got == [("k0", 0, "update_preimage"), ("k0", 99, "update_postimage")]
    # every read during the diff was pruned to exactly the touched buckets
    assert seen and all(b is not None and set(b) == touched for b in seen)


def test_changes_across_rebucket_falls_back_and_stays_correct(spark, tbl):
    tbl.merge_upsert(_df(spark, [("a", 1), ("b", 2)]))  # v1
    tbl.rebucket(8)                                      # v2: layout-only
    tbl.merge_upsert(_df(spark, [("a", 10)]))            # v3
    assert tbl._changed_buckets(tbl.snapshot(1), tbl.snapshot(3)) is None
    assert _cdf_rows(tbl.changes(1, 3)) == [
        ("a", 1, "update_preimage"),
        ("a", 10, "update_postimage"),
    ]
    # layout-only rebucket alone diffs to nothing
    assert tbl.changes(1, 2).count() == 0


def test_changes_schema_evolution_old_side_null_filled(spark, tbl):
    tbl.merge_upsert(_df(spark, [("a", 1)]))  # v1
    tbl.merge_upsert(
        spark.createDataFrame([("a", 1, "x")], "k string, v long, tag string")
    )  # v2 adds tag; a's (v, tag) goes (1, NULL) -> (1, 'x')
    got = set(_cdf_rows(tbl.changes(1, 2)))
    assert got == {("a", 1, None, "update_preimage"), ("a", 1, "x", "update_postimage")}


def test_changes_requires_keys_and_ordered_versions(spark, tmp_path, tbl):
    log = LakeTable.create(spark, str(tmp_path / "log"), "m string", key_cols=[])
    with pytest.raises(ValueError, match="key_cols"):
        log.changes(0)
    with pytest.raises(ValueError, match="from_version"):
        tbl.changes(1, 0)


def test_read_appended_incremental(spark, tmp_path):
    log = LakeTable.create(
        spark, str(tmp_path / "l"), "m string, i long", key_cols=[]
    )
    log.append(spark.createDataFrame([("a", 1)], "m string, i long"))
    log.append(spark.createDataFrame([("b", 2), ("c", 3)], "m string, i long"))
    assert {r["m"] for r in log.read_appended(1).collect()} == {"b", "c"}
    assert {r["m"] for r in log.read_appended(0, 2).collect()} == {"a", "b", "c"}
    assert log.read_appended(2, 2).count() == 0


def test_read_appended_rejects_rewrites(spark, tbl):
    tbl.merge_upsert(_df(spark, [("a", 1)]))
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_appended(0)


def test_stream_read_tails_appends_exactly_once(spark, tmp_path):
    """stream_read: each appended file is consumed exactly once across two
    checkpointed availableNow drains (the 'consume the lakehouse as a
    stream' surface for the append-only log tables)."""
    log = LakeTable.create(
        spark, str(tmp_path / "sl"), "m string, i long", key_cols=[]
    )
    log.append(spark.createDataFrame([("a", 1), ("b", 2)], "m string, i long"))
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    def drain():
        q = (
            log.stream_read()
            .writeStream.foreachBatch(
                lambda df, _eid: out.extend(tuple(r) for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(out) == [("a", 1), ("b", 2)]
    log.append(spark.createDataFrame([("c", 3)], "m string, i long"))
    drain()  # same checkpoint: only the new file lands
    assert sorted(out) == [("a", 1), ("b", 2), ("c", 3)]


def test_rollback_restores_content_without_rewrite(spark, tbl):
    """rollback_to commits a NEW snapshot sharing the old version's files —
    content identical to the target, history preserved, zero data rewritten;
    the CDC feed across the rollback yields the compensating events."""
    tbl.append(_df(spark, [("a", 1), ("b", 2)]))
    good = tbl.version()
    good_digest = table_digest(tbl.read())
    good_files = {f["path"] for f in tbl.snapshot()["files"]}
    tbl.merge_upsert(_df(spark, [("b", 99), ("c", 3)]))  # the bad commit
    bad = tbl.version()

    v = tbl.rollback_to(good)
    assert v == bad + 1 and tbl.version() == v  # history preserved, new head
    assert table_digest(tbl.read()) == good_digest
    assert {f["path"] for f in tbl.snapshot()["files"]} == good_files  # shared
    assert tbl.snapshot()["operation"] == "rollback"
    assert tbl.snapshot()["summary"]["rollback_of"] == good
    # compensating CDC events across the rollback: c removed, b restored
    ch = {(r["k"], r["_change_type"]): r["v"]
          for r in tbl.changes(bad, v).collect()}
    assert ch[("c", "delete")] == 3
    assert ch[("b", "update_preimage")] == 99
    assert ch[("b", "update_postimage")] == 2
    # rolling back to the current head is a no-op
    assert tbl.rollback_to(v) == v
    # writes continue normally on the new head
    tbl.append(_df(spark, [("d", 4)]))
    assert tbl.read().count() == 3


def test_rollback_to_expired_snapshot_raises(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    tbl.merge_upsert(_df(spark, [("a", 2)]))
    tbl.merge_upsert(_df(spark, [("a", 3)]))
    tbl.expire_snapshots(keep_last=2)
    with pytest.raises(FileNotFoundError):
        tbl.rollback_to(0)


def test_append_arrow_driver_side(spark, tmp_path):
    """append_arrow writes accounting rows with zero Spark jobs: read-back
    equals a normal append, time travel and footer stats work, nulls
    round-trip, a crashed version directory is replaced, and the guards
    (keyed table, constrained table, schema mismatch) all refuse."""
    import pyarrow as pa

    log = LakeTable.create(
        spark, str(tmp_path / "log"), "epoch long, n long, note string",
        key_cols=[], n_buckets=1,
    )
    schema = pa.schema(
        [("epoch", pa.int64()), ("n", pa.int64()), ("note", pa.string())]
    )
    t1 = pa.Table.from_pylist(
        [{"epoch": 0, "n": 5, "note": "a"}, {"epoch": 0, "n": None, "note": None}],
        schema=schema,
    )
    commit = log.append_arrow(t1, summary={"epoch": 0}, defer_commit=True)
    assert log.version() == 0  # nothing visible before commit
    assert commit() == 1
    got = sorted(
        ((r["epoch"], r["n"], r["note"]) for r in log.read().collect()),
        key=repr,
    )
    assert got == sorted([(0, 5, "a"), (0, None, None)], key=repr)
    # footer stats landed in the manifest (file-skipping keeps working)
    entry = log.snapshot()["files"][-1]
    assert entry["rows"] == 2 and "stats" in entry
    # mixing writers is fine: spark append on top, arrow rows still there
    log.append(spark.createDataFrame([(1, 7, "b")], "epoch long, n long, note string"))
    assert log.read().count() == 3
    assert log.read(version=1).count() == 2  # time travel
    # crashed-attempt directory for the next version is replaced, not merged
    vdir = os.path.join(str(tmp_path / "log"), "data", "v3")
    os.makedirs(os.path.join(vdir, "_bucket=0"))
    open(os.path.join(vdir, "_bucket=0", "junk.parquet"), "w").close()
    log.append_arrow(pa.Table.from_pylist([{"epoch": 2, "n": 1, "note": "c"}],
                                          schema=schema))
    assert log.read().count() == 4

    with pytest.raises(ValueError, match="schema"):
        log.append_arrow(pa.Table.from_pylist([{"epoch": 3}],
                                              schema=pa.schema([("epoch", pa.int64())])))
    keyed = LakeTable.create(
        spark, str(tmp_path / "keyed"), "k string, v long",
        key_cols=["k"], n_buckets=2,
    )
    with pytest.raises(ValueError, match="key-less"):
        keyed.append_arrow(t1)
    guarded = LakeTable.create(
        spark, str(tmp_path / "guarded"), "epoch long, n long, note string",
        key_cols=[], n_buckets=1,
    )
    guarded.add_constraint("n_nonneg", "n >= 0")
    with pytest.raises(ValueError, match="constraint"):
        guarded.append_arrow(t1)


def test_meta_tables(spark, tbl):
    """meta_snapshots/meta_files expose the manifests as DataFrames (the
    Iceberg snapshots/files metadata tables): counts track commits, stats
    JSON round-trips, empty table yields empty typed frames, and expired
    snapshots drop out."""
    import json as _json

    empty = tbl.meta_snapshots()
    assert empty.count() == 1  # the create commit
    tbl.append(_df(spark, [("a", 1), ("b", 2)]))
    tbl.merge_upsert(_df(spark, [("a", 9)]))
    snaps = {r["version"]: r for r in tbl.meta_snapshots().collect()}
    assert set(snaps) == {0, 1, 2}
    assert snaps[1]["operation"] == "append"
    assert snaps[2]["operation"] == "merge" or snaps[2]["operation"]
    assert snaps[2]["n_rows"] >= 2
    files = tbl.meta_files().collect()
    assert {f["bucket"] for f in files} <= set(range(4))
    assert all(f["rows"] >= 1 for f in files)
    stats = [_json.loads(f["stats"]) for f in files if f["stats"]]
    assert stats and any("k" in s for s in stats)  # per-column bounds present
    # time travel: the v1 file listing differs from head
    v1_paths = {f["path"] for f in tbl.meta_files(version=1).collect()}
    head_paths = {f["path"] for f in files}
    assert v1_paths != head_paths
    # expiry drops metadata rows too
    tbl.expire_snapshots(keep_last=1)
    assert {r["version"] for r in tbl.meta_snapshots().collect()} == {2}
