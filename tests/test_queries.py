"""CDC query surface (Q1–Q5), triples derivation, OSM linking, fixpoint."""

import pytest
import pyspark.sql.functions as F

from linked_maps_spark import geometry as G
from linked_maps_spark.changelog import commit_label, synth_change_log, to_spark
from linked_maps_spark.ingest import CdcEngine
from linked_maps_spark.osm_link import link_osm, segment_boxes, synth_osm_catalog
from linked_maps_spark.queries import (
    classify_changes,
    leaf_features,
    q1_edition,
    q2_edition_unique,
    q3_persisted,
    q4_retired,
    q5_persisted_with_osm,
)
from linked_maps_spark.triples import (
    GEO,
    build_triples,
    propagate_editions_fixpoint,
    to_ntriples,
)

N_KEYS, N_COMMITS, SEED = 5, 4, 33


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    eng = CdcEngine(
        spark, str(tmp_path_factory.mktemp("qwh") / "w"), geom_type=G.LINE, n_buckets=4
    )
    eng.create_tables(overwrite=True)
    wal = synth_change_log(n_keys=N_KEYS, n_commits=N_COMMITS, seed=SEED)
    eng.ingest(to_spark(spark, wal), commits_per_epoch=2)
    return eng


@pytest.fixture(scope="module")
def tables(eng):
    return eng.current_segments().cache(), eng.relations.read().cache()


def test_leaf_antijoin_equals_is_leaf_flag(tables):
    """P8 anti-join and the incrementally maintained flag must agree."""
    seg, rel = tables
    via_join = {r["gid"] for r in leaf_features(seg, rel).collect()}
    via_flag = {r["gid"] for r in seg.filter("is_leaf").collect()}
    assert via_join == via_flag


def test_q1_q2_q3_q4_semantics(tables):
    seg, rel = tables
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    q1 = {r["gid"] for r in q1_edition(seg, rel, y1).collect()}
    q2 = {r["gid"] for r in q2_edition_unique(seg, rel, y2).collect()}
    q3 = {r["gid"] for r in q3_persisted(seg, rel, y1, y2).collect()}
    q4 = {r["gid"] for r in q4_retired(seg, rel, y1, y2).collect()}
    assert q1, "edition y1 must have leaf features"
    # q3 ∪ q4 == q1; q3 ∩ q4 == ∅ (partition of q1 by y2 membership)
    assert q3 | q4 == q1
    assert not (q3 & q4)
    # q2 leaves carry y2 only → disjoint from q3 (which carries both)
    assert not (q2 & q3)


def test_classify_changes_partitions_leaves(tables):
    seg, rel = tables
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    rows = classify_changes(seg, rel, y1, y2).collect()
    n_leaves = seg.filter("is_leaf").count()
    assert len(rows) == n_leaves
    kinds = {r["change_kind"] for r in rows}
    assert kinds <= {"unchanged", "retired", "added", "other"}
    assert "unchanged" in kinds and "added" in kinds


def test_leaf_features_plans_no_aggregate(eng):
    """The leaf anti-join takes relations' parent column raw: no dedup
    aggregate (one more shuffle-map job under AQE) sits under the join."""
    leaves = leaf_features(eng.current_segments(), eng.relations.read())
    plan = leaves._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "HashAggregate" not in plan, plan


#: Spark jobs of ``count()`` over each CDC read on this module's warehouse,
#: read fresh from the tables.  Spark jobs per read may only go down: lower
#: this bound when a change removes a job, never raise it.
READ_JOBS = 3


def test_cdc_read_spark_jobs_pinned(spark, eng):
    from tests.test_ingest import _newest_job_id

    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    reads = {
        "q1": lambda s, r: q1_edition(s, r, y1),
        "q2": lambda s, r: q2_edition_unique(s, r, y2),
        "q3": lambda s, r: q3_persisted(s, r, y1, y2),
        "q4": lambda s, r: q4_retired(s, r, y1, y2),
        "classify": lambda s, r: classify_changes(s, r, y1, y2),
    }
    jobs = {}
    for name, build in reads.items():
        df = build(eng.current_segments(), eng.relations.read())
        before = _newest_job_id(spark)
        df.count()
        jobs[name] = _newest_job_id(spark) - before
    assert max(jobs.values()) <= READ_JOBS, jobs


#: py4j commands of one read round on this module's warehouse: the tables
#: read fresh, then build + ``count()`` of q1–q4, ``classify_changes`` and
#: ``build_triples``.  Driver plan construction may only get cheaper: lower
#: this bound when a change removes round trips, never raise it.
READ_ROUND_PY4J = 442


def test_cdc_read_py4j_pinned(eng, py4j_calls):
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    before = py4j_calls()
    s, r = eng.current_segments(), eng.relations.read()
    for df in (
        q1_edition(s, r, y1),
        q2_edition_unique(s, r, y2),
        q3_persisted(s, r, y1, y2),
        q4_retired(s, r, y1, y2),
        classify_changes(s, r, y1, y2),
        build_triples(s, r),
    ):
        df.count()
    calls = py4j_calls() - before
    print("read round py4j calls:", calls)
    assert calls <= READ_ROUND_PY4J, calls


def test_editions_fixpoint_matches_fold_propagation(tables):
    """J3 iterative join == fold's creation-time propagation."""
    seg, rel = tables
    fix = {
        (r["gid"], r["edition"])
        for r in propagate_editions_fixpoint(seg, rel).collect()
    }
    fold = {
        (r["gid"], e)
        for r in seg.select("gid", "editions").collect()
        for e in r["editions"]
    }
    assert fix == fold


def test_triples_counts(tables):
    seg, rel = tables
    t = build_triples(seg, rel).cache()
    n_seg = seg.count()
    n_rel = rel.count()
    by_p = {r["p"]: r["n"] for r in t.groupBy("p").agg(F.count("*").alias("n")).collect()}
    assert by_p[GEO + "sfContains"] == n_rel
    assert by_p[GEO + "sfWithin"] == n_rel
    assert by_p[GEO + "hasGeometry"] == n_seg
    assert by_p[GEO + "asWKT"] == n_seg
    # every feature node typed
    assert by_p["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"] == 2 * n_seg
    lines = to_ntriples(t).collect()
    assert all(r["value"].endswith(" .") for r in lines[:20])
    t.unpersist()


def test_osm_catalog_and_boxes_pinned_digests(spark):
    """F8/F9 cross-process determinism: catalog and sample boxes from a fixed
    input must hash to committed constants.  Round-1 seeded the RNG from
    PYTHONHASHSEED-salted ``hash(gid)``, so same-process re-run tests passed
    while every new interpreter produced different boxes; the constants below
    were verified identical under two different PYTHONHASHSEED values."""
    import hashlib

    seg = spark.createDataFrame(
        [
            ("gid-a", "LINESTRING (0.00 0.00, 0.01 0.00, 0.02 0.00)"),
            ("gid-b", "LINESTRING (1.00 1.00, 1.00 1.01, 1.01 1.01)"),
        ],
        "gid string, wkt string",
    )

    def digest(pdf, cols):
        rows = sorted(
            tuple(f"{v:.9f}" if isinstance(v, float) else str(v) for v in r)
            for r in pdf[cols].itertuples(index=False)
        )
        return hashlib.md5(repr(rows).encode()).hexdigest()

    cat = synth_osm_catalog(spark, seg, seed=4).toPandas()
    box = segment_boxes(seg, samples=4, seed=9).toPandas()
    assert digest(cat, ["osm_id", "osm_type", "lat", "lng"]) == (
        "eae59f97794fdf3941400b17b736b49c"
    )
    assert digest(box, ["gid", "box_id", "s", "w", "n", "e"]) == (
        "21e338f7f0207de41f6d67d6a7522ab3"
    )


def test_batch_line_ids_equals_per_row_parse():
    """The chunk parse behind segment_boxes/synth_osm_catalog (one
    G.parse_lines pass per Arrow chunk) gives every row the spec's edge set
    (incl. tombstones, EMPTY, and shared edges between rows)."""
    from linked_maps_spark import geometry as G
    from linked_maps_spark.changelog import synth_change_log

    from .oracle_ref import spec_parse_line

    wal = synth_change_log(n_keys=12, n_commits=3, seed=31, tombstone_every=3)
    wkts = list(wal["content"]) + ["", "MULTILINESTRING EMPTY",
                                   "LINESTRING (0.00 0.00, 0.03 0.00)"]
    batched = G.parse_lines(wkts)
    assert len(batched) == len(wkts)
    for w, got in zip(wkts, batched):
        assert got.tolist() == (spec_parse_line(w) if w else []), w[:60]


def test_osm_link_deterministic_and_q5(spark, tables):
    seg, rel = tables
    catalog = synth_osm_catalog(spark, seg, seed=4).cache()
    l1 = link_osm(seg, catalog, filter_tag="railway").collect()
    l2 = link_osm(seg, catalog, filter_tag="railway").collect()
    assert sorted(r["gid"] for r in l1) == sorted(r["gid"] for r in l2)
    by_gid = {r["gid"]: r["osm_uris"] for r in l1}
    assert {u for us in by_gid.values() for u in us} and all(
        u.startswith("https://www.openstreetmap.org/") for us in by_gid.values() for u in us
    )
    links = link_osm(seg, catalog, filter_tag="railway")
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    q5 = q5_persisted_with_osm(seg, rel, links, y1, y2)
    assert {"gid", "wkt", "osm_uri"} == set(q5.columns)
    catalog.unpersist()
