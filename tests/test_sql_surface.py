"""SQL front-end parity: spark.sql Q1–Q5 ≡ the DataFrame plans, plus the
osm.jl round-trip and the Turtle-prefix sink."""

from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest

from linked_maps_spark import geometry as G
from linked_maps_spark.changelog import commit_label, synth_change_log, to_spark
from linked_maps_spark.ingest import CdcEngine
from linked_maps_spark.jsonlines import export_jl, read_jl
from linked_maps_spark.osm_link import link_osm, synth_osm_catalog
from linked_maps_spark.queries import (
    leaf_features,
    q1_edition,
    q2_edition_unique,
    q3_persisted,
    q4_retired,
    q5_persisted_with_osm,
)
from linked_maps_spark.sql_surface import (
    SQL_QUERIES,
    register_views,
    sql_q1_edition,
    sql_q2_edition_unique,
    sql_q3_persisted,
    sql_q4_retired,
    sql_q5_persisted_with_osm,
)
from linked_maps_spark.triples import build_triples, write_turtle

N_KEYS, N_COMMITS, SEED = 5, 4, 33


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    eng = CdcEngine(
        spark, str(tmp_path_factory.mktemp("sqlwh") / "w"), geom_type=G.LINE, n_buckets=4
    )
    eng.create_tables(overwrite=True)
    eng.ingest(
        to_spark(spark, synth_change_log(n_keys=N_KEYS, n_commits=N_COMMITS, seed=SEED)),
        commits_per_epoch=2,
    )
    seg = eng.current_segments().cache()
    rel = eng.relations.read().cache()
    links = link_osm(seg, synth_osm_catalog(spark, seg, seed=4).cache(), "railway").cache()
    register_views(eng, osm_links=links)
    return eng, seg, rel, links


def _rows(df, cols=("gid",)):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_sql_q1_to_q4_match_dataframe_plans(spark, warehouse):
    _, seg, rel, _ = warehouse
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    assert _rows(sql_q1_edition(spark, y1)) == _rows(q1_edition(seg, rel, y1))
    assert _rows(sql_q2_edition_unique(spark, y2)) == _rows(q2_edition_unique(seg, rel, y2))
    assert _rows(sql_q3_persisted(spark, y1, y2)) == _rows(q3_persisted(seg, rel, y1, y2))
    assert _rows(sql_q4_retired(spark, y1, y2)) == _rows(q4_retired(seg, rel, y1, y2))


def test_q2_q4_predicates_equal_aggregate_and_minus_forms(spark):
    """Q2 and Q4 are row predicates in both front-ends.  On rows built to
    split them (a NULL edition element, a year repeated in one array, an
    empty and a NULL array, a non-leaf with two children) they must equal
    the UI's own forms: explode + COUNT(DISTINCT) = 1 for Q2, and the MINUS
    as a self anti-join for Q4."""
    s2 = spark.newSession()  # own temp views: the module's stay registered
    seg = s2.createDataFrame(
        [
            ("g_null_elem", "w1", ["2019", None]),
            ("g_repeat", "w2", ["2019", "2019"]),
            ("g_empty", "w3", []),
            ("g_parent", "w4", ["2019"]),
            ("g_both", "w5", ["2019", "2020"]),
            ("g_null_other", "w6", ["2020", None]),
            ("g_null_array", "w7", None),
            ("g_2020", "w8", ["2020"]),
        ],
        "gid string, wkt string, editions array<string>",
    )
    rel = s2.createDataFrame(
        [("g_parent", "g_null_elem"), ("g_parent", "g_repeat")],
        "parent_gid string, child_gid string",
    )
    none = s2.range(0)
    register_views(SimpleNamespace(
        spark=s2,
        segments=SimpleNamespace(read=lambda: seg),
        relations=SimpleNamespace(read=lambda: rel),
        commit_log=SimpleNamespace(read=lambda: none),
        read_metrics=lambda: none,
    ))

    def old_q2(y):
        leaves = leaf_features(seg, rel).filter(F.array_contains("editions", y))
        return (
            leaves.select("gid", "wkt", F.explode("editions").alias("d"))
            .groupBy("gid", "wkt")
            .agg(F.countDistinct("d").alias("n"))
            .filter("n = 1")
        )

    def old_q4(y1, y2):
        base = leaf_features(seg, rel).filter(F.array_contains("editions", y1))
        minus = base.filter(F.array_contains("editions", y2)).select("gid")
        return base.join(minus, "gid", "left_anti")

    cols = ("gid", "wkt")
    for y in ("2019", "2020", "2021"):
        want = _rows(old_q2(y), cols)
        assert _rows(q2_edition_unique(seg, rel, y), cols) == want, y
        assert _rows(sql_q2_edition_unique(s2, y), cols) == want, y
    # the NULL element and the repeat do not count as a second date; the
    # non-leaf parent is out
    assert _rows(old_q2("2019"), cols) == [("g_null_elem", "w1"), ("g_repeat", "w2")]
    for y1, y2 in (("2019", "2020"), ("2020", "2019"), ("2019", "2021")):
        want = _rows(old_q4(y1, y2), cols)
        assert _rows(q4_retired(seg, rel, y1, y2), cols) == want, (y1, y2)
        assert _rows(sql_q4_retired(s2, y1, y2), cols) == want, (y1, y2)
    # the NULL-element leaf is dated 2020 and not provably 2019: kept by
    # the MINUS, which a plain NOT array_contains would drop
    assert ("g_null_other", "w6") in _rows(old_q4("2020", "2019"), cols)


def test_sql_q5_matches_dataframe_plan(spark, warehouse):
    _, seg, rel, links = warehouse
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    cols = ("gid", "osm_uri")
    assert _rows(sql_q5_persisted_with_osm(spark, y1, y2), cols) == _rows(
        q5_persisted_with_osm(seg, rel, links, y1, y2), cols
    )


def test_sql_registry_complete(spark, warehouse):
    y1, y2 = commit_label(0)[:4], commit_label(N_COMMITS - 1)[:4]
    assert set(SQL_QUERIES) == {"q1", "q2", "q3", "q4", "q5"}
    for name, fn in SQL_QUERIES.items():
        df = fn(spark, y1) if name in ("q1", "q2") else fn(spark, y1, y2)
        assert df.columns[0] == "gid"


def test_osm_jl_roundtrip(spark, warehouse, tmp_path):
    _, seg, rel, links = warehouse
    prefix = str(tmp_path / "export")
    export_jl(seg, rel, prefix, osm_links=links)
    _, _, _, osm_back = read_jl(spark, prefix, with_osm=True)
    exp = {r["gid"]: sorted(r["osm_uris"]) for r in links.collect()}
    got = {r["gid"]: sorted(r["osm_uris"]) for r in osm_back.collect()}
    assert got == exp and got


def test_turtle_sink(spark, warehouse, tmp_path):
    _, seg, rel, links = warehouse
    out = str(tmp_path / "graph.ttl")
    write_turtle(build_triples(seg, rel, links), out)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    assert lines[0].startswith("@prefix lmg:")
    body = [l for l in lines if not l.startswith("@prefix")]
    assert body and all(l.endswith(" .") for l in body)
    # URIs are compressed to CURIEs and literals keep their datatype tag
    assert any(l.startswith("lmg:") for l in body)
    assert any("^^xsd:dateTime" in l for l in body)
    assert any("geo:asWKT" in l for l in body)