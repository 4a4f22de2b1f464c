"""Driver-contract wiring for the CDC/geometry queries.

Builds (once per process per scale) a deterministic synthetic WAL sized from
the driver's sf directory, ingests it into a scratch warehouse, and exposes
the reference's five canned queries (ui/main.py:23-78) plus the CDC
classification and triple derivation over the resulting lake tables.

These are the geometry-bearing operators — per FIXTURES.md §5 they get
rows-only driver checks (no DuckDB spatial oracle); their value-level
correctness is covered by the pytest suite (fold-vs-oracle, replay digests).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import geometry as G
from .util import scratch_root
from .changelog import commit_label, synth_change_log, to_spark
from .ingest import CdcEngine
from .osm_link import link_osm, synth_osm_catalog
from .queries import (
    classify_changes,
    q1_edition,
    q2_edition_unique,
    q3_persisted,
    q4_retired,
    q5_persisted_with_osm,
)
from .triples import build_triples, propagate_editions_fixpoint

_ENGINES: dict[str, CdcEngine] = {}

# (n_keys, n_commits) per driver scale — deterministic, seeded
_SCALE = {"sf0.001": (6, 4), "sf0.01": (24, 6), "sf0.1": (64, 8)}
SEED = 1234


def _scale_of(sf_dir: str) -> tuple[int, int]:
    return _SCALE.get(os.path.basename(os.path.normpath(sf_dir)), (24, 6))


def warehouse_engine(spark: SparkSession, sf_dir: str) -> CdcEngine:
    """Build (or reuse) the ingested warehouse for this scale."""
    key = os.path.basename(os.path.normpath(sf_dir))
    if key in _ENGINES:
        return _ENGINES[key]
    n_keys, n_commits = _scale_of(sf_dir)
    wh = os.path.join(scratch_root(), f"lms_warehouse_{key}_{SEED}")
    if os.path.exists(wh):
        shutil.rmtree(wh)
    eng = CdcEngine(spark, wh, geom_type=G.LINE, n_buckets=8)
    eng.create_tables(overwrite=True)
    wal = synth_change_log(n_keys=n_keys, n_commits=n_commits, seed=SEED)
    eng.ingest(to_spark(spark, wal), commits_per_epoch=max(2, n_commits // 2))
    _ENGINES[key] = eng
    return eng


def _years(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    _, n_commits = _scale_of(sf_dir)
    return commit_label(0)[:4], commit_label(n_commits - 1)[:4]


def cdc_q1_edition(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    y1, _ = _years(spark, sf_dir)
    return q1_edition(eng.current_segments(), eng.relations.read(), y1)


def cdc_q2_edition_unique(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    _, y2 = _years(spark, sf_dir)
    return q2_edition_unique(eng.current_segments(), eng.relations.read(), y2)


def cdc_q3_persisted(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    y1, y2 = _years(spark, sf_dir)
    return q3_persisted(eng.current_segments(), eng.relations.read(), y1, y2)


def cdc_q4_retired(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    y1, y2 = _years(spark, sf_dir)
    return q4_retired(eng.current_segments(), eng.relations.read(), y1, y2)


def cdc_q5_osm_links(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    y1, y2 = _years(spark, sf_dir)
    segs = eng.current_segments()
    catalog = synth_osm_catalog(spark, segs, seed=SEED)
    links = link_osm(segs, catalog, filter_tag="railway")
    return q5_persisted_with_osm(segs, eng.relations.read(), links, y1, y2)


def cdc_classify(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    y1, y2 = _years(spark, sf_dir)
    return (
        classify_changes(eng.current_segments(), eng.relations.read(), y1, y2)
        .groupBy("change_kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_kind")
    )


def cdc_triples_by_predicate(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    t = build_triples(eng.current_segments(), eng.relations.read())
    return t.groupBy("p").agg(F.count(F.lit(1)).alias("n")).orderBy("p")


def cdc_editions_fixpoint(spark, sf_dir) -> DataFrame:
    """J3 iterative-join propagation, cross-checkable against the fold's
    editions column (tests assert equality)."""
    eng = warehouse_engine(spark, sf_dir)
    return propagate_editions_fixpoint(
        eng.current_segments(), eng.relations.read()
    ).orderBy("gid", "edition")


def cdc_metrics(spark, sf_dir) -> DataFrame:
    eng = warehouse_engine(spark, sf_dir)
    return eng.read_metrics().orderBy("epoch", "partition_id")


def cdc_snap_offgrid(spark, sf_dir) -> DataFrame:
    """Snap-rounding front-end end-to-end (rows-only driver check): an
    arbitrary-coordinate (NAD83-style) WAL is snapped to the engine grid,
    ingested, and classified — the reference-shaped-data path the strict
    grid parser alone cannot serve."""
    import numpy as np

    from .snap import snap_change_log

    key = "snap_" + os.path.basename(os.path.normpath(sf_dir))
    if key not in _ENGINES:
        rng = np.random.default_rng(SEED)
        rows = []
        for k in range(6):
            x0 = -122.5 + float(rng.uniform(0, 0.05))
            y0 = 37.5 + float(rng.uniform(0, 0.05))
            pts = [(x0 + i * 0.004 + float(rng.uniform(-0.001, 0.001)),
                    y0 + i * 0.003 + float(rng.uniform(-0.001, 0.001)))
                   for i in range(6)]
            for e in range(3):
                shift = e * 0.0063
                content = "LINESTRING (" + ", ".join(
                    f"{a + shift:.6f} {b:.6f}" for a, b in pts
                ) + ")"
                rows.append(("nad83", f"railroads/{k:04d}", commit_label(e), "wkt", content))
        wal = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        wh = os.path.join(scratch_root(), f"lms_warehouse_{key}_{SEED}")
        if os.path.exists(wh):
            shutil.rmtree(wh)
        eng = CdcEngine(spark, wh, geom_type=G.LINE, n_buckets=4)
        eng.create_tables(overwrite=True)
        eng.ingest(snap_change_log(wal), commits_per_epoch=2)
        _ENGINES[key] = eng
    eng = _ENGINES[key]
    y1, y2 = commit_label(0)[:4], commit_label(2)[:4]
    return classify_changes(eng.current_segments(), eng.relations.read(), y1, y2)


# ---------------------------------------------------------- cdc_fold_micro
#
# The one geometry-core query with a FULL DuckDB value oracle.  The grid
# fold is integer set algebra, so a single-epoch, two-edition fold over
# horizontal grid lines is exactly expressible with DuckDB list functions:
# edge ids of the run [x0, x1) on row y are
#     (x*2^14 + y)*2^28 + ((x+1)*2^14 + y),
# the md5 naming chain (fold.py:70-77, reference main.py:96-113) is
# DuckDB's md5(), gid/content_sha256 are sha256().  The Spark side runs the
# REAL engine (WAL -> ingest -> lake tables); the oracle re-derives every
# row — name chain, seq order, editions, leaf/retired flags, canonical WKT,
# content sha256, and an edge-set digest — from first principles.

_MICRO_KEYS = 8
_MICRO_Y0, _MICRO_AX0, _MICRO_AX1, _MICRO_DK0 = 100, 10, 30, 3


def _micro_fmt(i: int) -> str:
    """geometry._coord_strs analog: grid index → canonical coordinate string."""
    return f"{i // 100}.{i % 100:02d}"


def cdc_fold_micro(spark, sf_dir) -> DataFrame:
    """Two-edition fold over 8 keys, value-oracled end to end.

    Key k: edition '1900' covers x ∈ [10, 30), edition '1910' covers
    [13+k, 33+k) on row y=100+k — partial overlap, so the fold creates all
    four derived-node kinds (edition, i_, m_, mu_) per key."""
    from pyspark.sql.functions import pandas_udf

    key = "foldmicro"
    if key not in _ENGINES:
        rows = []
        for k in range(_MICRO_KEYS):
            y = _MICRO_Y0 + k
            dk = _MICRO_DK0 + k
            path = f"fold/{k:02d}"
            a = (f"LINESTRING ({_micro_fmt(_MICRO_AX0)} {_micro_fmt(y)}, "
                 f"{_micro_fmt(_MICRO_AX1)} {_micro_fmt(y)})")
            b = (f"LINESTRING ({_micro_fmt(_MICRO_AX0 + dk)} {_micro_fmt(y)}, "
                 f"{_micro_fmt(_MICRO_AX1 + dk)} {_micro_fmt(y)})")
            rows.append(("micro", path, "1900", a))
            rows.append(("micro", path, "1910", b))
        wal = spark.createDataFrame(
            rows, "repo string, path string, commit string, content string"
        )
        wh = os.path.join(scratch_root(), f"lms_warehouse_{key}_{SEED}")
        if os.path.exists(wh):
            shutil.rmtree(wh)
        eng = CdcEngine(spark, wh, geom_type=G.LINE, n_buckets=4)
        eng.create_tables(overwrite=True)
        eng.ingest(wal, commits_per_epoch=2)  # ONE epoch: both editions
        _ENGINES[key] = eng
    eng = _ENGINES[key]

    @pandas_udf("n_edges long, edge_sum long, edge_min long, edge_max long")
    def edge_digest(wkts: pd.Series) -> pd.DataFrame:
        out = []
        for w in wkts:
            ids = G.parse_wkt(w, G.LINE)
            out.append((int(ids.size), int(ids.sum()), int(ids.min()), int(ids.max())))
        return pd.DataFrame(out, columns=["n_edges", "edge_sum", "edge_min", "edge_max"])

    seg = eng.current_segments()
    return (
        seg.withColumn("_d", edge_digest(F.col("wkt")))
        .select(
            "path", "gid", "name", "seq", "commit_created",
            F.concat_ws(",", F.col("editions")).alias("editions_csv"),
            "is_leaf", "retired", "wkt", "content_sha256",
            F.col("_d.n_edges").alias("n_edges"),
            F.col("_d.edge_sum").alias("edge_sum"),
            F.col("_d.edge_min").alias("edge_min"),
            F.col("_d.edge_max").alias("edge_max"),
        )
        .orderBy("path", "seq")
    )


def cdc_fold_micro_sql() -> str:
    """Independent DuckDB derivation of :func:`cdc_fold_micro`'s result."""
    nk, y0, ax0, ax1, dk0 = (
        _MICRO_KEYS, _MICRO_Y0, _MICRO_AX0, _MICRO_AX1, _MICRO_DK0
    )

    def fmt(e: str) -> str:
        return f"(({e}) // 100)::VARCHAR || '.' || lpad((({e}) % 100)::VARCHAR, 2, '0')"

    return f"""
    WITH keys AS (
        SELECT k, 'micro' AS repo, 'fold/' || lpad(k::VARCHAR, 2, '0') AS path,
               {y0} + k AS y,
               {ax0} AS ax0, {ax1} AS ax1,
               {ax0 + dk0} + k AS bx0, {ax1 + dk0} + k AS bx1
        FROM range(0, {nk}) AS t(k)
    ),
    nodes AS (
        SELECT *, '1900' AS name, 0 AS seq, '1900' AS commit_created,
               '1900' AS editions_csv, FALSE AS is_leaf, ax0 AS x0, ax1 AS x1
        FROM keys
        UNION ALL SELECT *, '1910', 1, '1910', '1910', FALSE, bx0, bx1 FROM keys
        UNION ALL SELECT *, 'i_' || md5('i_1900_1910'), 2, '1910',
               '1900,1910', TRUE, bx0, ax1 FROM keys
        UNION ALL SELECT *, 'm_' || md5('m_1900_i_' || md5('i_1900_1910')),
               3, '1910', '1900', TRUE, ax0, bx0 FROM keys
        UNION ALL SELECT *, 'mu_' || md5('mu_1910_UL'), 4, '1910',
               '1910', TRUE, ax1, bx1 FROM keys
    ),
    edged AS (
        SELECT *,
               list_transform(range(x0, x1),
                   x -> (x * 16384 + y) * 268435456 + ((x + 1) * 16384 + y)
               ) AS edges,
               'MULTILINESTRING ((' || {fmt('x0')} || ' ' || {fmt('y')} || ', '
                   || {fmt('x1')} || ' ' || {fmt('y')} || '))' AS wkt
        FROM nodes
    )
    SELECT path,
           substr(sha256(repo || '|' || path || '|' || name), 1, 32) AS gid,
           name, CAST(seq AS BIGINT) AS seq, commit_created, editions_csv,
           is_leaf, FALSE AS retired, wkt, sha256(wkt) AS content_sha256,
           CAST(len(edges) AS BIGINT) AS n_edges,
           CAST(list_sum(edges) AS BIGINT) AS edge_sum,
           list_min(edges) AS edge_min, list_max(edges) AS edge_max
    FROM edged
    ORDER BY path, seq
    """


# ---------------------------------------------------------- cdc_snap_micro
#
# The snap-rounding front-end with a FULL DuckDB value oracle.  The snap
# pipeline (snap.py) is: quantize vertices (rint((v - origin)/pitch)) →
# 8-connected DDA rasterization (dominant axis steps 1 cell, minor axis
# rint(t·d/n)) → unit-edge ids → canonical engine WKT.  All of it is
# integer / IEEE-double arithmetic that DuckDB reproduces EXACTLY, provided
# the fixture never lands on a rounding tie:
#   * vertex jitter is ±0.3 cell (never ±0.5), so quantization recovers the
#     integer anchors regardless of float noise;
#   * segment dominant-axis lengths are ODD (9 and 7), so the minor-axis
#     ratio t·d/n has an odd denominator and can never be an exact half —
#     np.rint (half-to-even) and SQL round() (half-away) agree everywhere.
# The Spark side runs the REAL front-end (float WKT → snap_wkt → engine WKT
# → parse_wkt back to edge ids); the oracle re-derives every edge id from
# the integer formulas.  Reference analog: segment.py:131-142's shapefile
# ingest + the 0.0015°-buffered PostGIS overlap algebra.


def cdc_snap_micro(spark, sf_dir) -> DataFrame:
    """Per-feature snapped edge ids for formula-generated off-grid
    polylines; full value parity with :func:`cdc_snap_micro_sql`."""
    from .snap import DEFAULT_ORIGIN, DEFAULT_PITCH, snap_wkt

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def kernel(batches):
        for pdf in batches:
            out_l: list[int] = []
            out_e: list[int] = []
            for d in pdf["doc_id"]:
                d = int(d)
                ax0, ay0 = 100 + d % 37, 200 + (d * 7) % 41
                dy1, dx2 = d % 10 - 5, d % 7 - 3
                anchors = [
                    (ax0, ay0),
                    (ax0 + 9, ay0 + dy1),
                    (ax0 + 9 + dx2, ay0 + dy1 + 7),
                ]
                coords = []
                for k, (gx, gy) in enumerate(anchors):
                    jx = ((d * 13 + (2 * k) * 29) % 7 - 3) / 10.0
                    jy = ((d * 13 + (2 * k + 1) * 29) % 7 - 3) / 10.0
                    x = DEFAULT_ORIGIN[0] + (gx + jx) * DEFAULT_PITCH
                    y = DEFAULT_ORIGIN[1] + (gy + jy) * DEFAULT_PITCH
                    coords.append(f"{x!r} {y!r}")
                wkt = "LINESTRING (" + ", ".join(coords) + ")"
                ids = G.parse_wkt(snap_wkt(wkt), G.LINE)
                out_l.extend([d] * ids.size)
                out_e.extend(int(i) for i in ids)
            yield pd.DataFrame({"line_id": out_l, "edge_id": out_e})

    return (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
        .mapInPandas(kernel, "line_id long, edge_id long")
        .orderBy("line_id", "edge_id")
    )


def cdc_snap_micro_sql() -> str:
    """Independent DuckDB derivation of :func:`cdc_snap_micro`: every DDA
    step's endpoints from the integer formulas, edge = min·2^28 + max."""
    return """
    WITH a AS (SELECT doc_id AS d,
                      100 + doc_id % 37 AS ax0, 200 + (doc_id*7) % 41 AS ay0,
                      (doc_id % 10) - 5 AS dy1, (doc_id % 7) - 3 AS dx2
               FROM documents WHERE doc_id % 5 = 0),
    t9 AS (SELECT unnest(range(9)) AS t),
    t7 AS (SELECT unnest(range(7)) AS t),
    e1 AS (SELECT d,
                  (ax0 + t) * 16384
                      + ay0 + CAST(round(t * dy1 / 9.0) AS BIGINT) AS p,
                  (ax0 + t + 1) * 16384
                      + ay0 + CAST(round((t + 1) * dy1 / 9.0) AS BIGINT) AS q
           FROM a CROSS JOIN t9),
    e2 AS (SELECT d,
                  (ax0 + 9 + CAST(round(t * dx2 / 7.0) AS BIGINT)) * 16384
                      + ay0 + dy1 + t AS p,
                  (ax0 + 9 + CAST(round((t + 1) * dx2 / 7.0) AS BIGINT)) * 16384
                      + ay0 + dy1 + t + 1 AS q
           FROM a CROSS JOIN t7),
    edges AS (SELECT DISTINCT d,
                     least(p, q) * 268435456 + greatest(p, q) AS edge_id
              FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2))
    SELECT CAST(d AS BIGINT) AS line_id, CAST(edge_id AS BIGINT) AS edge_id
    FROM edges ORDER BY line_id, edge_id
    """


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """entry() smoke: full pipeline (WAL → ingest → classify) at tiny scale.

    Reads the driver's documents table to derive the scale knob (ties the
    smoke to /root/testdata as the contract asks) and returns per-leaf change
    classification with lattice stats."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _ = docs.count()  # touch the driver tables (scan smoke)
    eng = warehouse_engine(spark, sf_dir)
    y1, y2 = _years(spark, sf_dir)
    return classify_changes(eng.current_segments(), eng.relations.read(), y1, y2)


# ------------------------------------------------------- cdc_table_changes
#
# The lakehouse change-data-feed surface (LakeTable.changes +
# delete_where) with a FULL DuckDB value oracle.  The scenario is pure
# relational state over the driver's events table, so every CDF row —
# insert / delete / update pre+post images — is re-derivable in SQL:
#   v1 = MERGE of the latest even-event per user (users user_id%3≠2 only)
#   v2 = MERGE of the latest odd-event per user (all users)
#   v3 = DELETE WHERE user_id%4=1 OR event_type='error'
#   result = changes(v1, v3)
# Reference analog: the north rule's "CDC upsert into Iceberg" read side —
# Iceberg changelog scan / Delta table_changes.

_CDF_TABLES: dict[str, str] = {}

_CDF_COLS = ["user_id", "event_id", "event_type", "value"]
_CDF_DELETE = "user_id % 4 = 1 OR event_type = 'error'"


def cdc_table_changes(spark, sf_dir) -> DataFrame:
    """CDF between the first MERGE and the post-DELETE snapshot."""
    from .lakehouse import LakeTable

    key = os.path.basename(os.path.normpath(sf_dir))
    if key not in _CDF_TABLES:
        events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        path = os.path.join(
            scratch_root(), f"lms_warehouse_cdf_{key}_{SEED}"
        )
        t = LakeTable.create(
            spark, path,
            "user_id long, event_id long, event_type string, value double",
            key_cols=["user_id"], n_buckets=4, overwrite=True,
        )
        b1 = events.filter("event_id % 2 = 0 AND user_id % 3 <> 2").select(*_CDF_COLS)
        t.merge_upsert(b1, order_col="event_id")          # v1
        b2 = events.filter("event_id % 2 = 1").select(*_CDF_COLS)
        t.merge_upsert(b2, order_col="event_id")          # v2
        t.delete_where(_CDF_DELETE)                        # v3
        _CDF_TABLES[key] = path
    t = LakeTable.load(spark, _CDF_TABLES[key])
    return t.changes(1, 3).orderBy("user_id", "_change_type")


def cdc_table_changes_sql() -> str:
    """Independent DuckDB derivation of :func:`cdc_table_changes`: recompute
    the three snapshots' states from the events table, then the four-way
    diff."""
    cols = ", ".join(_CDF_COLS)

    def latest(pred: str) -> str:
        return f"""(
        SELECT {cols} FROM (
            SELECT {cols}, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events WHERE {pred}
        ) WHERE rn = 1)"""

    row = lambda a: "(" + ", ".join(f"{a}.{c}" for c in _CDF_COLS[1:]) + ")"
    return f"""
    WITH s1 AS {latest("event_id % 2 = 0 AND user_id % 3 <> 2")},
    s2u AS {latest("event_id % 2 = 1")},
    s2 AS (
        SELECT * FROM s2u
        UNION ALL
        SELECT * FROM s1 WHERE user_id NOT IN (SELECT user_id FROM s2u)
    ),
    s3 AS (SELECT * FROM s2 WHERE NOT COALESCE(({_CDF_DELETE}), FALSE))
    SELECT s3.*, 'insert' AS _change_type FROM s3
        WHERE user_id NOT IN (SELECT user_id FROM s1)
    UNION ALL
    SELECT s1.*, 'delete' FROM s1
        WHERE user_id NOT IN (SELECT user_id FROM s3)
    UNION ALL
    SELECT s1.*, 'update_preimage' FROM s1 JOIN s3 USING (user_id)
        WHERE {row("s1")} IS DISTINCT FROM {row("s3")}
    UNION ALL
    SELECT s3.*, 'update_postimage' FROM s1 JOIN s3 USING (user_id)
        WHERE {row("s1")} IS DISTINCT FROM {row("s3")}
    ORDER BY user_id, _change_type
    """
