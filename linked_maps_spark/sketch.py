"""Mergeable sketches: deterministic HyperLogLog and Count-Min.

At 100 TB, exact ``COUNT(DISTINCT)`` / exact heavy-hitter counts force a
full shuffle of every distinct value; sketches reduce each partition to a
few KB of mergeable state (map-side partial aggregation does the heavy
lifting, the final merge is tiny).  Spark's built-ins
(``approx_count_distinct``) are HLL++ under the hood but their register
state is neither portable nor inspectable; these operators build the sketch
*as a table* with a portable md5-derived hash, so

* the sketch itself is exact-integer and cross-engine reproducible — the
  DuckDB oracle re-derives the registers/counters bit-for-bit (the driver
  gate hashes them), and
* merge = ``groupBy(bucket).max`` (HLL) / ``groupBy(cell).sum`` (CMS) — the
  driver queries build the sketch from *disjoint shards and merge them*,
  while the oracle builds it in one pass: hash equality at the gate proves
  mergeability, not just equality.

Only the floating-point *estimate* step (harmonic mean / ln) is kept out of
the oracle rows — libm differs across engines in the last ulp — and is
pytest-pinned against an exact python recompute instead.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .util import load_table as _load, make_query_registry

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]
ORACLES: dict[str, str]
QUERIES, ORACLES, query = make_query_registry()


# ------------------------------------------------------------- HyperLogLog

#: register precision: m = 2**B buckets (B=6 keeps the driver row small;
#: production would use B=12-14 — nothing below depends on B's value).
HLL_B = 6
HLL_M = 1 << HLL_B


def hll_registers(df: DataFrame, value: F.Column) -> DataFrame:
    """HLL register table ``(bucket, register)`` — ``HLL_M`` rows, dense.

    Portable hash split: bucket = first 8 md5 hex digits mod m; the rank
    word w = next 8 hex digits (32 bits); register = leading-zero count of
    w within 32 bits + 1 (= ``33 - bit_length(w)``), computed exactly via
    the length of the binary string — no float log anywhere.
    """
    spark = df.sparkSession
    md5 = F.md5(value.cast("string"))
    bucket = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long") % HLL_M
    w = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    sparse = (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )
    spine = spark.range(HLL_M).select(F.col("id").alias("bucket"))
    return (
        spine.join(sparse, "bucket", "left")
        .select("bucket", F.coalesce("register", F.lit(0)).cast("long").alias("register"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables: per-bucket max (associative + commutative)."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("bucket").agg(F.max("register").alias("register"))


def hll_estimate(registers: DataFrame) -> float:
    """Cardinality estimate from a register table (standard HLL estimator
    with the linear-counting small-range correction).  Driver-side float
    math over m rows — deliberately OUTSIDE the oracle-hashed surface."""
    regs = {r["bucket"]: r["register"] for r in registers.collect()}
    m = HLL_M
    s = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / s
    zeros = sum(1 for j in range(m) if regs.get(j, 0) == 0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def _hll_sql(value_expr: str, source_sql: str) -> str:
    """DuckDB re-derivation of :func:`hll_registers` (single pass)."""
    return f"""
    WITH h AS (
        SELECT md5(CAST({value_expr} AS VARCHAR)) AS d FROM ({source_sql})
    ),
    s AS (
        SELECT CAST(('0x' || substr(d, 1, 8)) AS UBIGINT)::BIGINT % {HLL_M} AS bucket,
               CASE WHEN CAST(('0x' || substr(d, 9, 8)) AS UBIGINT)::BIGINT = 0
                    THEN 33
                    ELSE 33 - length(bin(CAST(('0x' || substr(d, 9, 8)) AS UBIGINT)::BIGINT))
               END AS rho
        FROM h
    ),
    agg AS (SELECT bucket, MAX(rho) AS register FROM s GROUP BY bucket)
    SELECT r.range AS bucket,
           CAST(COALESCE(agg.register, 0) AS BIGINT) AS register
    FROM range({HLL_M}) r LEFT JOIN agg ON agg.bucket = r.range
    ORDER BY bucket
    """


@query(
    "sketch_hll_users",
    _hll_sql("user_id", "SELECT user_id FROM events"),
)
def sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL registers for distinct ``user_id`` — built as FOUR shard
    sketches merged with :func:`hll_merge`; the oracle builds it in one
    pass, so the gate's hash equality proves merge correctness."""
    ev = _load(spark, sf_dir, "events")
    shards = [
        hll_registers(ev.filter(F.col("event_id") % 4 == i), F.col("user_id"))
        for i in range(4)
    ]
    return hll_merge(*shards).orderBy("bucket")


# --------------------------------------------------------------- Count-Min

CMS_D = 4  # hash rows
CMS_W = 128  # buckets per row


def cms_sketch(df: DataFrame, value: F.Column) -> DataFrame:
    """Count-Min sketch table ``(r, bucket, cnt)`` (sparse; ≤ d·w rows).

    Row r's hash: first 8 hex of ``md5(r || ':' || value)`` mod w — the
    same family as :func:`linked_maps_spark.dedup.h32_expr`.  Merge of two
    sketches = union + ``groupBy(r, bucket).sum`` (tested in pytest).

    NULL keys are excluded: ``concat_ws`` silently SKIPS nulls (hashing a
    NULL value as the bare row index, polluting an unrelated cell) while
    SQL ``||`` NULL-propagates — filtering up front is the only rendering
    both engines agree on.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("r")
    cell = (
        df.select(value.cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .select(rows, F.col("v"))
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("r"), F.col("v"))), 1, 8), 16, 10
        ).cast("long")
        % CMS_W
    )
    return (
        cell.select("r", bucket.alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_point_estimates(sketch: DataFrame, keys: DataFrame, value: F.Column) -> DataFrame:
    """Point-query the sketch for each key row: min over the d row counters
    (the classic CMS upper-bound estimate, never below the true count)."""
    probes = (
        keys.select(value.cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
    )
    expanded = probes.select(
        "v", F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("r")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("r"), F.col("v"))), 1, 8), 16, 10
        ).cast("long")
        % CMS_W
    )
    return (
        expanded.withColumn("bucket", bucket)
        .join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("v")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_count"))
    )


_CMS_CELL_SQL = f"""
        SELECT t.r,
               CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || v.v), 1, 8))
                    AS UBIGINT)::BIGINT % {CMS_W} AS bucket,
               v.v
        FROM (SELECT CAST(event_type AS VARCHAR) AS v FROM events
              WHERE event_type IS NOT NULL) v,
             (SELECT CAST(range AS BIGINT) AS r FROM range({CMS_D})) t
"""


@query(
    "sketch_cms_event_types",
    f"""
    WITH cells AS ({_CMS_CELL_SQL}),
    sk AS (SELECT r, bucket, COUNT(*) AS cnt FROM cells GROUP BY r, bucket),
    probes AS (SELECT DISTINCT CAST(event_type AS VARCHAR) AS v FROM events
               WHERE event_type IS NOT NULL),
    pcells AS (
        SELECT p.v, t.r,
               CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || p.v), 1, 8))
                    AS UBIGINT)::BIGINT % {CMS_W} AS bucket
        FROM probes p, (SELECT CAST(range AS BIGINT) AS r FROM range({CMS_D})) t
    ),
    est AS (
        SELECT pc.v, MIN(COALESCE(sk.cnt, 0)) AS cms_count
        FROM pcells pc LEFT JOIN sk ON sk.r = pc.r AND sk.bucket = pc.bucket
        GROUP BY pc.v
    ),
    exact AS (SELECT CAST(event_type AS VARCHAR) AS v, COUNT(*) AS exact_count
              FROM events GROUP BY 1)
    SELECT est.v AS event_type, exact.exact_count,
           CAST(est.cms_count AS BIGINT) AS cms_count
    FROM est JOIN exact ON exact.v = est.v
    ORDER BY event_type
    """,
)
def sketch_cms_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS heavy-hitter counts for every event_type next to the exact
    count — the sketch is built from TWO disjoint shards and merged (the
    oracle builds it in one pass: gate equality proves mergeability).
    ``cms_count >= exact_count`` always (pytest-pinned)."""
    ev = _load(spark, sf_dir, "events")
    shards = [
        cms_sketch(ev.filter(F.col("event_id") % 2 == i), F.col("event_type"))
        for i in range(2)
    ]
    sk = cms_merge(*shards)
    est = cms_point_estimates(sk, ev, F.col("event_type"))
    exact = (
        ev.groupBy(F.col("event_type").cast("string").alias("v"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "v")
        .select(
            F.col("v").alias("event_type"),
            "exact_count",
            F.col("cms_count").cast("long").alias("cms_count"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- histogram quantiles

HIST_BUCKETS = 256


def hist_sketch(df: DataFrame, value: F.Column, lo: float, hi: float) -> DataFrame:
    """Fixed-grid histogram sketch ``(bucket, cnt)`` over ``[lo, hi)`` —
    the mergeable quantile/distribution summary (merge = per-bucket sum,
    like CMS).  Values are clamped into the edge buckets, so the sketch is
    total over any NON-NULL input; NULLs are excluded up front — Spark's
    least/greatest SKIP nulls, so without the filter a NULL value would
    silently land in the top bucket (least(255, NULL) = 255) and skew every
    derived quantile.  Bucket index arithmetic is one multiply + one
    divide + a floor in double — the identical IEEE op sequence in the
    DuckDB oracle, so the sketch is value-exact cross-engine."""
    idx = F.floor(
        (value.cast("double") - F.lit(float(lo)))
        * F.lit(float(HIST_BUCKETS))
        / F.lit(float(hi) - float(lo))
    )
    clamped = F.greatest(F.lit(0), F.least(F.lit(HIST_BUCKETS - 1), idx)).cast("long")
    return (
        df.where(value.isNotNull())
        .select(clamped.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("cnt"))


def hist_quantile(sketch: DataFrame, q: float, lo: float, hi: float) -> float:
    """Linear-interpolated quantile from the histogram (driver-side float
    over ≤ HIST_BUCKETS rows — outside the oracle-hashed surface, pinned by
    pytest against numpy on the raw data).  Error ≤ one bucket width."""
    rows = sorted((r["bucket"], r["cnt"]) for r in sketch.collect())
    n = sum(c for _, c in rows)
    if not n:
        raise ValueError("empty sketch")
    width = (hi - lo) / HIST_BUCKETS
    target = q * n
    cum = 0
    for b, c in rows:
        if cum + c >= target:
            frac = (target - cum) / c
            return lo + (b + frac) * width
        cum += c
    return hi


_HIST_CELL_SQL = f"""
        SELECT CAST(GREATEST(0, LEAST({HIST_BUCKETS - 1},
                   FLOOR((CAST(value AS DOUBLE) - {{lo}})
                         * {float(HIST_BUCKETS)} / ({{hi}} - {{lo}})))) AS BIGINT)
               AS bucket
        FROM events WHERE value IS NOT NULL
"""


@query(
    "sketch_hist_values",
    f"""
    WITH cells AS ({_HIST_CELL_SQL.format(lo="0.0", hi="512.0")})
    SELECT bucket, COUNT(*) AS cnt FROM cells GROUP BY bucket ORDER BY bucket
    """,
)
def sketch_hist_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram sketch of event values over [0, 512) — built from THREE
    disjoint shards and merged; the oracle is single-pass (gate equality
    proves mergeability, the pattern of the HLL/CMS rows)."""
    ev = _load(spark, sf_dir, "events")
    shards = [
        hist_sketch(ev.filter(F.col("event_id") % 3 == i), F.col("value"), 0.0, 512.0)
        for i in range(3)
    ]
    return hist_merge(*shards).orderBy("bucket")
