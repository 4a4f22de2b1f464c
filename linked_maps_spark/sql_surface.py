"""SQL query front-end — the reference UI's role (ui/main.py:23-78,91-115).

The reference exposes its five canned queries over a SPARQL endpoint backed
by the triplestore.  The engine's analog registers the lake tables as temp
views and ships the queries as ``spark.sql`` text, so a user can drive the
warehouse from any SQL-speaking surface (thrift server, notebooks,
``spark.sql(...)``) without touching the DataFrame API.  Each SQL string is
the textual twin of the DataFrame plan in ``queries.py``; tests assert the
two produce identical rows.

The leaf test ``FILTER NOT EXISTS { ?f geo:sfContains _ }`` maps to SQL
``NOT EXISTS`` (Catalyst plans it as the same left-anti join, J5/P8); Q2
and Q4 are the same single-scan row predicates as the DataFrame forms."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

VIEWS = ("segments", "relations", "commit_log", "metrics")


def register_views(engine, osm_links: DataFrame | None = None) -> None:
    """Register the warehouse tables (current snapshots) as temp views, plus
    ``leaf_features`` as a reusable SQL view and optional ``osm_links``."""
    spark = engine.spark
    engine.segments.read().createOrReplaceTempView("segments")
    engine.relations.read().createOrReplaceTempView("relations")
    engine.commit_log.read().createOrReplaceTempView("commit_log")
    engine.read_metrics().createOrReplaceTempView("metrics")
    if osm_links is not None:
        osm_links.createOrReplaceTempView("osm_links")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW leaf_features AS
        SELECT s.* FROM segments s
        WHERE NOT EXISTS (SELECT 1 FROM relations r WHERE r.parent_gid = s.gid)
        """
    )


def sql_q1_edition(spark: SparkSession, year: str) -> DataFrame:
    """'1 edition' (ui/main.py:25-33).

    Year values bind as named SQL parameters (no string interpolation —
    user-supplied labels can't inject into the query text)."""
    return spark.sql(
        """
        SELECT gid, wkt FROM leaf_features
        WHERE array_contains(editions, :year)
        """,
        args={"year": year},
    )


def sql_q2_edition_unique(spark: SparkSession, year: str) -> DataFrame:
    """'1 edition - unique' (ui/main.py:34-45): COUNT(DISTINCT date) = 1."""
    return spark.sql(
        """
        SELECT gid, wkt FROM leaf_features
        WHERE array_contains(editions, :year)
          AND forall(editions, d -> d IS NULL OR d = :year)
        """,
        args={"year": year},
    )


def sql_q3_persisted(spark: SparkSession, year1: str, year2: str) -> DataFrame:
    """'2 editions - similar' (ui/main.py:46-55)."""
    return spark.sql(
        """
        SELECT gid, wkt FROM leaf_features
        WHERE array_contains(editions, :year1)
          AND array_contains(editions, :year2)
        """,
        args={"year1": year1, "year2": year2},
    )


def sql_q4_retired(spark: SparkSession, year1: str, year2: str) -> DataFrame:
    """'2 editions - difference' (ui/main.py:56-65): the SPARQL MINUS."""
    return spark.sql(
        """
        SELECT gid, wkt FROM leaf_features
        WHERE array_contains(editions, :year1)
          AND NOT coalesce(array_contains(editions, :year2), false)
        """,
        args={"year1": year1, "year2": year2},
    )


def sql_q5_persisted_with_osm(
    spark: SparkSession, year1: str, year2: str
) -> DataFrame:
    """'2 editions - similar - LinkedGeoData' (ui/main.py:66-78): the SPARQL
    SERVICE federation as an equi-join against the registered osm_links."""
    return spark.sql(
        """
        SELECT f.gid, f.wkt, l.osm_uri
        FROM leaf_features f
        JOIN (SELECT gid, explode(osm_uris) AS osm_uri FROM osm_links) l
          ON f.gid = l.gid
        WHERE array_contains(f.editions, :year1)
          AND array_contains(f.editions, :year2)
        """,
        args={"year1": year1, "year2": year2},
    )


SQL_QUERIES = {
    "q1": sql_q1_edition,
    "q2": sql_q2_edition_unique,
    "q3": sql_q3_persisted,
    "q4": sql_q4_retired,
    "q5": sql_q5_persisted_with_osm,
}
