"""The flagship query surface — the reference UI's 5 canned SPARQL queries
(ui/main.py:23-78) re-expressed as DataFrame plans over the engine tables.

All five share the "leaf feature" pattern
``FILTER NOT EXISTS { ?f geo:sfContains _ }``, which is a **left-anti join**
against ``relations.parent_gid`` (SURVEY.md §2.2 P8 / §2.3 J5).  Dates come
from the transitively propagated ``editions`` column (or equivalently from
``triples.propagate_editions_fixpoint``).

Q1–Q4 are the CDC classification queries: features present in an edition /
unique to it / persisted across two editions / retired between them, each
one scan of the leaves with a row predicate on ``editions`` (``gid`` is the
segments merge key, so no aggregate or second join is needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def leaf_features(segments: DataFrame, relations: DataFrame) -> DataFrame:
    """Leaves via anti-join (NOT EXISTS sfContains), the UI-query way.

    Repeated parents are not deduplicated: the anti join ignores them.  At
    scale a relations side too big to broadcast shuffles raw (~2x the rows).

    The engine also maintains an ``is_leaf`` flag incrementally (SURVEY.md
    §4.1 caching row); tests assert the two agree.
    """
    parents = relations.selectExpr("parent_gid AS gid")
    return segments.join(parents, on="gid", how="left_anti")


def q1_edition(segments: DataFrame, relations: DataFrame, year: str) -> DataFrame:
    """'1 edition' (ui/main.py:25-33): leaf features dated ``year``."""
    return (
        leaf_features(segments, relations)
        .filter(F.array_contains("editions", year))
        .select("gid", "wkt")
    )


def q2_edition_unique(segments: DataFrame, relations: DataFrame, year: str) -> DataFrame:
    """'1 edition - unique' (ui/main.py:34-45): leaf features whose ONLY
    date is ``year``: COUNT(DISTINCT date) = 1 as "every non-NULL edition
    is ``year``"."""
    return (
        leaf_features(segments, relations)
        .filter(
            F.array_contains("editions", year)
            & F.forall("editions", lambda d: d.isNull() | (d == year))
        )
        .select("gid", "wkt")
    )


def q3_persisted(
    segments: DataFrame, relations: DataFrame, year1: str, year2: str
) -> DataFrame:
    """'2 editions - similar' (ui/main.py:46-55): leaves dated both years."""
    return (
        leaf_features(segments, relations)
        .filter(F.array_contains("editions", year1) & F.array_contains("editions", year2))
        .select("gid", "wkt")
    )


def q4_retired(
    segments: DataFrame, relations: DataFrame, year1: str, year2: str
) -> DataFrame:
    """'2 editions - difference' (ui/main.py:56-65): dated year1, MINUS
    dated year2 (SURVEY.md §2.3 J6) as a row predicate; ``coalesce`` keeps
    a row with a NULL edition element and no year2, as the MINUS does."""
    return (
        leaf_features(segments, relations)
        .filter(
            F.array_contains("editions", year1)
            & ~F.coalesce(F.array_contains("editions", year2), F.lit(False))
        )
        .select("gid", "wkt")
    )


def q5_persisted_with_osm(
    segments: DataFrame,
    relations: DataFrame,
    osm_links: DataFrame,
    year1: str,
    year2: str,
) -> DataFrame:
    """'2 editions - similar - LinkedGeoData' (ui/main.py:66-78): Q3 joined
    to OSM links — the SPARQL SERVICE federation becomes an ordinary
    equi-join against the ingested catalog (SURVEY.md §2.3 J4)."""
    q3 = q3_persisted(segments, relations, year1, year2)
    links = osm_links.select("gid", F.explode("osm_uris").alias("osm_uri"))
    return q3.join(links, on="gid", how="inner").select("gid", "wkt", "osm_uri")


def classify_changes(
    segments: DataFrame, relations: DataFrame, year1: str, year2: str
) -> DataFrame:
    """CDC change classification between two editions: each leaf is
    unchanged (both), retired (only year1) or added (only year2) —
    SURVEY.md §2.5 postcondition."""
    leaves = leaf_features(segments, relations)
    return leaves.select(
        "gid",
        "wkt",
        F.when(
            F.array_contains("editions", year1) & F.array_contains("editions", year2),
            F.lit("unchanged"),
        )
        .when(F.array_contains("editions", year1), F.lit("retired"))
        .when(F.array_contains("editions", year2), F.lit("added"))
        .otherwise(F.lit("other"))
        .alias("change_kind"),
    )
