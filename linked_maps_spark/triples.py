"""RDF triple materialization — Spark redesign of generate_graph.py.

The reference builds an rdflib graph in memory, one node/edge at a time
(generate_graph.py:33-82), and serializes Turtle.  Here the triple set is a
DataFrame derived from the ``segments``/``relations`` lake tables with
``select`` / ``explode`` / ``union`` — no driver-side loops — and the sink is
an N-Triples text write (Turtle prefixing is cosmetic; SURVEY.md §2.1 S9).

Determinism fix: the reference stamps ``dcterms:created`` with
``datetime.today()`` (generate_graph.py:48) — nondeterministic across
replays.  The engine derives it from the node's commit label instead, keeping
the triple set a pure function of the WAL.

Vocabulary (generate_graph.py:10-13):
    lmg:     https://linked-maps.isi.edu/resource/
    geo:     http://www.opengis.net/ont/geosparql#
    dcterms: http://purl.org/dc/terms/
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

LMG = "https://linked-maps.isi.edu/resource/"
GEO = "http://www.opengis.net/ont/geosparql#"
DCTERMS = "http://purl.org/dc/terms/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

TRIPLE_SCHEMA = "s string, p string, o string, o_dt string"


# The projections below are Spark-SQL text (one py4j round trip each).  The
# vocabulary constants they embed hold no quote or backslash, so the text
# parses the same under any spark.sql.parser.escapedStringLiterals setting.
_NULL_DT = "CAST(NULL AS STRING) AS o_dt"
_XSD_DATETIME = "'http://www.w3.org/2001/XMLSchema#dateTime' AS o_dt"


def _feature_uri(gid: str) -> str:
    return f"concat('{LMG}', {gid})"


def _geometry_uri(gid: str, name: str) -> str:
    # IRI pattern lmg:<gid>_sc_<name.lower()> — generate_graph.py:41
    return f"concat('{LMG}', {gid}, '_sc_', lower({name}))"


def year_to_datetime(year: str) -> str:
    """'1962' → '1962-01-01T00:00:00' (generate_graph.py:52-54), as SQL
    text over the expression ``year``."""
    return f"concat({year}, '-01-01T00:00:00')"


def segment_triples(segments: DataFrame) -> DataFrame:
    """Per-segment triples (generate_graph.py:33-62)."""
    feat = _feature_uri("gid")
    geom = _geometry_uri("gid", "name")
    base = segments.select("gid", "name", "wkt", "editions", "commit_created")

    t_feature = base.selectExpr(
        f"{feat} AS s", f"'{RDF_TYPE}' AS p", f"'{GEO}Feature' AS o", _NULL_DT,
    )
    t_geometry = base.selectExpr(
        f"{geom} AS s", f"'{RDF_TYPE}' AS p", f"'{GEO}Geometry' AS o", _NULL_DT,
    )
    t_has_geom = base.selectExpr(
        f"{feat} AS s", f"'{GEO}hasGeometry' AS p", f"{geom} AS o", _NULL_DT,
    )
    # deterministic created timestamp from the creating commit's year
    t_created = base.selectExpr(
        f"{feat} AS s", f"'{DCTERMS}created' AS p",
        f"{year_to_datetime('substring(commit_created, 1, 4)')} AS o",
        _XSD_DATETIME,
    )
    # one dcterms:date per (transitively inherited) edition year —
    # explode covers generate_graph.py:52-54 AND the creation-ordered
    # propagation of generate_graph.py:73-75 (see fold.py docstring)
    t_dates = base.selectExpr(f"{feat} AS s", "explode(editions) AS year").selectExpr(
        "s", f"'{DCTERMS}date' AS p", f"{year_to_datetime('year')} AS o",
        _XSD_DATETIME,
    )
    t_wkt = base.selectExpr(
        f"{geom} AS s", f"'{GEO}asWKT' AS p", "wkt AS o", f"'{GEO}wktLiteral' AS o_dt",
    )
    return t_feature.unionByName(t_geometry).unionByName(t_has_geom).unionByName(
        t_created
    ).unionByName(t_dates).unionByName(t_wkt)


def relation_triples(relations: DataFrame) -> DataFrame:
    """sfContains + symmetric sfWithin (generate_graph.py:70-71)."""
    contains = relations.selectExpr(
        f"{_feature_uri('parent_gid')} AS s", f"'{GEO}sfContains' AS p",
        f"{_feature_uri('child_gid')} AS o", _NULL_DT,
    )
    within = relations.selectExpr(
        f"{_feature_uri('child_gid')} AS s", f"'{GEO}sfWithin' AS p",
        f"{_feature_uri('parent_gid')} AS o", _NULL_DT,
    )
    return contains.unionByName(within)


def osm_triples(osm_links: DataFrame) -> DataFrame:
    """sfOverlaps per linked OSM URI (generate_graph.py:77-82)."""
    return osm_links.selectExpr(
        f"{_feature_uri('gid')} AS s", f"'{GEO}sfOverlaps' AS p",
        "explode(osm_uris) AS o",
    ).selectExpr("s", "p", "o", _NULL_DT)


def build_triples(
    segments: DataFrame, relations: DataFrame, osm_links: DataFrame | None = None
) -> DataFrame:
    t = segment_triples(segments).unionByName(relation_triples(relations))
    if osm_links is not None:
        t = t.unionByName(osm_triples(osm_links))
    return t


def propagate_editions_fixpoint(segments: DataFrame, relations: DataFrame) -> DataFrame:
    """J3 as an iterative Spark join: derive each node's transitive edition
    set purely relationally (SURVEY.md §2.3 J3), independent of the fold's
    creation-time propagation — used to cross-check the ``editions`` column.

    dates(n) = own_years(n) ∪ ⋃_{p parent of n} dates(p); DAG depth is
    bounded by the number of editions, so the loop terminates quickly.
    Returns (gid, edition) pairs.
    """
    own = segments.select(
        "gid",
        F.when(
            ~F.col("name").contains("_"), F.array(F.substring("name", 1, 4))
        ).otherwise(F.array().cast("array<string>")).alias("years"),
    ).select("gid", F.explode("years").alias("edition"))

    acc = own
    edges = relations.select("parent_gid", "child_gid")
    while True:
        step = (
            acc.join(edges, acc.gid == edges.parent_gid)
            .select(F.col("child_gid").alias("gid"), "edition")
        )
        new = step.join(acc, on=["gid", "edition"], how="left_anti").distinct()
        if new.isEmpty():
            return acc
        acc = acc.unionByName(new).distinct().localCheckpoint()


def to_ntriples(triples: DataFrame):
    """Formatting select for the text sink (S9): one N-Triples line per row."""
    is_uri = F.col("o").startswith("http")
    obj = (
        F.when(F.col("o_dt").isNotNull(),
               F.concat(F.lit('"'), F.col("o"), F.lit('"^^<'), F.col("o_dt"), F.lit(">")))
        .when(is_uri, F.concat(F.lit("<"), F.col("o"), F.lit(">")))
        .otherwise(F.concat(F.lit('"'), F.col("o"), F.lit('"')))
    )
    return triples.select(
        F.concat(F.lit("<"), F.col("s"), F.lit("> <"), F.col("p"), F.lit("> "),
                 obj, F.lit(" .")).alias("value")
    )


def write_ntriples(triples: DataFrame, path: str) -> None:
    to_ntriples(triples).write.mode("overwrite").text(path)


# Turtle prefixing (generate_graph.py:121 serializes Turtle; the reference's
# bundled golden file data/railroads/ca/linked_maps.railroads.ca.ttl uses
# these prefixes)
_TURTLE_PREFIXES = [
    ("lmg:", LMG),
    ("geo:", GEO),
    ("dcterms:", DCTERMS),
    ("rdf:", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
    ("xsd:", "http://www.w3.org/2001/XMLSchema#"),
]


def _curie(col):
    """Compress a URI column to a CURIE where a prefix matches, else <uri>."""
    expr = F.concat(F.lit("<"), col, F.lit(">"))
    for short, long in reversed(_TURTLE_PREFIXES):
        expr = F.when(
            col.startswith(long),
            F.concat(F.lit(short), F.substring(col, len(long) + 1, 4096)),
        ).otherwise(expr)
    return expr


def to_turtle(triples: DataFrame) -> DataFrame:
    """Turtle body lines with prefixed names (S9 parity with
    generate_graph.py:121's Turtle serialization; one triple per line —
    subject grouping is a cosmetic Turtle feature, not required syntax)."""
    is_uri = F.col("o").startswith("http")
    obj = (
        F.when(
            F.col("o_dt").isNotNull(),
            F.concat(F.lit('"'), F.col("o"), F.lit('"^^'), _curie(F.col("o_dt"))),
        )
        .when(is_uri, _curie(F.col("o")))
        .otherwise(F.concat(F.lit('"'), F.col("o"), F.lit('"')))
    )
    return triples.select(
        F.concat(
            _curie(F.col("s")), F.lit(" "), _curie(F.col("p")), F.lit(" "),
            obj, F.lit(" ."),
        ).alias("value")
    )


def write_turtle(triples: DataFrame, path: str) -> None:
    """Single-file Turtle export: @prefix header then body.  The header must
    precede every use, so this coalesces to one file — Turtle export is a
    report-sized boundary artifact, not a data-plane sink (use
    :func:`write_ntriples` for bulk graph export)."""
    spark = triples.sparkSession
    header = spark.createDataFrame(
        [(f"@prefix {s} <{l}> .",) for s, l in _TURTLE_PREFIXES], "value string"
    ).coalesce(1)
    # coalesce AFTER the union keeps partition order (header, then body) and
    # produces one part file
    header.unionAll(to_turtle(triples).coalesce(1)).coalesce(1).write.mode(
        "overwrite"
    ).text(path)
