"""Entity linking against an OSM catalog — Spark redesign of
linked_maps_to_osm.py.

The reference queries the Overpass HTTP API per segment with 1 wrapper bbox +
10 randomly sampled bboxes, rate-limited by a 0.5 s sleep, with unseeded RNG
(linked_maps_to_osm.py:43-181) — non-reproducible I/O.  The engine replaces
it with a deterministic ingested ``osm_catalog`` table (FIXTURES.md §4) and a
**cell-grid spatial join**:

1. per segment: wrapper bbox (A4, linked_maps_to_osm.py:85-99) + ``samples``
   seeded sample boxes around segment vertices (F8/F9 determinized: RNG
   seeded per gid);
2. boxes explode to the 0.1°-cells they cover; catalog points carry their
   cell → **equi-join on cell** (shuffle-friendly, Catalyst-pushable) then
   refine with the exact range predicate — this is the plan that scales,
   versus a broadcast-nested-loop range join;
3. vote counting (A3): an OSM element is kept iff seen in >1 distinct box
   (P6, linked_maps_to_osm.py:220-221); URIs ordered by vote count then id
   (O1, linked_maps_to_osm.py:168).

OSM URI shape: https://www.openstreetmap.org/<type>/<id>
(linked_maps_to_osm.py:37-40).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import geometry as G

CELL = 0.1  # degrees; spatial-join grid cell
BOX_HALF = 0.001  # sample-box half-size (linked_maps_to_osm.py:95-99 ±0.001°)
DEFAULT_SAMPLES = 10  # linked_maps_to_osm.py:152

OSM_CATALOG_SCHEMA = (
    "osm_id long, osm_type string, tags map<string,string>, lat double, lng double"
)
BOX_SCHEMA = "gid string, box_id int, s double, w double, n double, e double"



def _stable_seed(gid: str) -> int:
    """Cross-process-stable per-gid RNG seed.  Python ``hash(str)`` is
    PYTHONHASHSEED-salted (different every interpreter), which silently broke
    the module's determinism contract in round 1; md5 is process-invariant."""
    return int.from_bytes(hashlib.md5(gid.encode()).digest()[:4], "big")


def synth_osm_catalog(spark, segments: DataFrame, seed: int = 4, per_seg: int = 3) -> DataFrame:
    """Deterministic stand-in catalog: points seeded near segment vertices so
    bbox hits are predictable (FIXTURES.md §4); ~50% tagged ``railway``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # batched parse: one vectorized pass for the whole Arrow chunk;
            # only the (per-gid-seeded, tiny) sampling stays per row
            for gid, ids in zip(pdf["gid"], G.parse_lines(pdf["wkt"])):
                if isinstance(ids, G.GeometryError):
                    raise ids
                if ids.size == 0:
                    continue
                p = ids // G._E
                px, py = (p // G._P).astype(float) * G.PITCH, (p % G._P).astype(float) * G.PITCH
                rng = np.random.default_rng([seed, _stable_seed(gid)])
                for j in range(per_seg):
                    k = int(rng.integers(0, len(px)))
                    tags = (
                        {"railway": "rail"} if rng.random() < 0.5 else {"landuse": "forest"}
                    )
                    rows.append(
                        {
                            "osm_id": int(rng.integers(1, 1 << 40)),
                            "osm_type": ["node", "way", "relation"][j % 3],
                            "tags": tags,
                            "lat": float(py[k] + rng.normal(0, 0.0004)),
                            "lng": float(px[k] + rng.normal(0, 0.0004)),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["osm_id", "osm_type", "tags", "lat", "lng"]
            )

    return segments.select("gid", "wkt").mapInPandas(gen, OSM_CATALOG_SCHEMA)


def segment_boxes(segments: DataFrame, samples: int = DEFAULT_SAMPLES, seed: int = 9) -> DataFrame:
    """Wrapper bbox + ``samples`` seeded sample boxes per segment (A4/F9)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # batched parse (one numpy pass per chunk); the per-gid-seeded
            # box sampling is the only remaining per-row work
            for gid, ids in zip(pdf["gid"], G.parse_lines(pdf["wkt"])):
                if isinstance(ids, G.GeometryError):
                    raise ids
                if ids.size == 0:
                    continue
                pts = np.concatenate([ids // G._E, ids % G._E])
                xs = (pts // G._P).astype(float) * G.PITCH
                ys = (pts % G._P).astype(float) * G.PITCH
                # wrapper bbox — create_bounding_box__multiline
                rows.append(
                    {"gid": gid, "box_id": 0,
                     "s": ys.min(), "w": xs.min(), "n": ys.max(), "e": xs.max()}
                )
                rng = np.random.default_rng([seed, _stable_seed(gid)])
                for j in range(samples):
                    k = int(rng.integers(0, len(xs)))
                    rows.append(
                        {"gid": gid, "box_id": j + 1,
                         "s": ys[k] - BOX_HALF, "w": xs[k] - BOX_HALF,
                         "n": ys[k] + BOX_HALF, "e": xs[k] + BOX_HALF}
                    )
            yield pd.DataFrame(rows, columns=["gid", "box_id", "s", "w", "n", "e"])

    return segments.select("gid", "wkt").mapInPandas(gen, BOX_SCHEMA)


def _with_cells(boxes: DataFrame) -> DataFrame:
    """Explode each box to the CELL-grid cells it covers (equi-join key)."""
    return boxes.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("w") / CELL).cast("long"),
                F.floor(F.col("e") / CELL).cast("long"),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / CELL).cast("long"),
                F.floor(F.col("n") / CELL).cast("long"),
            )
        ).alias("cy"),
    )


def link_osm(
    segments: DataFrame,
    osm_catalog: DataFrame,
    filter_tag: str = "railway",
    samples: int = DEFAULT_SAMPLES,
    seed: int = 9,
) -> DataFrame:
    """→ osm_links(gid, osm_uris array<string>) — linked_maps_to_osm.py:248-253."""
    boxes = _with_cells(segment_boxes(segments, samples=samples, seed=seed))
    cat = (
        osm_catalog
        # P5 tag filter: key present OR any value equals the filter tag
        .filter(
            F.map_contains_key(F.col("tags"), F.lit(filter_tag))
            | F.array_contains(F.map_values("tags"), filter_tag)
        )
        .withColumn("cx", F.floor(F.col("lng") / CELL).cast("long"))
        .withColumn("cy", F.floor(F.col("lat") / CELL).cast("long"))
    )
    hits = boxes.join(cat, on=["cx", "cy"], how="inner").filter(
        (F.col("lat") >= F.col("s")) & (F.col("lat") <= F.col("n"))
        & (F.col("lng") >= F.col("w")) & (F.col("lng") <= F.col("e"))
    )
    votes = (
        hits.groupBy("gid", "osm_type", "osm_id")
        .agg(F.countDistinct("box_id").alias("votes"))
        .filter(F.col("votes") > 1)  # P6
        .withColumn(
            "osm_uri",
            F.concat(
                F.lit("https://www.openstreetmap.org/"), "osm_type", F.lit("/"), "osm_id"
            ),
        )
    )
    return (
        votes.groupBy("gid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("votes")).alias("nv"), "osm_uri"))
            ).alias("ranked")
        )
        .select("gid", F.transform("ranked", lambda s: s["osm_uri"]).alias("osm_uris"))
    )
