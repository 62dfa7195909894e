"""Inputs the benchmark generates for itself beyond the engine's own
page generator: a document corpus, its link overlay, admin polygons and
the first-wins conflicts planted in ingest's pages.

Document content is fixed (a private RNG with a constant seed), so the
pinned digests hold for every ``--seed``; the run's seed only orders the
rows within their partitions, as it does for the pages.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# English stop words from the engine's language profile, so the gate
# predicts "en", and long content words, so the alpha ratio clears it
STOP = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
CONTENT = (
    "boulevard", "crossing", "junction", "highway", "pavement", "corridor",
    "district", "harbour", "terminal", "station", "viaduct", "overpass",
    "township", "quarter", "frontage", "carriage", "railway", "tramline",
    "crescent", "terrace", "parkway", "waterway", "footpath", "cycleway",
    "roundabout", "motorway", "causeway", "embankment", "esplanade", "promenade",
    "boundary", "landmark", "province", "municipal", "regional", "national",
    "northern", "southern", "eastern", "western", "central", "outskirts",
)
FRENCH = "le chat est sur la table et la maison est calme que les enfants dorment"
DOC_SALT = 20240601


def _prose(rng: random.Random, n_words: int) -> list[str]:
    return [rng.choice(STOP) if rng.random() < 0.2 else rng.choice(CONTENT) for _ in range(n_words)]


def synth_docs(n_docs: int) -> list[tuple[int, str, str]]:
    """``(doc_id, text, source)`` rows that exercise every funnel stage
    of ``corpus_pipeline``: of every 10 documents, one is an exact
    duplicate (after whitespace normalization) of an earlier one, one a
    near-duplicate (one word changed), one is short and one French; the
    rest are distinct English prose of 40-80 words."""
    rng = random.Random(DOC_SALT)
    texts: list[str] = []
    for i in range(n_docs):
        kind = i % 10
        if kind == 3 and i >= 10:
            text = "  " + texts[i - 7].replace(" ", "   ") + " "
        elif kind == 6 and i >= 10:
            words = texts[i - 5].split()
            words[len(words) // 2] = "checkpoint"
            text = " ".join(words)
        elif kind == 8:
            text = " ".join(_prose(rng, 12))
        elif kind == 9:
            text = f"{FRENCH} {FRENCH} numero {i}"
        else:
            text = " ".join(_prose(rng, rng.randint(40, 80)))
        texts.append(text)
    return [(i, t, f"src{i % 7}") for i, t in enumerate(texts)]


def docs_frame(spark: SparkSession, rows: list[tuple[int, str, str]], cores: int, seed: int) -> DataFrame:
    """The corpus as a materialized table: round-robin over ``cores``
    partitions, seeded order within each."""
    return (
        spark.createDataFrame(rows, "doc_id long, text string, source string")
        .repartition(cores)
        .sortWithinPartitions(F.xxhash64("doc_id", F.lit(seed)))
        .localCheckpoint(eager=True)
    )


def link_overlay(docs: DataFrame, n_docs: int) -> tuple[DataFrame, DataFrame]:
    """Deterministic link graph over the corpus, the same rule as the
    engine's registry overlay: doc i links to (31 i + 97 j) mod N for
    j = 1 .. 1 + i mod 3. A low-diameter graph, the opposite case to the
    street grid."""
    nodes = docs.select(F.col("doc_id").alias("id"))
    j = nodes.select(
        "id", F.explode(F.sequence(F.lit(1).cast("long"), F.lit(1) + F.col("id") % 3)).alias("j")
    )
    dst = (F.col("id") * 31 + 97 * F.col("j")) % F.lit(n_docs)
    edges = (
        j.select(F.col("id").alias("src"), dst.cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return nodes, edges


def admin_polygons(
    lon0: float, lat0: float, lon1: float, lat1: float, n: int = 12
) -> list[tuple[str, list[float], list[float]]]:
    """``n`` regular rings (5-7 vertices) scattered over the box, plus
    one ring overlapping the first, so some points fall in two polygons."""
    w, h = lon1 - lon0, lat1 - lat0
    r0 = 0.08 * min(w, h)
    polys = []
    for k in range(n):
        cx = lon0 + w * (((k * 37) % 17) + 1) / 18
        cy = lat0 + h * (((k * 53) % 17) + 1) / 18
        r = r0 * (1 + (k % 3) / 2)
        nv = 5 + k % 3
        xs = [cx + r * math.cos(2 * math.pi * i / nv) for i in range(nv)]
        ys = [cy + r * math.sin(2 * math.pi * i / nv) for i in range(nv)]
        polys.append((f"P{k:02d}", xs, ys))
    polys.append((f"P{n:02d}", [x + r0 / 2 for x in polys[0][1]], [y + r0 / 2 for y in polys[0][2]]))
    return polys


def plant_conflicts(pages: DataFrame, seed: int, share: int = 4) -> DataFrame:
    """Append a digit to every ``lat`` on a seeded 1-in-``share`` subset
    of pages. Tiles overlap, so the boundary nodes of those pages now
    disagree with their copies on neighbouring pages, and only the
    first-occurrence rule decides which coordinates a node keeps."""
    hit = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(share)) == 0
    planted = F.regexp_replace("text", 'lat="(?<v>[^"]*)"', 'lat="${v}1"')
    return pages.withColumn("text", F.when(hit, planted).otherwise(F.col("text")))
