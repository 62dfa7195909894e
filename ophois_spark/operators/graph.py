"""StreetGraph — the engine's graph representation.

The reference materializes ``HashMap`` nodes + a both-directions link
map in driver RAM (reference src/graph.rs:34-38). The Spark-native
representation is a pair of DataFrames:

- ``nodes``: ``id string, lat string, lon string, lat_d double, lon_d double``
  (lat/lon kept VERBATIM as strings for parity — src/graph.rs:10-11 —
  with double shadow columns for math)
- ``edges``: ``src string, dst string`` stored canonically once
  (``src < dst`` lexicographically, the reference's ``determinist``,
  src/utils.rs:1-7) instead of both directions.

Degree/adjacency are derived relationally, never materialized per-node.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.functions import haversine_m

NODE_COLS = ["id", "lat", "lon", "lat_d", "lon_d"]
EDGE_COLS = ["src", "dst"]


@dataclass
class StreetGraph:
    nodes: DataFrame
    edges: DataFrame

    def checkpoint(self) -> "StreetGraph":
        """Materialize both relations (eager localCheckpoint) — the
        stage-boundary cut of a multi-stage pipeline. A contraction
        stage reads its input graph through several independent
        consumers (degree snapshot, induced edges, boundary semi-joins,
        component seeds); without the cut each consumer replays the
        previous stages' join lineage at its own materialization
        (measured on the simplify chain at sf0.1: ~30% of wall time).
        At cluster scale the same boundary is where the snapshot log
        writes its resumable parquet stage (plans/snapshots.py) — this
        is the in-session equivalent."""
        return StreetGraph(
            self.nodes.localCheckpoint(eager=True),
            self.edges.localCheckpoint(eager=True),
        )

    def degrees(self) -> DataFrame:
        """Per-node degree, including 0 for isolated nodes.

        Reference degree = ``neighbours.len()`` (src/metrics.rs:26-33),
        i.e. isolated nodes count with degree 0.
        """
        end_counts = (
            self.edges.select(F.explode(F.array("src", "dst")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        return self.nodes.select("id").join(end_counts, "id", "left").select(
            "id", F.coalesce("degree", F.lit(0)).cast("int").alias("degree")
        )

    def edges_with_coords(self) -> DataFrame:
        """Edges joined to both endpoint coordinates + haversine metres.

        The join is plain equi-hash; at test scale Catalyst broadcasts
        the node side, at 10^12 scale it shuffles on id — both fine, and
        AQE picks per-stage.
        """
        ns = self.nodes.select("id", "lat", "lon", "lat_d", "lon_d")
        src_n = ns.select(
            F.col("id").alias("src"),
            F.col("lat").alias("src_lat"),
            F.col("lon").alias("src_lon"),
            F.col("lat_d").alias("src_lat_d"),
            F.col("lon_d").alias("src_lon_d"),
        )
        dst_n = ns.select(
            F.col("id").alias("dst"),
            F.col("lat").alias("dst_lat"),
            F.col("lon").alias("dst_lon"),
            F.col("lat_d").alias("dst_lat_d"),
            F.col("lon_d").alias("dst_lon_d"),
        )
        return (
            self.edges.join(src_n, "src")
            .join(dst_n, "dst")
            .withColumn(
                "dist_m",
                haversine_m(
                    F.col("src_lon_d"),
                    F.col("src_lat_d"),
                    F.col("dst_lon_d"),
                    F.col("dst_lat_d"),
                ),
            )
        )

    def counts(self) -> tuple[int, int]:
        return self.nodes.count(), self.edges.count()

    def remove_nodes(self, victims: DataFrame) -> "StreetGraph":
        """Remove nodes + all incident edges (reference remove_node,
        src/graph.rs:127-136) — anti-joins, the relational form of M2."""
        v = victims.select("id").distinct()
        nodes = self.nodes.join(v, "id", "left_anti")
        edges = (
            self.edges.join(v.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(v.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
        return StreetGraph(nodes, edges)

    def add_edges(self, new_edges: DataFrame) -> "StreetGraph":
        """Union + canonical dedup (reference insert_link idiom,
        src/graph.rs:146-152). ``new_edges`` must already be canonical."""
        edges = self.edges.unionByName(new_edges.select("src", "dst")).dropDuplicates(
            ["src", "dst"]
        )
        return StreetGraph(self.nodes, edges)
