"""plans.fixpoint: the one driver every iterative operator runs on —
round cap, bounded lineage, bounded plan estimates, and a lexical
guard that no other module of the package cuts lineage inside a loop."""

import ast
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from ophois_spark.plans.fixpoint import changed, fixpoint

_PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "ophois_spark"
_DRIVER = _PACKAGE / "plans" / "fixpoint.py"


def _size_digits(df) -> int:
    # py4j parses the estimate into an int; a compounded one can exceed
    # Python's default 4,300-digit conversion limit
    limit = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    finally:
        sys.set_int_max_str_digits(limit)


def test_cap_raises_at_exactly_max_rounds_naming_operator(spark):
    steps = []

    def _round(df, cut):
        steps.append(1)
        return df.select((F.col("id") + 1).alias("id"), F.col("id").alias("prev"))

    with pytest.raises(RuntimeError, match=r"never_converges.*\b7 rounds"):
        fixpoint(
            "never_converges",
            spark.range(3),
            _round,
            stop=changed(F.col("id") != F.col("prev")),
            max_rounds=7,
        )
    assert len(steps) == 7


def test_lazy_loop_of_200_rounds_has_bounded_lineage(spark):
    """One action per round on a lazily cut state: without the eager
    cut every 16th round the serialized RDD graph grows with every
    round (the deserializer stack overflowed near round ~150 of 256
    BPE merges)."""

    def _round(df, cut):
        return df.select((F.col("id") + 1).alias("id"), F.col("id").alias("prev"))

    out, rounds = fixpoint(
        "counter",
        spark.range(4),
        _round,
        stop=changed(F.col("id") != F.col("prev")),  # every row, every round
        rounds=200,
    )
    assert rounds == 200
    assert sorted(r.id for r in out.collect()) == [200, 201, 202, 203]


def test_loop_results_keep_a_bounded_size_estimate(spark):
    """Label propagation and PageRank joined each round's result into
    the next round's plan, and localCheckpoint kept the compounding
    product-of-children estimate across rounds (thousands of digits on
    the benchmark's street grid); the driver's barrier resets it."""
    from ophois_spark.operators.components import connected_components
    from ophois_spark.operators.webgraph import pagerank_converged
    from ophois_spark.sources.graph_io import graph_from_tuples

    ids = [f"n{i:03d}" for i in range(64)]
    g = graph_from_tuples(
        spark, [(i, "48.0", "2.0") for i in ids], list(zip(ids[::-1], ids[-2::-1]))
    )
    with pytest.raises(RuntimeError):  # the path takes at least 6 rounds
        connected_components(g, max_iter=5)
    labels = connected_components(g)
    assert {r.comp for r in labels.collect()} == {"n000"}
    assert _size_digits(labels) <= 30, _size_digits(labels)

    nodes = spark.range(40).select(F.col("id"))
    edges = spark.range(40).select(
        F.col("id").alias("src"), ((F.col("id") * F.col("id") + 1) % 40).alias("dst")
    ).unionByName(
        spark.range(40).select(F.col("id").alias("src"), ((F.col("id") + 1) % 40).alias("dst"))
    )
    ranks, rounds = pagerank_converged(nodes, edges)
    assert rounds >= 6
    assert _size_digits(ranks) <= 30, _size_digits(ranks)


def _cuts_inside_loops(tree: ast.AST) -> list[int]:
    lines = []
    for loop in ast.walk(tree):
        if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
            continue
        for stmt in loop.body + loop.orelse:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Attribute) and node.attr in (
                    "localCheckpoint",
                    "stats_barrier",
                ):
                    lines.append(node.lineno)
                elif isinstance(node, ast.Name) and node.id == "stats_barrier":
                    lines.append(node.lineno)
    return lines


def test_no_operator_cuts_lineage_inside_its_own_loop():
    """Round loops cut lineage only through plans.fixpoint: a
    ``localCheckpoint`` or ``stats_barrier`` lexically inside a ``for``
    or ``while`` body of any other module of the package fails."""
    found = {
        str(path.relative_to(_PACKAGE)): lines
        for path in sorted(_PACKAGE.rglob("*.py"))
        if path != _DRIVER and (lines := _cuts_inside_loops(ast.parse(path.read_text())))
    }
    assert found == {}


def test_loop_guard_sees_a_cut_inside_a_loop():
    src = "for _ in range(3):\n    df = df.localCheckpoint(eager=False)\n"
    assert _cuts_inside_loops(ast.parse(src)) == [2]
    src = "while True:\n    x = x.transform(stats_barrier)\n"
    assert _cuts_inside_loops(ast.parse(src)) == [2]
