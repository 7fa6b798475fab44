"""supersteps.py: the checkpoint / fixpoint / bfs primitives every
iterative graph operator runs on, plus a guard that keeps Observation
construction in that one module."""

from __future__ import annotations

import ast
import os

from pyspark.sql import functions as F

from graph_importer_spark.supersteps import bfs, checkpoint, fixpoint

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "graph_importer_spark")


def _min_label_step(edges):
    """One synchronous min-label superstep over undirected ``edges``."""

    def step(labels):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nl"))
        )
        return labels.join(nbr, "id", "left").select(
            "id", F.least("label", F.coalesce("nl", "label")).alias("label")
        )

    return step


def test_checkpoint_observes_in_the_same_job(spark):
    df = spark.range(10)
    out, got = checkpoint(df, n=F.count(F.lit(1)), s=F.sum("id"))
    assert (got["n"], got["s"]) == (10, 45)
    assert sorted(r.id for r in out.collect()) == list(range(10))
    assert checkpoint(df)[1] == {}


def test_fixpoint_matches_hand_computed_fixpoint(spark):
    # path 0-1-2-3 and pair 7-8: min-label propagation settles at the
    # component minima; the path needs 3 changing supersteps + 1 to see
    # the fingerprint repeat
    pairs = [(0, 1), (1, 2), (2, 3), (7, 8)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(v, v) for v in (0, 1, 2, 3, 7, 8)], "id long, label long"
    )
    seen = []
    out, converged = fixpoint(
        labels, _min_label_step(edges), ["id", "label"], 10, lambda i, n: seen.append((i, n))
    )
    assert converged
    assert {r.id: r.label for r in out.collect()} == {0: 0, 1: 0, 2: 0, 3: 0, 7: 7, 8: 7}
    assert seen == [(i, 6) for i in range(4)]


def test_fixpoint_reports_exhausted_budget(spark):
    pairs = [(i, i + 1) for i in range(9)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    labels = spark.range(10).select("id", F.col("id").alias("label"))
    out, converged = fixpoint(labels, _min_label_step(edges), ["id", "label"], 2)
    assert not converged
    # two supersteps moved label 0 two hops, no further
    assert {r.id: r.label for r in out.collect()}[3] == 1


def test_bfs_hop_distances(spark):
    # directed: 1->2->3->4, 1->3, 5->1; 9 is unreachable from 1
    adj = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 1), (9, 9)], "src long, dst long"
    )
    start = spark.createDataFrame([(1,)], "id long")
    got = {(r.id, r.d) for r in bfs(adj, start, 10).collect()}
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}
    # max_hops truncates
    assert {r.id for r in bfs(adj, start, 1).collect()} == {1, 2, 3}
    # carried key columns run independent searches in one call
    multi = spark.createDataFrame([(1, 1), (5, 5)], "s long, id long")
    got = {(r.s, r.id, r.d) for r in bfs(adj, multi, 10).collect()}
    assert got == {
        (1, 1, 0), (1, 2, 1), (1, 3, 1), (1, 4, 2),
        (5, 5, 0), (5, 1, 1), (5, 2, 2), (5, 3, 2), (5, 4, 3),
    }


def test_observation_is_built_only_in_supersteps():
    """Every Observation-fused checkpoint goes through supersteps.checkpoint."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PKG, "supersteps.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    f = node.func
                    called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if called == "Observation":
                        offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []
