"""Connected components: correctness + the SURVEY §5.5 property tests
(permutation invariance, partition-count invariance, min-id labels)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.cc import connected_components, connected_components_str


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_chain_and_star(spark):
    # chain 0-1-2-3-4 plus star 10-{11,12,13} plus isolated pair 20-21
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "src long, dst long",
    )
    lab = _labels(connected_components(edges))
    assert {lab[i] for i in range(5)} == {0}
    assert {lab[i] for i in (10, 11, 12, 13)} == {10}
    assert lab[20] == lab[21] == 20


def test_two_long_chains_converge(spark):
    n = 64
    e1 = [(i, i + 1) for i in range(n - 1)]          # chain 0..63
    e2 = [(100 + i, 100 + i + 1) for i in range(n - 1)]  # chain 100..163
    edges = spark.createDataFrame(e1 + e2, "src long, dst long")
    lab = _labels(connected_components(edges))
    assert {lab[i] for i in range(n)} == {0}
    assert {lab[100 + i] for i in range(n)} == {100}


def test_exhausted_budget_raises(spark):
    # a 64-vertex path does not settle in one star round; a truncated
    # labeling (63 of 64 labels wrong) must not be returned
    edges = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not settle"):
        connected_components(edges, max_iter=1)


def test_permutation_and_direction_invariance(spark):
    edges = [(5, 3), (3, 9), (9, 7), (2, 8)]
    a = _labels(connected_components(spark.createDataFrame(edges, "src long, dst long")))
    b = _labels(
        connected_components(
            spark.createDataFrame([(d, s) for s, d in reversed(edges)], "src long, dst long")
        )
    )
    assert a == b
    assert a[5] == a[3] == a[9] == a[7] == 3
    assert a[2] == a[8] == 2


@pytest.mark.parametrize("nparts", [2, 16])
def test_partition_count_invariance(spark, nparts):
    """Labels must not depend on physical partitioning (the local[8] vs
    local[32] scaling bench requires identical output)."""
    base = spark.range(200).select(
        F.col("id").alias("src"), F.pmod(F.col("id") * 7 + 3, F.lit(50)).alias("dst")
    )
    ref = _labels(connected_components(base.repartition(4)))
    got = _labels(connected_components(base.repartition(nparts)))
    assert got == ref


def test_self_loops_ignored(spark):
    edges = spark.createDataFrame([(1, 1), (1, 2)], "src long, dst long")
    lab = _labels(connected_components(edges))
    assert lab == {1: 1, 2: 1}


def test_string_adapter(spark):
    edges = spark.createDataFrame(
        [("alice", "hub"), ("bob", "hub"), ("carol", "dave")], "src string, dst string"
    )
    got = {r["name"]: r["canonical"] for r in connected_components_str(edges).collect()}
    assert got == {
        "alice": "alice", "bob": "alice", "hub": "alice",
        "carol": "carol", "dave": "carol",
    }


def test_dense_ids_and_cc_dense(spark):
    from graph_importer_spark.operators.ids import connected_components_dense, dense_ids

    df = spark.createDataFrame([("c",), ("a",), ("b",), ("a",)], "k string")
    ids = {r["k"]: r["id"] for r in dense_ids(df, "k").collect()}
    assert sorted(ids.values()) == [0, 1, 2]
    # deterministic regardless of input layout
    ids2 = {r["k"]: r["id"] for r in dense_ids(df.repartition(5), "k").collect()}
    assert ids == ids2

    edges = spark.createDataFrame(
        [("alice", "hub"), ("bob", "hub"), ("carol", "dave")], "src string, dst string"
    )
    got = {r["name"]: r["canonical"] for r in connected_components_dense(edges).collect()}
    assert got == {
        "alice": "alice", "bob": "alice", "hub": "alice",
        "carol": "carol", "dave": "carol",
    }


def test_incremental_canonicalize(spark):
    from graph_importer_spark.operators.incremental import incremental_canonicalize

    existing = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("p", "p"), ("q", "p"), ("z", "z")],
        "name string, canonical string",
    )
    # new batch: connects entity 'a' and entity 'p' (via c--q), adds a
    # new member 'w' to entity 'p', and mints a fresh entity {s, t}
    new_edges = spark.createDataFrame(
        [("c", "q"), ("w", "p"), ("s", "t")], "src string, dst string"
    )
    got = {
        r["name"]: r["canonical"]
        for r in incremental_canonicalize(existing, new_edges).collect()
    }
    # merge: both old entities land on the SMALLER old id ('a'), reaching
    # untouched members ('b' never appears in new_edges)
    assert got["a"] == got["b"] == got["c"] == got["p"] == got["q"] == "a"
    # new member follows its entity's (merged) id
    assert got["w"] == "a"
    # untouched entity is untouched
    assert got["z"] == "z"
    # fresh entity gets min(name)
    assert got["s"] == got["t"] == "s"
    assert len(got) == 9


def test_single_task_equivalent_to_iterative(spark):
    # deterministic pseudo-random graph: chains, a star, self-loop-only
    # nodes, isolated pairs, duplicate + reversed edges
    edges = [(i, (i * 17 + 3) % 40) for i in range(60)]
    edges += [(100, 100), (7, 7), (200, 201), (201, 200), (5, 3), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    it = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    st = {
        (r["id"], r["component"])
        for r in connected_components(df, single_task=True).collect()
    }
    assert it == st and len(st) > 0


def test_single_task_empty_and_self_loops(spark):
    # self-loop-only nodes are dropped, matching the iterative contract
    df = spark.createDataFrame([(9, 9)], "src long, dst long")
    assert connected_components(df, single_task=True).count() == 0
    empty = df.filter("src < 0")
    assert connected_components(empty, single_task=True).count() == 0
