"""Iterative connected components (large-star / small-star) on DataFrames.

Natively implements the ``connectedcomponents`` / ``wcc`` surface the
reference only delegates to server-side Pregel
(/root/reference/arguments.py:182-184, start_Pregel.py:28-57).  The
algorithm is the two-phase star contraction of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SOCC'14) — O(log^2 n)
rounds, each round two shuffles (a groupBy-min and a join), no driver-side
data movement.

Scale notes (SURVEY.md §7 hard part 2):
* Each star round is one ``supersteps.fixpoint`` superstep (one job,
  lineage truncated, fingerprint convergence — see supersteps.py); an
  exhausted ``max_iter`` raises instead of returning a partial labeling.
* Giant components make large-star groups skewed (the component hub
  accumulates all members as neighbors).  AQE skew-join handles the join
  side; the groupBy is a partial (map-side) min aggregation, so a hot key
  combines locally before the shuffle — the classic reason to prefer
  ``groupBy().agg(min)`` over ``Window``.

API works on long node ids.  ``connected_components_str`` adapts string
ids via xxhash64 (collision probability n^2/2^65; fine to ~10^8 nodes —
swap in a dictionary join for the 10^12 design point, see docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_importer_spark.supersteps import fixpoint


def _symmetrize(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter(
        F.col("u") != F.col("v")
    )


def _sym_uv(e: DataFrame) -> DataFrame:
    """Both directions of an undirected (u,v) edge set.

    Large/small-star are defined on the UNDIRECTED neighborhood; their
    outputs are directed (child->root), so each round must re-symmetrize
    its input or the v>u / u>v orientation filters silently empty the
    graph on round 2."""
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    nbrs = _sym_uv(e)
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", "u").alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large->small (u > v); for each u: m = min neighbor;
    emit (v, m) for all small neighbors v plus (u, m)."""
    directed = _sym_uv(e).filter(F.col("u") > F.col("v")).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    re_linked = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select(F.col("u"), F.col("m").alias("v"))
    return re_linked.unionByName(self_link).filter(F.col("u") != F.col("v")).distinct()


def connected_components_single(edges: DataFrame) -> DataFrame:
    """Exact CC for edge sets that fit in ONE task: union-find over a
    single ``mapInPandas`` pass on ``coalesce(1)``.

    Identical contract to ``connected_components`` (labels(id,
    component) for every node on a non-self-loop edge; component = min
    member id; self loops ignored) — asserted equivalent on random
    graphs in tests/test_cc.py.  The point is
    JOBS, not shuffles: the iterative loop pays one localCheckpoint
    job per star round (~4-8 rounds even on a 100-row pair graph,
    pure driver latency), while this path is one job total.  It stays
    EXECUTOR-side (no driver collect) and is gated by the caller on a
    row-count threshold — the small-pair-graph case every dedup
    pipeline hits, where candidate pairs are a vanishing fraction of
    the corpus.  Never use it ungated: a single task must hold the
    whole edge set.
    """
    import pandas as pd

    def uf(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["src"], pdf["dst"]):
                u = int(u)
                v = int(v)
                if u == v:
                    continue  # self loops ignored (iterative contract)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        if not parent:
            return
        mins: dict = {}
        for n in parent:
            r = find(n)
            if r not in mins or n < mins[r]:
                mins[r] = n
        ids = sorted(parent)
        yield pd.DataFrame(
            {"id": ids, "component": [mins[find(n)] for n in ids]},
            dtype="int64",
        )

    return edges.select("src", "dst").coalesce(1).mapInPandas(
        uf, "id long, component long"
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    on_iteration=None,
    single_task: bool = False,
) -> DataFrame:
    """edges(src long, dst long) -> labels(id long, component long).

    component = min node id of the component (stable, deterministic).
    ``on_iteration(i, n_edges)`` is the observability hook feeding the
    pipeline's _metrics table (the analogue of the reference's Pregel
    status polling, start_Pregel.py:123-164).

    ``single_task=True`` routes to ``connected_components_single`` —
    callers set it when they already know the edge count is below
    their small-graph threshold.
    """
    if single_task:
        return connected_components_single(edges)
    e, converged = fixpoint(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        lambda e: _small_star(_large_star(e)),
        ["u", "v"],
        max_iter,
        on_iteration,
    )
    if not converged:
        raise RuntimeError(f"connected_components did not settle within {max_iter} rounds")
    # e is now a star forest oriented child->root (u > v == root).
    roots = e.select(F.col("v").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    # isolated vertices from the ORIGINAL edge set keep themselves
    orig = _symmetrize(edges).select(F.col("u").alias("id")).distinct()
    labels = members.unionByName(roots)
    isolated = orig.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labels.unionByName(isolated).distinct()


def connected_components_str(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    single_task: bool = False,
) -> DataFrame:
    """String-id adapter: hash ids to longs, run CC, map back.

    xxhash64 collisions would silently merge components at ~10^9+ nodes;
    for the 10^12 design point replace with a persisted id-dictionary
    (dropDuplicates + row_number over a global sort, amortized across
    runs). Kept hash-based here: zero extra shuffles.
    """
    nodes = (
        edges.select(F.col(src).alias("name"))
        .unionByName(edges.select(F.col(dst).alias("name")))
        .distinct()
        .select("name", F.xxhash64("name").alias("id"))
    )
    e = edges.select(
        F.xxhash64(F.col(src)).alias("src"), F.xxhash64(F.col(dst)).alias("dst")
    )
    labels = connected_components(e, max_iter=max_iter, single_task=single_task)
    comp_names = (
        labels.join(nodes, "id")
        .groupBy("component")
        .agg(F.min("name").alias("canonical"))
    )
    return (
        labels.join(nodes, "id")
        .join(comp_names, "component")
        .select(F.col("name"), F.col("canonical"))
    )
