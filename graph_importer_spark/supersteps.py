"""Superstep primitives shared by every iterative graph operator.

Connected components (cc.py), the Pregel catalog of
operators/analytics.py (start_Pregel.py:28-57 launches the same
algorithms server-side) and the canonicalization stages all run as
driver-orchestrated loops of DataFrame supersteps.  Every superstep
follows one rule:

* ONE Spark action per superstep.  The new state is materialized by an
  eager ``localCheckpoint``; any scalar the driver needs to steer the
  loop (a fingerprint, a delta, a count) is computed in that same job
  through an ``Observation``, never by a second ``count()``/``collect()``.
* Lineage is truncated by that checkpoint, so superstep i+1 plans O(1)
  operators instead of O(i) — without it the plan doubles per round and
  the driver OOMs planning round ~15.
* Convergence is detected by a fingerprint — (row count, xor of
  xxhash64 over the state's columns) — compared with the previous
  state's, not by an anti-join of the two states: one extra aggregate
  riding the checkpoint job instead of a full shuffle.

``checkpoint`` is the one-action materialization (the only place an
``Observation`` is built), ``fixpoint`` the fingerprinted loop and
``bfs`` the frontier/visited expansion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df``; the named aggregates ride the
    same job as an Observation.  -> (checkpointed df, {name: value})."""
    if not aggs:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in aggs.items()]).localCheckpoint(eager=True)
    return out, obs.get


def _fingerprinted(df: DataFrame, cols: list[str]) -> tuple[DataFrame, tuple[int, int]]:
    out, got = checkpoint(
        df,
        n=F.count(F.lit(1)),
        h=F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)),
    )
    return out, (int(got["n"]), int(got["h"]))


def fixpoint(df: DataFrame, step, cols: list[str], max_iter: int, on_iteration=None):
    """Apply ``step`` (DataFrame -> DataFrame) until the state's
    fingerprint over ``cols`` stops changing, at most ``max_iter`` times.

    ``on_iteration(i, n_rows)`` is called after every superstep.
    -> (state, converged); ``converged`` is False when the budget ran out
    before two consecutive states agreed.  The input is checkpointed (and
    fingerprinted) first, so a one-step fixpoint costs two jobs.
    """
    state, prev = _fingerprinted(df, cols)
    for i in range(max_iter):
        state, cur = _fingerprinted(step(state), cols)
        if on_iteration is not None:
            on_iteration(i, cur[0])
        if cur == prev:
            return state, True
        prev = cur
    return state, False


def bfs(adj: DataFrame, start: DataFrame, max_hops: int) -> DataFrame:
    """Frontier expansion over ``adj(src, dst)`` from ``start``.

    ``start`` has an ``id`` column plus optional key columns (e.g. a
    source id) that are carried along, so one call runs many
    independent searches.  Each hop joins the frontier to ``adj``,
    anti-joins the visited set on (keys, id) and checkpoints the new
    frontier with its row count in the same job; the loop stops at
    ``max_hops`` or when the frontier is empty.  The visited set is the
    union of the checkpointed frontiers: its plan grows by one scan per
    hop, never by a recomputed hop.
    -> start's columns + ``d`` (int hop distance, 0 for ``start``).
    """
    carried = [c for c in start.columns if c != "id"]
    frontier, _ = checkpoint(start.withColumn("d", F.lit(0)))
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt, got = checkpoint(
            frontier.join(adj, frontier["id"] == adj["src"])
            .select(*carried, F.col("dst").alias("id"))
            .distinct()
            .join(visited.select(*carried, "id"), [*carried, "id"], "left_anti")
            .withColumn("d", F.lit(hop)),
            n=F.count(F.lit(1)),
        )
        if got["n"] == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited
