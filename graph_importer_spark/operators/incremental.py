"""Incremental entity canonicalization: merge a NEW batch of mention
co-occurrence edges into YESTERDAY'S canonical map without recomputing
connected components over the historical corpus.

The reference's resume story is existence probes per bulk (skip rows the
database already has — edge_list.py:47-58, graphalytics_importer.py:168-175);
a KG pipeline needs the stronger form: previously assigned entity ids
must stay STABLE when new pages arrive, and two old entities that new
evidence connects must merge deterministically.

Semantics
---------
Given ``existing`` = (name, canonical) and ``new_edges`` = (src, dst):

* a name untouched by the new batch keeps its canonical, except that
* if new evidence merges entity A and entity B, every member of both
  (touched or not) moves to ``min(canonical_A, canonical_B)`` — the
  smaller OLD id wins, so ids never churn toward new names;
* a brand-new component (no member previously assigned) gets
  ``min(name)`` as its id — the same rule the from-scratch
  canonicalization uses, so a batch run and an incremental run agree.

Scale shape (10^12 documents)
-----------------------------
The historical map is never CC-iterated again.  Work is proportional to
the DELTA: CC runs over ``new_edges`` plus one anchor edge
(name -> old canonical) per touched previously-known name.  The
historical map is touched exactly twice, both as hash equi-joins: a
semi-join to pull anchors, and a remap join on ``canonical`` against a
small (touched-entities-only) broadcastable remap table.  That remap
join is also where the merge reaches UNTOUCHED members of merged
entities — no per-name iteration over history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_importer_spark.cc import connected_components_str
from graph_importer_spark.supersteps import checkpoint


def incremental_canonicalize(
    existing: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 50,
    small_graph_rows: int = 200_000,
) -> DataFrame:
    """Return the UPDATED full canonical map (name, canonical).

    ``existing``: (name, canonical) from the previous run (canonical
    values are themselves names, per the min-name convention).
    ``new_edges``: (src, dst) co-occurrence pairs from the new batch.

    Delta graphs at or below ``small_graph_rows`` edges skip the CC
    loop for ``cc.connected_components_single`` (one executor-side
    union-find task instead of one job per star round): per-round job
    latency dominates small deltas, and daily deltas are small relative
    to the map by definition.  The delta is checkpointed either way
    (lineage truncation; the size rides the same job — see
    ``supersteps.checkpoint`` — so the gate costs no extra action).

    Note: CALLING this function runs one Spark job (the delta
    checkpoint) — the size gate must see the count before the CC plan
    is chosen.  The delta is the smallest frame in the operator
    (new-batch edges + one anchor per touched name), and every caller
    (streaming foreachBatch, contract) executes immediately anyway;
    flagged per the repo's no-silent-side-effects convention.
    """
    touched = (
        new_edges.select(F.col("src").alias("name"))
        .unionByName(new_edges.select(F.col("dst").alias("name")))
        .distinct()
    )
    anchors = existing.join(touched, "name").select("name", "canonical")

    # Delta graph: new evidence + one anchor edge per touched known name.
    # Two touched names of the same old entity connect through their
    # shared canonical node, so old entities act as single vertices.
    delta = new_edges.select("src", "dst").unionByName(
        anchors.select(
            F.col("name").alias("src"), F.col("canonical").alias("dst")
        )
    )
    delta, got = checkpoint(delta, n=F.count(F.lit(1)))
    comp = connected_components_str(
        delta,
        max_iter=max_iter,
        single_task=int(got["n"]) <= small_graph_rows,
    )  # (name, canonical)
    comp = comp.select("name", F.col("canonical").alias("_comp"))

    # Stable id per component: min OLD canonical if any member was
    # previously assigned, else the component min-name.
    old_ids = (
        comp.join(
            anchors.select(F.col("canonical").alias("name")).distinct(), "name"
        )
        .groupBy("_comp")
        .agg(F.min("name").alias("_old_min"))
    )
    stable = (
        comp.groupBy("_comp")
        .agg(F.min("name").alias("_new_min"))
        .join(old_ids, "_comp", "left")
        .select(
            "_comp", F.coalesce("_old_min", "_new_min").alias("_stable")
        )
    )
    assigned = comp.join(stable, "_comp").select("name", F.col("_stable"))

    # Remap table: old canonical -> stable id, for touched entities only
    # (small: one row per touched entity — broadcastable).
    remap = (
        assigned.join(
            anchors.select(F.col("canonical").alias("name")).distinct(), "name"
        )
        .select(F.col("name").alias("canonical"), F.col("_stable"))
        .distinct()
    )
    updated_existing = (
        existing.join(F.broadcast(remap), "canonical", "left")
        .select(
            "name",
            F.coalesce("_stable", F.col("canonical")).alias("canonical"),
        )
    )
    new_names = assigned.join(existing.select("name"), "name", "left_anti")
    return updated_existing.unionByName(
        new_names.select("name", F.col("_stable").alias("canonical"))
    )
