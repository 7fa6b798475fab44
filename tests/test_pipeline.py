"""End-to-end pipeline: the P/R>=0.95 gate, the byte-identical text
invariant, lineage/metrics contract, and resume idempotency
(SURVEY §5.2/§5.6; north_rule correctness gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_importer_spark import synth
from graph_importer_spark.pipeline import Pipeline, PipelineConfig, run_pipeline
from graph_importer_spark.materialize import GraphSpec


def _pr(got, gt):
    got = got.select("url", "subj", "pred", "obj").distinct()
    gt = gt.distinct()
    tp = got.join(gt, ["url", "subj", "pred", "obj"]).count()
    return tp / max(got.count(), 1), tp / max(gt.count(), 1)


def test_end_to_end_pr_gate(spark, warehouse):
    pages, gt, aliases = synth.corpus(spark, n_pages=120, n_entities=40)
    p = run_pipeline(spark, pages, aliases, warehouse)
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_end_to_end_pr_gate_heavy_pages(spark, warehouse):
    """Same P/R gate on weight-4 pages (~8 KB html, boilerplate-laden —
    the bench corpus shape): extraction must strip the noise without
    disturbing recall."""
    pages, gt, aliases = synth.corpus(spark, n_pages=60, n_entities=30, weight=4)
    p = run_pipeline(spark, pages, aliases, warehouse)
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_end_to_end_dense_ids_path(spark, warehouse):
    """Force the collision-free dense-id canonicalization (the 10^12
    design point) through run_pipeline and hold the same P/R gate — the
    two node-id strategies must be observably equivalent."""
    pages, gt, aliases = synth.corpus(spark, n_pages=120, n_entities=40)
    p = run_pipeline(
        spark, pages, aliases, warehouse, dense_id_threshold=0, broadcast_map_rows=0
    )
    m = {
        (r["metric"]): r["value"]
        for r in p.cat.read("_metrics").filter(F.col("stage") == "canonicalize").collect()
    }
    assert m["cc_dense_ids"] == 1.0
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_iterative_cc_path_matches_single_task(spark, warehouse, tmp_path):
    """small_cc_rows=0 forces canonicalization off the single-task
    union-find onto the iterative xxhash-id star loop; the triples must
    not change."""

    def cc_iterations(p):
        return (
            p.cat.read("_metrics")
            .filter((F.col("stage") == "canonicalize") & (F.col("metric") == "cc_iterations"))
            .first()["value"]
        )

    def rows(p):
        return sorted(map(tuple, p.triples().collect()))

    pages, _, aliases = synth.corpus(spark, n_pages=60, n_entities=20)
    default = run_pipeline(spark, pages, aliases, warehouse)
    iterative = run_pipeline(spark, pages, aliases, str(tmp_path / "wh_iter"), small_cc_rows=0)
    assert cc_iterations(default) == 0
    assert cc_iterations(iterative) >= 1
    assert rows(iterative) == rows(default)


def test_byte_identical_text_stage(spark, warehouse):
    pages, _, aliases = synth.corpus(spark, n_pages=50, n_entities=20)
    p = run_pipeline(spark, pages, aliases, warehouse)
    got = p.cat.read("pages_text").select("url", "text")
    want = synth.expected_text(spark, n_pages=50, n_entities=20)
    bad = (
        got.join(want, "url")
        .filter(F.col("text") != F.col("expected_text"))
        .count()
    )
    assert bad == 0


def test_lineage_metrics_and_graph_output(spark, warehouse):
    pages, _, aliases = synth.corpus(spark, n_pages=40, n_entities=15)
    p = run_pipeline(spark, pages, aliases, warehouse)
    stages = {r["stage"] for r in p.cat.read("_lineage").select("stage").distinct().collect()}
    assert {"extract", "mentions", "link", "triples_raw", "canonicalize", "triples", "materialize"} <= stages
    metrics = {r["metric"] for r in p.cat.read("_metrics").select("metric").distinct().collect()}
    assert "wall_sec" in metrics and "cc_iterations" in metrics
    # materialized graph mirrors the vertex/edge contract
    verts = p.cat.read("kg_vertices")
    edges = p.cat.read("kg_edges")
    assert "_key" in verts.columns
    assert {"_from", "_to", "pred"} <= set(edges.columns)
    assert edges.filter(~F.col("_from").startswith("vertices/")).count() == 0


def test_resume_skips_and_is_idempotent(spark, warehouse):
    pages, _, aliases = synth.corpus(spark, n_pages=40, n_entities=15)
    cfg = PipelineConfig(warehouse=warehouse, graph=GraphSpec(name="kg", overwrite=True))
    p = Pipeline(spark, cfg)
    p.run(pages, aliases)
    first = sorted(map(tuple, p.triples().select("subj", "pred", "obj", "url").collect()))
    snaps_before = len(p.cat.snapshots("pages_text"))

    # resume over a complete run: every stage skipped (no new snapshots)
    p2 = Pipeline(spark, cfg)
    p2.run(pages, aliases, resume=True)
    assert len(p2.cat.snapshots("pages_text")) == snaps_before
    second = sorted(map(tuple, p2.triples().select("subj", "pred", "obj", "url").collect()))
    assert first == second

    # simulate a mid-run kill: drop a late stage, resume rebuilds ONLY it
    p2.cat.drop("triples")
    p3 = Pipeline(spark, cfg)
    p3.run(pages, aliases, resume=True)
    assert len(p3.cat.snapshots("pages_text")) == snaps_before  # untouched
    third = sorted(map(tuple, p3.triples().select("subj", "pred", "obj", "url").collect()))
    assert first == third


def test_mined_anchor_aliases_drive_the_pipeline(spark, warehouse):
    """Close the gazetteer loop: mine the alias dictionary from anchor
    text (urls.extract_anchors -> anchor_alias_candidates ->
    alias_table) instead of taking synth's table as given, feed it to
    run_pipeline, and hold the same P/R gate.  Anchors point at
    canonical entity pages (https://<entity>.kb/p) with the exact
    alias surface as anchor text, occurrences proportional to the
    synth prior."""
    from graph_importer_spark.operators import urls as _urls

    pages, gt, aliases = synth.corpus(spark, n_pages=120, n_entities=40)
    # a small "link corpus": each alias row appears round(prior*10)
    # times as <a href="https://<entity>.kb/p"><alias></a>
    reps = F.round(F.col("prior") * 10).cast("int")
    link_pages = aliases.select(
        F.concat(F.lit("https://hub.example/"), F.col("entity")).alias("url"),
        F.concat(
            F.lit("<html><body>"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), reps),
                    lambda _: F.concat(
                        F.lit('<a href="https://'),
                        F.col("entity"),
                        F.lit('.kb/p">'),
                        F.col("alias"),
                        F.lit("</a>"),
                    ),
                ),
                "",
            ),
            F.lit("</body></html>"),
        ).cast("binary").alias("html"),
    )
    anchors = _urls.extract_anchors(link_pages)
    cands = _urls.anchor_alias_candidates(
        anchors, min_count=1, normalize=False
    )
    mined = _urls.alias_table(
        cands, entity=F.regexp_extract(F.col("dst"), r"^(ent_[0-9]+)\.kb$", 1)
    )
    # the mined dictionary covers the synth gazetteer exactly
    syn = {(r["alias"], r["entity"]) for r in aliases.collect()}
    got = {(r["alias"], r["entity"]) for r in mined.collect()}
    assert got == syn
    p = run_pipeline(spark, pages, mined, warehouse)
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall
