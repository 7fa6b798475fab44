"""The benchmark's workloads: inputs made from a seed, one batch job, and
the check of that job's output.

Each workload object is used in this order by run.py:
``generate`` (set-up, may be repeated) -> ``load`` -> ``warm_up`` (set-up)
-> ``prepare_check`` (outside every timed window) -> ``job`` (timed) ->
``check`` (untimed).  The warm-up runs the same job on a quarter of the
input: the same plans get compiled and the same workers started, at a
quarter of the data cost.

Layer functions are called through their modules (``pipeline.run_pipeline``,
``cc.connected_components`` ...) so the wrappers tracing.py installs see
the calls.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from graph_importer_spark import cc, pipeline, synth
from graph_importer_spark.importer import edge_list
from graph_importer_spark.materialize import GraphSpec
from graph_importer_spark.operators import analytics
from graph_importer_spark.tables import GraphCatalog
from perfbench.tracing import TABLES


def _table_rows(cat: GraphCatalog, table: str) -> int:
    return sum(n for _, n in cat.file_row_counts(table))


TRIPLE_KEYS = ["subj", "pred", "obj", "url"]


def _fingerprint(df) -> tuple[int, int]:
    """Order-insensitive (row count, bit_xor of row hashes) of a triples frame."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(subj, pred, obj, url))"), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


@dataclass
class JobResult:
    cat: GraphCatalog
    rows: int  # the job's output rows: triples (kg) or imported edges (graph)
    counts: dict[str, float] = field(default_factory=dict)


class KgWeb:
    """``synth.corpus`` pages through ``run_pipeline``; output = triples."""

    name = "kg_web"
    n_pages = 4000
    n_entities = 200
    weight = 4  # ~8 KB of html per page

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, spark, d: str) -> None:
        pages, gt, aliases = synth.corpus(
            spark,
            n_pages=self.n_pages,
            n_entities=self.n_entities,
            seed=self.seed,
            weight=self.weight,
        )
        # a crawl arrives as many files; 16 keeps the input split count
        # independent of the generator's shuffle layout
        pages.repartition(16, "url").write.parquet(os.path.join(d, "pages"))
        aliases.write.parquet(os.path.join(d, "aliases"))
        # one row per fact sentence: the pipeline emits exactly these rows,
        # duplicates included
        gt.select(*TRIPLE_KEYS).write.parquet(os.path.join(d, "gt"))

    def load(self, spark, d: str) -> None:
        pages = os.path.join(d, "pages")
        self.pages = spark.read.parquet(pages)
        self.aliases = spark.read.parquet(os.path.join(d, "aliases"))
        self.gt = spark.read.parquet(os.path.join(d, "gt"))
        files = sorted(f for f in os.listdir(pages) if f.endswith(".parquet"))
        quarter = [os.path.join(pages, f) for f in files[: max(1, len(files) // 4)]]
        self.warm_pages = spark.read.parquet(*quarter)

    def warm_up(self, spark, tracer, warehouse: str) -> None:
        pipeline.run_pipeline(spark, self.warm_pages, self.aliases, warehouse).triples().count()

    def prepare_check(self, spark) -> None:
        self.reference_fp = _fingerprint(self.gt)

    def job(self, spark, tracer, warehouse: str) -> JobResult:
        p = pipeline.run_pipeline(spark, self.pages, self.aliases, warehouse)
        with tracer.span(TABLES):
            n = p.triples().count()
        return JobResult(p.cat, n)

    def branch_problems(self, m: dict[tuple[str, str], float]) -> list[str]:
        """The size-gated paths this workload was chosen for."""
        out = []
        if m.get(("canonicalize", "cc_iterations")) != 0:
            out.append(f"cc left the single-task path: {m.get(('canonicalize', 'cc_iterations'))} iterations")
        if m.get(("triples", "canonical_map_broadcast")) != 1:
            out.append("canonical map was not broadcast")
        return out

    def check(self, spark, res: JobResult) -> list[str]:
        problems = []
        t = res.cat.read("triples")
        fp = _fingerprint(t)
        res.counts["fingerprint"] = fp
        if fp[0] != res.rows:
            problems.append(f"read-back count {res.rows} != triples rows {fp[0]}")
        if fp != self.reference_fp:
            problems.append(f"triples fingerprint {fp} != ground truth's {self.reference_fp}")
        got = t.select(*TRIPLE_KEYS).distinct().withColumn("g", F.lit(1))
        pr = (
            got.join(self.gt.distinct().withColumn("t", F.lit(1)), TRIPLE_KEYS, "full_outer")
            .agg(
                F.count("g").alias("got"),
                F.count("t").alias("gt"),
                F.count(F.when(F.col("g").isNotNull() & F.col("t").isNotNull(), 1)).alias("tp"),
            )
            .first()
        )
        p = pr["tp"] / pr["got"] if pr["got"] else 0.0
        r = pr["tp"] / pr["gt"] if pr["gt"] else 0.0
        res.counts.update(precision=p, recall=r)
        if p != 1.0 or r != 1.0:
            problems.append(f"P={p:.6f} R={r:.6f} against synth ground truth")
        m = {
            (x["stage"], x["metric"]): x["value"]
            for x in res.cat.read(pipeline.METRICS_TABLE).collect()
        }
        res.counts["cc.pairs"] = m.get(("canonicalize", "cc_pairs"), 0.0)
        res.counts["cc.iterations"] = m.get(("canonicalize", "cc_iterations"), 0.0)
        problems += self.branch_problems(m)
        return problems


def _union_find_labels(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Component = min member id, over non-self-loop edges (cc's contract)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(src.tolist(), dst.tolist()):
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _power_iteration(
    src: np.ndarray, dst: np.ndarray, damping: float, tol: float, max_iter: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """PageRank with ``analytics.pagerank``'s rules: ranks start at 1.0 and
    sum to n, dangling mass is spread uniformly, multi-edges weigh, stop
    when the max change falls below ``tol``.  -> (ids, ranks, supersteps)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, t = inv[: len(src)], inv[len(src):]
    n = len(ids)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.ones(n)
    mass = float(dangling.sum())
    steps = 0
    for _ in range(max_iter):
        contrib = np.bincount(t, weights=rank[s] / deg[s], minlength=n)
        new = (1.0 - damping) + damping * (contrib + mass / n)
        delta = float(np.abs(new - rank).max())
        mass = float(new[dangling].sum())
        rank = new
        steps += 1
        if delta < tol:
            break
    return ids, rank, steps


class GraphImport:
    """Edge-list file -> ``import_edge_list`` -> WCC + PageRank on the
    imported edges; output = imported edges."""

    name = "graph_import"
    n_edges = 40_000
    n_vertices = 4_000
    pagerank_iter = 10
    damping = 0.85
    tol = 1e-4  # analytics.pagerank's default

    def __init__(self, seed: int):
        self.seed = seed

    def _edges(self) -> tuple[np.ndarray, np.ndarray]:
        rng = np.random.default_rng(self.seed)
        u = rng.random(self.n_edges)
        src = np.floor(self.n_vertices * u * u).astype(np.int64)  # power-law sources
        dst = rng.integers(0, self.n_vertices, self.n_edges, dtype=np.int64)
        return src, dst

    def generate(self, spark, d: str) -> None:
        src, dst = self._edges()
        lines = [f"{a} {b}\n" for a, b in zip(src.tolist(), dst.tolist())]
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "edges.txt"), "w") as f:
            f.writelines(lines)
        with open(os.path.join(d, "warm_edges.txt"), "w") as f:
            f.writelines(lines[: len(lines) // 4])

    def load(self, spark, d: str) -> None:
        self.path = os.path.join(d, "edges.txt")
        self.warm_path = os.path.join(d, "warm_edges.txt")

    def warm_up(self, spark, tracer, warehouse: str) -> None:
        self.job(spark, tracer, warehouse, self.warm_path)

    def prepare_check(self, spark) -> None:
        src, dst = self._edges()
        self.n_endpoints = len(np.unique(np.concatenate([src, dst])))
        self.wcc = _union_find_labels(src, dst)
        self.pr_ids, self.pr_rank, self.pr_steps = _power_iteration(
            src, dst, self.damping, self.tol, self.pagerank_iter
        )

    def job(self, spark, tracer, warehouse: str, path: str | None = None) -> JobResult:
        cat = GraphCatalog(spark, warehouse)
        spec = GraphSpec(name="g", overwrite=True)
        edge_list.import_edge_list(spark, cat, path or self.path, spec)
        vid = lambda c: F.substring_index(c, "/", -1).cast("long")  # noqa: E731
        e = cat.read("g_edges").select(vid("_from").alias("src"), vid("_to").alias("dst"))
        counts: dict[str, float] = {}
        cc_iters: list[int] = []
        with tracer.span("cc"):
            labels = cc.connected_components(e, on_iteration=lambda i, n: cc_iters.append(n))
            cat.create_or_replace("g_wcc", labels)
        supersteps: list[float] = []
        with tracer.span("analytics"):
            ranks = analytics.pagerank(
                e,
                damping=self.damping,
                tol=self.tol,
                max_iter=self.pagerank_iter,
                on_iteration=lambda i, d: supersteps.append(d),
            )
            cat.create_or_replace("g_pagerank", ranks)
        with tracer.span(TABLES):
            n = _table_rows(cat, "g_edges")
        counts["cc.iterations"] = len(cc_iters)
        counts["analytics.supersteps"] = len(supersteps)
        return JobResult(cat, n, counts)

    def check(self, spark, res: JobResult) -> list[str]:
        problems = []
        cat = res.cat
        res.counts["cc.pairs"] = res.rows
        if res.rows != self.n_edges:
            problems.append(f"g_edges has {res.rows} rows, file has {self.n_edges} edges")
        n_v = _table_rows(cat, "g_vertices")
        if n_v != self.n_endpoints:
            problems.append(f"g_vertices has {n_v} rows, file has {self.n_endpoints} endpoints")
        got = {r["id"]: r["component"] for r in cat.read("g_wcc").collect()}
        if got != self.wcc:
            wrong = sum(1 for k, v in self.wcc.items() if got.get(k) != v)
            problems.append(
                f"WCC labels differ from union-find: {wrong} of {len(self.wcc)} wrong, "
                f"{len(got)} labelled"
            )
        if res.counts["analytics.supersteps"] != self.pr_steps:
            problems.append(
                f"pagerank ran {res.counts['analytics.supersteps']} supersteps, "
                f"power iteration {self.pr_steps}"
            )
        rows = cat.read("g_pagerank").collect()
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        rank = np.array([r["rank"] for r in rows])
        order = np.argsort(ids)
        if not np.array_equal(ids[order], self.pr_ids):
            problems.append(f"pagerank ranked {len(ids)} vertices, expected {len(self.pr_ids)}")
        else:
            err = float(np.abs(rank[order] - self.pr_rank).max())
            res.counts["pagerank_max_abs_err"] = err
            if err > 1e-9:
                problems.append(f"pagerank differs from power iteration by {err:.3g}")
        return problems


WORKLOADS = {w.name: w for w in (KgWeb, GraphImport)}
