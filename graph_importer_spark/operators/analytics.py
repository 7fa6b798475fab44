"""Graph analytics, natively on DataFrames.

The reference only launches/monitors these server-side
(start_Pregel.py:28-57 POST _api/control_pregel, catalog
arguments.py:176-188: pagerank, sssp, connectedcomponents, wcc, ...).
Here the ones the north star needs run as driver-orchestrated iterative
DataFrame jobs — each superstep is a join + aggregate run under the
superstep rule of supersteps.py (one job, lineage truncated by an eager
checkpoint, fingerprint convergence).

Parameter mapping (reference G3/G4/G5, SURVEY.md §2.9):
  maxGSS -> max_iter; 'threshold' -> tol (PageRank convergence on the
  L-inf delta); 'source'/'resultField' -> source / the returned column;
  parallelism -> spark.sql.shuffle.partitions (session-level).

Scale notes: ranks/dists are keyed by vertex id — power-law in-degree
makes the contribution aggregation skewed; it is a groupBy().sum(),
i.e. map-side partial aggregation absorbs hot keys before the shuffle.
The join of contribs back to the vertex frame is equi-join under AQE
(skew-join splitting on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_importer_spark.cc import connected_components, connected_components_str  # noqa: F401  (wcc surface)
from graph_importer_spark.supersteps import bfs, checkpoint, fixpoint


def _vertices_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-4,
    max_iter: int = 20,
    on_iteration=None,
) -> DataFrame:
    """edges(src, dst) -> (id, rank); sum(rank) == n (Pregel convention).

    Dangling mass is redistributed uniformly each superstep, so ranks
    match the reference's Pregel PageRank semantics
    (start_Pregel.py:195-199 threshold convergence).
    """
    spark = edges.sparkSession
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # static vertex frame with the dangling flag baked in: membership in
    # the no-out-edges set never changes, so the per-superstep dangling
    # mass is just a conditional sum over the rank frame — no anti-join
    # in the loop.
    verts = (
        _vertices_of(edges)
        .join(deg.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.col("out_deg").isNull().alias("is_dangling"))
        .localCheckpoint(eager=True)
    )
    head = verts.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("is_dangling"), 1).otherwise(0)).alias("nd"),
    ).collect()[0]
    n = int(head["n"])
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")
    # static frame reused every superstep: (src, dst, out_deg)
    links = (
        edges.join(deg, "src")
        .select("src", "dst", "out_deg")
        .localCheckpoint(eager=True)
    )
    ranks = verts.select("id", "is_dangling", F.lit(1.0).alias("rank"))
    dangling = float(head["nd"])  # every dangling vertex starts at rank 1.0
    return _power_supersteps(
        verts,
        links,
        ranks,
        dangling,
        lambda contrib, dangling: F.lit(1.0 - damping)
        + F.lit(damping) * (contrib + F.lit(dangling / n)),
        tol,
        max_iter,
        on_iteration,
    )


def _power_supersteps(verts, links, ranks, dangling, rank_of, tol, max_iter, on_iteration=None):
    """The pagerank / personalized_pagerank superstep loop: ``links``
    (src, dst, out_deg) spread each rank over its out-edges,
    ``rank_of(contrib, dangling)`` is the new rank of a vertex given its
    summed in-contribution and the previous superstep's dangling mass.
    The convergence delta and the NEXT superstep's dangling mass ride the
    checkpoint job, so each superstep is one action.  Stops when the
    L-inf delta falls below ``tol``.  -> (id, rank)."""
    cols = [*verts.columns, "rank"]
    for i in range(max_iter):
        contribs = (
            links.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks = verts.join(contribs.withColumnRenamed("dst", "id"), "id", "left").select(
            *verts.columns,
            rank_of(F.coalesce(F.col("contrib"), F.lit(0.0)), dangling).alias("rank"),
        )
        joined, got = checkpoint(
            new_ranks.join(ranks.select("id", F.col("rank").alias("old")), "id"),
            delta=F.max(F.abs(F.col("rank") - F.col("old"))),
            dangling=F.coalesce(F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0.0)),
        )
        delta, dangling = float(got["delta"]), float(got["dangling"])
        ranks = joined.select(*cols)
        if on_iteration is not None:
            on_iteration(i, delta)
        if delta < tol:
            break
    return ranks.select("id", "rank")


def sssp(
    edges: DataFrame,
    source,
    weight_col: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Single-source shortest paths (reference G5 surface,
    start_Pregel.py:202-206): edges(src, dst[, weight]) -> (id, dist).

    Bellman-Ford supersteps: relax all edges, keep the min per vertex.
    Unreachable vertices are absent from the result (the reference's
    Pregel stores +inf; filter semantics are cleaner relationally).
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w")).localCheckpoint(eager=True)
    spark = edges.sparkSession

    def relax(dists):
        relaxed = (
            e.join(dists.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        return dists.unionByName(relaxed).groupBy("id").agg(F.min("dist").alias("dist"))

    dists = spark.createDataFrame([(source, 0.0)], "id long, dist double")
    return fixpoint(dists, relax, ["id", "dist"], max_iter)[0]


def strongly_connected_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """SCC on a directed edges(src, dst) frame -> (id, scc); scc = min
    member id (the same canonical-id convention as connected_components).

    Completes the reference's Pregel algorithm catalog
    (arguments.py:176-188 lists 'scc'; the reference only launches it
    server-side — here it runs natively as the coloring algorithm of
    Orzan / FW-BW-style partitioning on DataFrames):

    per outer round over the not-yet-assigned subgraph:
      0. TRIM to a fixpoint: a vertex with in-degree 0 or out-degree 0
         in the remaining subgraph cannot sit on a cycle — assign it as
         a singleton SCC and peel it (the FW-BW 'trim' step).  This is
         what makes chain/tendril shapes cheap: a directed path of n
         vertices settles entirely in ~n/2 trim supersteps (both ends
         peel each round) instead of n coloring ROUNDS of O(n)
         supersteps each;
      1. min-label FORWARD propagation to a fixpoint: color(v) = min id
         that reaches v (CC-shaped join+groupBy-min supersteps, map-side
         partial agg absorbs hot heads);
      2. roots = {v : color(v) = v}; SCC(root) = BACKWARD closure of the
         root along edges whose tail has the same color (a vertex both
         reached-by and reaching the root within its color class);
      3. assign, remove those vertices, repeat — each round settles at
         least every root's SCC, so rounds <= the longest chain OF SCCs
         that trimming cannot peel.

    Pathological-shape caveat: the worst case is a long chain of
    NON-TRIVIAL SCCs (e.g. n/3 directed triangles chained head-to-tail)
    — trimming cannot peel any of it, and the outer loop settles one
    root-SCC chain level per round, so it needs O(chain length) outer
    rounds x O(diameter) inner supersteps.  Web-shaped graphs (low
    diameter, bow-tie structure, SCC chain depth ~ tens — see SCALE.md)
    are fine; for an adversarial chain raise ``max_iter`` (the loop
    raises rather than hangs when the budget is exhausted).

    Every superstep follows the superstep rule of supersteps.py; an
    exhausted budget in any of the loops raises.
    """
    e, _ = checkpoint(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    remaining, got = checkpoint(_vertices_of(edges), n=F.count(F.lit(1)))
    n_remaining = got["n"]
    spark = edges.sparkSession
    assigned = spark.createDataFrame([], "id long, scc long")

    def settled(loop: str, converged: bool) -> None:
        if not converged:
            raise RuntimeError(f"scc {loop} did not settle within {max_iter} supersteps")

    for _outer in range(max_iter):
        if n_remaining == 0:
            break
        # 0) trim fixpoint: peel in-deg-0 / out-deg-0 vertices (each is
        # a singleton SCC) before paying for coloring supersteps; the
        # core's size rides its checkpoint, so an unchanged size ends it
        for _trim in range(max_iter):
            has_out = e.select(F.col("src").alias("id")).distinct()
            has_in = e.select(F.col("dst").alias("id")).distinct()
            core, got = checkpoint(
                remaining.join(has_out, "id", "left_semi").join(has_in, "id", "left_semi"),
                n=F.count(F.lit(1)),
            )
            if got["n"] == n_remaining:
                break
            assigned, _ = checkpoint(
                assigned.unionByName(
                    remaining.join(core, "id", "left_anti").select("id", F.col("id").alias("scc"))
                )
            )
            remaining, n_remaining = core, got["n"]
            e, _ = checkpoint(
                e.join(core.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(core.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst")
            )
        if n_remaining == 0:
            break

        # 1) forward min-color propagation on the remaining subgraph
        def forward(colors):
            contribs = (
                e.join(colors.select(F.col("id").alias("src"), "color"), "src")
                .groupBy("dst")
                .agg(F.min("color").alias("in_color"))
                .withColumnRenamed("dst", "id")
            )
            return colors.join(contribs, "id", "left").select(
                "id", F.least("color", F.coalesce("in_color", "color")).alias("color")
            )

        colors, converged = fixpoint(
            remaining.select("id", F.col("id").alias("color")), forward, ["id", "color"], max_iter
        )
        settled("coloring", converged)
        # 2) backward closure of each root within its color class
        tails = e.join(
            colors.select(F.col("id").alias("src"), F.col("color").alias("src_color")), "src"
        )

        def backward(closure):
            preds = (
                tails.join(closure.select(F.col("id").alias("dst"), "root"), "dst")
                .filter(F.col("src_color") == F.col("root"))
                .select(F.col("src").alias("id"), "root")
            )
            return closure.unionByName(preds).distinct()

        closure, converged = fixpoint(
            colors.filter(F.col("color") == F.col("id")).select("id", F.col("id").alias("root")),
            backward,
            ["id", "root"],
            max_iter,
        )
        settled("closure", converged)
        assigned, _ = checkpoint(
            assigned.unionByName(closure.select("id", F.col("root").alias("scc")))
        )
        remaining, got = checkpoint(
            remaining.join(closure, "id", "left_anti"), n=F.count(F.lit(1))
        )
        n_remaining = got["n"]
        done = closure.select(F.col("id").alias("gone"))
        e, _ = checkpoint(
            e.join(done.withColumnRenamed("gone", "src"), "src", "left_anti")
            .join(done.withColumnRenamed("gone", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
    else:
        if n_remaining:
            raise RuntimeError(f"scc did not settle within {max_iter} rounds")
    return assigned


def hits(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """HITS hubs/authorities (reference catalog 'hits',
    arguments.py:176-188) -> (id, hub, authority), L1-normalized
    (sum(hub) == sum(authority) == 1 each superstep).

    Power iteration: authority(v) = sum of hub over in-neighbors,
    hub(v) = sum of authority over out-neighbors, then L1 normalize —
    chosen over the usual L2 because plain sums replay exactly in the
    SQL oracle (no sqrt of a sum under reordered float addition).
    Fixed ``max_iter`` supersteps (no early exit) so the chained-CTE
    oracle replays the identical computation.  Each superstep is two
    join+groupBy-sum pairs (map-side partials absorb hub pages) and one
    Observation-fused checkpoint.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    verts = _vertices_of(e).localCheckpoint(eager=True)
    n = verts.count()
    spark = edges.sparkSession
    if n == 0:
        return spark.createDataFrame([], "id long, hub double, authority double")
    scores = verts.select(
        "id", (F.lit(1.0) / n).alias("hub"), (F.lit(1.0) / n).alias("authority")
    )
    for _ in range(max_iter):
        auth = (
            e.join(scores.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("a_raw"))
            .withColumnRenamed("dst", "id")
        )
        hub = (
            e.join(auth.select(F.col("id").alias("dst"), "a_raw"), "dst")
            .groupBy("src")
            .agg(F.sum("a_raw").alias("h_raw"))
            .withColumnRenamed("src", "id")
        )
        raw = (
            verts.join(auth, "id", "left")
            .join(hub, "id", "left")
            .select(
                "id",
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
                F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"),
            )
        )
        raw, got = checkpoint(raw, hs=F.sum("h_raw"), as_=F.sum("a_raw"))
        hs, as_ = float(got["hs"]), float(got["as_"])
        if hs == 0.0 or as_ == 0.0:
            break  # no edges touched: scores are already the fixpoint
        scores = raw.select(
            "id",
            (F.col("h_raw") / F.lit(hs)).alias("hub"),
            (F.col("a_raw") / F.lit(as_)).alias("authority"),
        )
    return scores.select("id", "hub", "authority")


def linerank(edges: DataFrame, damping: float = 0.85, max_iter: int = 10) -> DataFrame:
    """LineRank (reference catalog 'linerank', arguments.py:176-188):
    PageRank on the LINE graph — edge (u,v) links to every out-edge
    (v,w) of its head — computed WITHOUT materializing the line graph
    (Kang et al., "Centralities in Large Networks": incidence
    decomposition).  The line graph has sum(deg^2) edges — quadratic in
    hub degree, fatal at web scale — but each superstep only needs the
    per-vertex sum of incoming-edge ranks, so it runs as one
    groupBy(head) aggregate + one equi-join back to the edge frame:
    O(|E|) per superstep.  Vertex score = sum of incident edge ranks
    (both endpoints).  Fixed ``max_iter`` supersteps, dangling-edge mass
    redistributed uniformly — the chained-CTE oracle replays the exact
    computation.  Returns (id, linerank); sum(rank over edges) == 1 per
    superstep up to float association.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct()
    # out_deg at the HEAD vertex: how many line-graph successors (v,w)
    # the edge (u,v) fans out to; null -> dangling edge.
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = (
        e.join(deg.withColumnRenamed("src", "dst"), "dst", "left")
        .select("src", "dst", "out_deg")
        .localCheckpoint(eager=True)
    )
    # one setup job for both scalars (edge count + dangling-edge count)
    head = ed.agg(
        F.count("*").alias("m"),
        F.sum(F.when(F.col("out_deg").isNull(), 1).otherwise(0)).alias("nd"),
    ).collect()[0]
    m = int(head["m"])
    if m == 0:
        return spark.createDataFrame([], "id long, linerank double")
    ranks = ed.select("src", "dst", "out_deg", (F.lit(1.0) / m).alias("rank"))
    dangling = int(head["nd"] or 0) * (1.0 / m)
    for _ in range(max_iter):
        # S(v) = sum over incoming edges (u,v) of rank/out_deg(v): feeds
        # every edge with src = v.  Map-side partials absorb hub heads.
        contrib = (
            ranks.filter(F.col("out_deg").isNotNull())
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("s"))
            .withColumnRenamed("dst", "src")
        )
        new_ranks = ed.join(contrib, "src", "left").select(
            "src",
            "dst",
            "out_deg",
            (
                F.lit((1.0 - damping) / m)
                + F.lit(damping)
                * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling / m))
            ).alias("rank"),
        )
        ranks, got = checkpoint(
            new_ranks,
            dang=F.coalesce(F.sum(F.when(F.col("out_deg").isNull(), F.col("rank"))), F.lit(0.0)),
        )
        dangling = float(got["dang"])
    return (
        ranks.select(F.col("src").alias("id"), "rank")
        .unionByName(ranks.select(F.col("dst").alias("id"), "rank"))
        .groupBy("id")
        .agg(F.sum("rank").alias("linerank"))
    )


def effective_closeness(
    edges: DataFrame, registers: int = 8, max_iter: int = 10, seed: int = 17
) -> DataFrame:
    """Effective closeness (reference catalog 'effectivecloseness';
    Kang et al. HADI): per-vertex Flajolet-Martin neighborhood sketches
    instead of all-pairs BFS — the ONLY way closeness survives web
    scale (exact closeness is O(n*m)).

    State is (id, register, int64 bitmask): bit index of vertex u in
    register r is the number of trailing zeros of the congruential hash
    h(u, r) (geometric distribution — standard FM).  One superstep per
    hop merges neighbor sketches with a ``bit_or`` aggregate (map-side
    partials; the merge is idempotent and commutative).  After hop k,
    est_k(v) = FM estimate 2^mean_r(z_r) / 0.77351 (z_r = lowest unset
    bit) ~= |{u : dist(u,v) <= k}|; sum_dist accrues k*(est_k -
    est_{k-1}); closeness(v) = (est_K - 1)/sum_dist (0 if isolated).
    Early exit at the global sketch fixpoint is parity-safe: once
    sketches stop changing every later increment is 0, so the result
    equals the fixed-``max_iter`` chained-CTE oracle replay.  Every
    operation is int64 bit math + the congruential hash — replayable in
    SQL bit-for-bit."""
    from graph_importer_spark.operators.generators import _A, _A2, _M, _M2

    sym, _ = checkpoint(_adjacency(edges))
    verts = _vertices_of(sym)
    regs = verts.sparkSession.range(registers).select(F.col("id").alias("reg"))
    # init: self-only sketch, one geometric bit per register.  Two
    # congruential rounds over two coprime primes chained to ~2^40
    # (h1*M2 + h2) — a single mod-M round both spans only ~2^20
    # (trailing-zero index <= ~19) and collapses the id space to M
    # residues, saturating reachable-set estimates around ~10^6
    # vertices; the CRT pair keeps ids injective to ~10^12 (the
    # web-scale design point needs the full 40-bit cap).
    h1 = F.pmod(
        F.pmod("id", F.lit(_M)) * F.lit(_A) + F.col("reg") * 131 + F.lit(seed), F.lit(_M)
    )
    h2 = F.pmod(
        F.pmod("id", F.lit(_M2)) * F.lit(_A2) + F.col("reg") * 131 + F.lit(seed + 71),
        F.lit(_M2),
    )
    # xor-shift finalizer kills the arithmetic-progression low-bit bias
    # of the affine rounds for consecutive ids (integer-exact in SQL)
    hraw = h1 * F.lit(_M2) + h2
    h = hraw.bitwiseXOR(F.shiftright(hraw, 13)).bitwiseXOR(F.shiftright(hraw, 27))
    # bit index = trailing zeros of the hash (geometric); tz(0) is
    # undefined so hash 0 is nudged to 1 (bit 0) — same guard in the SQL.
    sk = (
        verts.crossJoin(regs)
        .withColumn("hp", F.greatest(h, F.lit(1)).cast("long"))
        .withColumn(
            "mask",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), least(bit_count((hp & -hp) - 1), 40))"
            ),
        )
        .select("id", "reg", "mask")
    )
    z = F.expr("CAST(bit_count(((~mask) & (mask + 1)) - 1) AS DOUBLE)")
    est = lambda s: s.groupBy("id").agg(  # noqa: E731
        (F.pow(F.lit(2.0), F.avg(z)) / F.lit(0.77351)).alias("est")
    )
    acc, hops = None, 0

    def accrue(sk):  # fold hop ``hops``'s estimates into sum_dist
        nonlocal acc
        if acc is None:
            acc = est(sk).select(
                "id", F.col("est").alias("prev_est"), F.lit(0.0).alias("sum_dist")
            )
        else:
            acc = acc.join(est(sk), "id").select(
                "id",
                F.col("est").alias("prev_est"),
                (
                    F.col("sum_dist") + F.lit(float(hops)) * (F.col("est") - F.col("prev_est"))
                ).alias("sum_dist"),
            )
        acc, _ = checkpoint(acc)

    def merge(sk):
        nonlocal hops
        accrue(sk)
        hops += 1
        merged = sym.join(sk.withColumnRenamed("id", "dst"), "dst").select(
            F.col("src").alias("id"), "reg", "mask"
        )
        return sk.unionByName(merged).groupBy("id", "reg").agg(F.expr("bit_or(mask)").alias("mask"))

    sk, _ = fixpoint(sk, merge, ["id", "reg", "mask"], max_iter)
    accrue(sk)
    return acc.select(
        "id",
        F.when(
            F.col("sum_dist") > 0.0, (F.col("prev_est") - 1.0) / F.col("sum_dist")
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def slpa(
    edges: DataFrame,
    max_iter: int = 5,
    thr_num: int = 1,
    thr_den: int = 3,
    seed: int = 5,
) -> DataFrame:
    """Speaker-Listener Label Propagation (reference catalog 'slpa',
    arguments.py:176-188; Xie et al.): OVERLAPPING communities — each
    vertex keeps a label MEMORY (multiset) instead of one label.

    Per round t: every neighbor v of listener u SPEAKS one label drawn
    from v's memory with probability proportional to its count; u
    LISTENS by adopting the most frequent spoken label (min tie-break)
    into its memory.  The draw is derandomized as the congruential hash
    of (u, v, t) mapped through the memory's cumulative counts (integer
    division — exact in any engine), so the whole run is deterministic
    and SQL-replayable.  Memory totals are invariant (1 + rounds heard),
    so the post-filter ``cnt/total >= thr_num/thr_den`` is evaluated as
    exact integer arithmetic.  Returns overlapping (id, label, cnt)
    memberships.

    Scale shape per round: one window cumsum over memory (partitioned
    by speaker), one equi-join memory->edges, two aggregates — no
    all-pairs, no per-row Python."""
    from graph_importer_spark.operators.generators import _A, _A2, _M

    sym, _ = checkpoint(_adjacency(edges))
    mem = _vertices_of(sym).select(
        "id", F.col("id").alias("label"), F.lit(1).cast("long").alias("cnt")
    )
    for t in range(1, max_iter + 1):
        # cumulative counts over each speaker's memory (label-ordered):
        # the draw lands in exactly one [cum - cnt, cum) slot.
        cum = (
            mem.withColumn(
                "cum", F.sum("cnt").over(Window.partitionBy("id").orderBy("label"))
            )
            .withColumn(
                "total",
                F.sum("cnt").over(
                    Window.partitionBy("id").rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
            )
            .withColumnRenamed("id", "dst")
        )
        # congruential draw keyed by (listener, speaker, round) — the
        # same bounded-intermediate int64 hash family as the generators.
        h = F.pmod(
            F.pmod(
                F.pmod(F.col("src"), F.lit(_M)) * F.lit(_A2)
                + F.pmod(F.col("dst"), F.lit(_M)),
                F.lit(_M),
            )
            * F.lit(_A)
            + F.lit(seed + t),
            F.lit(_M),
        )
        # pick = floor(h * total / M) in [0, total): h*total < 2^25 is
        # exact in double, so FLOOR of the correctly-rounded quotient is
        # the exact integer quotient in any engine.
        pick = F.floor(h.cast("double") * F.col("total") / F.lit(float(_M)))
        heard = (
            sym.join(cum, "dst")
            .filter((F.col("cum") - F.col("cnt") <= pick) & (pick < F.col("cum")))
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count("*").alias("n"))
            .groupBy("id")
            .agg(F.expr("min_by(label, struct(-n, label))").alias("label"))
        )
        mem = (
            mem.unionByName(heard.select("id", "label", F.lit(1).cast("long").alias("cnt")))
            .groupBy("id", "label")
            .agg(F.sum("cnt").alias("cnt"))
            .localCheckpoint(eager=True)
        )
    totals = mem.groupBy("id").agg(F.sum("cnt").alias("total"))
    return (
        mem.join(totals, "id")
        .filter(F.col("cnt") * thr_den >= F.lit(thr_num) * F.col("total"))
        .select("id", "label", "cnt")
    )


def label_propagation(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """Synchronous LPA (reference catalog 'labelpropagation',
    arguments.py:176-188): each vertex adopts the min most-frequent
    neighbor label. Deterministic tie-break -> reproducible. Returns
    (id, label)."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    def adopt(labels):
        freq = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src", "label")
            .agg(F.count("*").alias("cnt"))
        )
        return (
            freq.groupBy("src")
            .agg(F.expr("min_by(label, struct(-cnt, label))").alias("label"))
            .withColumnRenamed("src", "id")
        )

    labels = _vertices_of(edges).select("id", F.col("id").alias("label"))
    return fixpoint(labels, adopt, ["id", "label"], max_iter)[0]


def _undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, distinct, no
    self-loops — the shared preamble of the undirected algorithms."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """Both directions of the undirected simple graph: (src, dst) and
    (dst, src) for every canonical edge — distinct, no self-loops."""
    und = _undirected(edges)
    return und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts on the undirected simple graph of
    edges(src, dst) -> (id, triangles); vertices in no triangle report 0.

    Compact-forward / degree-ordered node-iterator (the standard
    distributed triangle-count shape): orient every undirected edge from
    its (degree, id)-smaller endpoint to the larger one.  The oriented
    graph is a DAG under that total order, and each triangle {x,y,z}
    with x < y < z appears exactly once as the path x->y->z plus the
    closing edge x->z — so one self-equi-join builds the wedges and one
    more equi-join closes them.  No cross joins, no windows.

    Scale: orientation caps every out-degree at O(sqrt(m)), so the wedge
    join shuffles O(m^1.5) rows worst case — hub vertices (power-law
    webgraphs) land on the *incoming* side where map-side partial
    aggregation absorbs them; AQE skew-split handles residual hot keys.
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    withdeg = und.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
    )
    per_vertex = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select("id")
        .join(per_vertex, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def kcore(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """k-core of the undirected simple graph of edges(src, dst):
    iteratively peel vertices of degree < k until none remain.  Returns
    (id, deg) — surviving vertices with their degree *inside* the core.

    Each peel round is one degree aggregation (map-side partials) plus
    two left-semi joins restricting the symmetric adjacency to
    survivors, run as one ``supersteps.fixpoint`` superstep.  Rounds
    are bounded by the peel depth (the graph's degeneracy ordering
    height), tiny for web-like graphs; the
    synchronous peel is idempotent at its fixpoint, so a fixed-iteration
    SQL replay at any round >= convergence matches exactly.
    """

    def peel(cur):
        keep = (
            cur.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        return cur.join(keep, "u", "left_semi").join(
            keep.withColumnRenamed("u", "v"), "v", "left_semi"
        )

    cur, converged = fixpoint(_adjacency(edges).toDF("u", "v"), peel, ["u", "v"], max_iter)
    if not converged:
        raise RuntimeError(f"kcore did not settle within {max_iter} rounds")
    return cur.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))


def k_hop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """K-hop neighborhood expansion with frontier dedup: (id, hops)
    where ``hops`` is the MINIMUM hop count from any source (<= k).

    The user-facing BFS primitive under SSSP (reference scope:
    start_Pregel.py's sssp with unit weights answers the same question
    via a full fixpoint; k_hop stops at radius k — the entity-context
    / subgraph-extraction query a KG serves constantly).

    Scale shape: k rounds of (frontier JOIN edges) -> anti-join against
    the visited set -> distinct.  The frontier is keyed on ``src``
    (hub-skewed at web scale — AQE's skew split covers the join, and a
    hub expands once because the visited anti-join removes it from
    every later frontier).  ``supersteps.bfs``: one job per hop, and
    the loop ends early once the frontier is empty.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    start = sources.select(F.col(sources.columns[0]).alias("id")).distinct()
    adj = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return bfs(adj, start, k).withColumnRenamed("d", "hops")


def random_walks(
    edges: DataFrame,
    length: int,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    n_walks: int = 1,
) -> DataFrame:
    """Deterministic random walks (DeepWalk corpus generation,
    Perozzi et al. 2014): one walk per distinct source node, ``length``
    steps, next hop chosen uniformly-ish among out-neighbors by
    min-hash — ``argmin over neighbors of md5(walk_id|step|neighbor|
    seed)`` — so the walk is a pure function of (graph, seed):
    partition-invariant, replayable in SQL (min_by), and different per
    step and per walk.

    Scale shape: each step is ONE hash aggregate —
    ``groupBy(walk) . min_by(neighbor, md5(...))`` after a frontier
    equi-join — with map-side partials, so a hub node's millions of
    out-edges are reduced inside each partition before the exchange
    (the per-key window/sort trap never appears).  ``length`` stages,
    lineage cut per step (supersteps.py rule).  Dead ends stop early
    (walks shorter than ``length`` are the documented DeepWalk
    behavior on directed graphs).

    ``n_walks`` starts that many walks per source node (DeepWalk runs
    10-80); the per-walk ``walk_no`` feeds the coin, so sibling walks
    from one node diverge at the first branching.

    Returns (walk_id, walk_no, step, node) with step 0 at the source.
    """
    if length < 0:
        raise ValueError("length must be >= 0")
    if n_walks < 1:
        raise ValueError("n_walks must be >= 1")
    start = (
        edges.select(F.col(src).alias("node"))
        .distinct()
        .select(
            F.col("node").alias("walk_id"),
            F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias(
                "walk_no"
            ),
            F.col("node"),
        )
        .localCheckpoint(eager=True)
    )
    out = start.withColumn("step", F.lit(0))
    cur = start
    for step in range(1, length + 1):
        coin = F.md5(
            F.encode(
                F.concat_ws(
                    "|",
                    F.col("walk_id"),
                    F.col("walk_no").cast("string"),
                    F.lit(str(step)),
                    F.col(dst),
                    F.lit(str(seed)),
                ),
                "UTF-8",
            )
        )
        # min_by needs the coin as a real column (expr-local)
        nxt = (
            cur.join(edges, cur.node == edges[src])
            .withColumn("md5_coin", coin)
            .groupBy("walk_id", "walk_no")
            .agg(F.expr(f"min_by({dst}, md5_coin)").alias("node"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(nxt.withColumn("step", F.lit(step)))
        cur = nxt
    return out.select("walk_id", "walk_no", "step", "node")


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(walk_id, walk_no, step, node) random-walk corpus ->
    (center, context, n): skip-gram co-occurrence counts with the given
    window — the training-pair stage of the DeepWalk/node2vec recipe
    (walks come from ``random_walks``; these counts feed any SGNS
    trainer or, aggregated, a PPMI matrix).

    Scale shape: ONE shuffle keyed on (walk_id, walk_no) collects each
    walk into a length-``length`` array (bounded, tiny), then pair
    generation is a pure codegen array expression — per position only
    the ±window slice is touched (O(len·window), not O(len²)) — and
    the final (center, context) count aggregate is partial-agg-safe
    under hub skew (a hub node appearing in millions of walks is
    pre-summed map-side).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    seq = (
        walks.groupBy("walk_id", "walk_no")
        .agg(F.array_sort(F.collect_list(F.struct("step", "node"))).alias("s"))
        .select(F.transform("s", lambda x: x["node"]).alias("nodes"))
    )
    n = F.size("nodes")
    idx = F.sequence(F.lit(1), n)
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.filter(
                F.transform(
                    F.sequence(
                        F.greatest(F.lit(1), i - window),
                        F.least(n, i + window),
                    ),
                    lambda j: F.struct(
                        F.element_at(F.col("nodes"), i).alias("center"),
                        F.element_at(F.col("nodes"), j).alias("context"),
                        (j - i).alias("d"),
                    ),
                ),
                lambda p: p["d"] != 0,
            ),
        )
    )
    return (
        seq.select(F.explode(pairs).alias("p"))
        .select(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .groupBy("center", "context")
        .agg(F.count("*").alias("n"))
    )


def ppmi_matrix(pairs: DataFrame, shift_k: int = 1) -> DataFrame:
    """Skip-gram co-occurrence counts (center, context, n) ->
    (center, context, n, ppmi): the positive pointwise-mutual-
    information matrix whose factorization is the published closed
    form of DeepWalk/SGNS embeddings (Levy & Goldberg, NeurIPS'14 —
    SGNS with k negatives implicitly factorizes PMI - ln k, hence the
    ``shift_k`` knob; k=1 is plain PPMI).

    ppmi = max(0, ln(n * N / (rowsum(center) * colsum(context))) -
    ln(shift_k)), rounded to 6 decimals for cross-engine replay.

    Scale shape: the input is ALREADY aggregated (one row per distinct
    pair — the heavy lifting happened in ``skipgram_pairs``), so this
    is two further partial-agg rollups (rowsum keyed on center, colsum
    on context — each |V| rows), joined back by plain equi-joins (the
    pair table dominates; the marginals re-use its partitioning), plus
    one broadcast 1-row total.  No windows, no corpus re-scan.
    """
    if shift_k < 1:
        raise ValueError("shift_k must be >= 1")
    tot = pairs.agg(F.sum("n").cast("double").alias("_tot"))
    row = pairs.groupBy("center").agg(F.sum("n").cast("double").alias("rs"))
    col = pairs.groupBy("context").agg(F.sum("n").cast("double").alias("cs"))
    pmi = (
        F.log(F.col("n").cast("double") * F.col("_tot") / (F.col("rs") * F.col("cs")))
        - F.log(F.lit(float(shift_k)))
    )
    return (
        pairs.join(row, "center")
        .join(col, "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "n",
            F.round(F.greatest(F.lit(0.0), pmi), 6).alias("ppmi"),
        )
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient on the undirected simple graph of
    edges(src, dst) -> (id, deg, triangles, lcc): the fraction of a
    vertex's neighbour pairs that are themselves connected,
    lcc = 2*triangles / (deg*(deg-1)), 0 for deg < 2 (Watts-Strogatz,
    Nature'98).  Rounded to 6 decimals for cross-engine replay.

    The whole cost is ``triangle_count`` (degree-ordered compact-forward
    wedge join, see its docstring for the O(m^1.5) bound); the
    coefficient itself is one more equi-join of two already-aggregated
    per-vertex tables (triangles x degree) that re-uses the id
    partitioning — no extra corpus scan, no windows.
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangle_count(edges)
    lcc = F.when(
        F.col("deg") >= 2,
        2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1.0)),
    ).otherwise(F.lit(0.0))
    return tri.join(deg, "id").select(
        "id", "deg", "triangles", F.round(lcc, 6).alias("lcc")
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 20,
) -> DataFrame:
    """Personalized PageRank / TrustRank: random walk with restart onto
    a uniform distribution over ``sources`` (Gyongyi, Garcia-Molina,
    Pedersen, VLDB'04 — TrustRank is exactly PPR seeded on trusted
    pages; also the relatedness measure behind KG entity-ranking).
    edges(src, dst) -> (id, rank) with sum(rank) == 1: rank_{t+1}(v) =
    (1-d)*restart(v) + d*(sum_in contribs + dangling_mass*restart(v)) —
    dangling mass restarts onto the seed set, the PPR convention.

    Same supersteps as ``pagerank`` (``_power_supersteps``): the static
    (src, dst, out_deg) link frame is checkpointed once; each round is
    one contribution shuffle keyed on dst and one action.  The seed
    list is driver metadata baked into the vertex frame as a literal IN — at a
    realistic |S| (10s-1000s of trusted seeds) that is a broadcast-
    scale constant, never a corpus shuffle.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    res = F.when(
        F.col("id").isin(list(sources)), F.lit(1.0 / len(sources))
    ).otherwise(F.lit(0.0))
    verts = (
        _vertices_of(edges)
        .join(deg.withColumnRenamed("src", "id"), "id", "left")
        .select(
            "id",
            F.col("out_deg").isNull().alias("is_dangling"),
            res.alias("restart"),
        )
        .localCheckpoint(eager=True)
    )
    links = (
        edges.join(deg, "src")
        .select("src", "dst", "out_deg")
        .localCheckpoint(eager=True)
    )
    ranks = verts.select(
        "id", "is_dangling", "restart", F.col("restart").alias("rank")
    )
    head = ranks.agg(
        F.coalesce(
            F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0.0)
        ).alias("d0")
    ).collect()[0]
    return _power_supersteps(
        verts,
        links,
        ranks,
        float(head["d0"]),
        lambda contrib, dangling: F.lit(1.0 - damping) * F.col("restart")
        + F.lit(damping) * (contrib + F.lit(dangling) * F.col("restart")),
        tol,
        max_iter,
    )


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical undirected edge set
    (a < b): (a, b, support).  Same degree-ordered compact-forward
    enumeration as triangle_count — each triangle found once, then its
    three edges emitted and counted.  Edges in no triangle get 0."""
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    withdeg = und.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
    )
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")),
                F.struct(F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")),
                F.struct(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))
    return und.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    )


def ktruss(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """k-truss of the undirected simple graph (Cohen, NSA TR'08; the
    standard cohesion refinement of k-core): iteratively remove edges
    in fewer than k-2 triangles until none remain.  Returns the
    surviving canonical edges with their support INSIDE the truss
    (a, b, support).

    Each peel round is one triangle enumeration over the surviving
    edges (the degree-ordered O(m^1.5) wedge join — the same bound as
    triangle_count, shrinking every round) as one
    ``supersteps.fixpoint`` superstep.
    Rounds are bounded by the peel depth, tiny for web-like graphs.
    The synchronous peel is idempotent at its fixpoint, so a
    fixed-iteration SQL replay at any round >= convergence matches
    exactly — the same oracle argument as kcore.
    """
    if k < 2:
        raise ValueError("k must be >= 2")

    def peel(cur):
        return _edge_support(cur).filter(F.col("support") >= k - 2).select("a", "b")

    cur, converged = fixpoint(_undirected(edges), peel, ["a", "b"], max_iter)
    if not converged:
        raise RuntimeError(f"ktruss did not settle within {max_iter} rounds")
    return _edge_support(cur)


def degree_assortativity(edges: DataFrame, decimals: int = 6) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph
    (Newman, PRL 2002): the Pearson correlation of endpoint degrees
    over edges —

        r = [m1_jk - m1_sum^2] / [m1_sq - m1_sum^2]

    with m1_jk = mean(j*k), m1_sum = mean((j+k)/2), m1_sq =
    mean((j^2+k^2)/2) over undirected edges with endpoint degrees j, k.
    Positive r = hubs link to hubs (social nets); negative = hubs link
    to leaves (the web / most KGs).  Returns one row
    (n_edges, assortativity).

    Scale: one degree aggregate, two id-keyed joins attaching endpoint
    degrees, one scalar aggregate — no windows, no per-vertex state
    beyond the degree table.  Each sum is order-insensitive up to float
    rounding (hence the round).
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    withdeg = und.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("ja")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("jb")), "b")
    j, k = F.col("ja").cast("double"), F.col("jb").cast("double")
    agg = withdeg.agg(
        F.count("*").alias("m"),
        F.avg(j * k).alias("m_jk"),
        F.avg((j + k) / 2.0).alias("m_sum"),
        F.avg((j * j + k * k) / 2.0).alias("m_sq"),
    )
    den = F.col("m_sq") - F.col("m_sum") * F.col("m_sum")
    # zero degree variance (regular graph) leaves the correlation
    # undefined: surface NULL instead of tripping ANSI divide-by-zero
    r = F.when(
        den != 0.0, (F.col("m_jk") - F.col("m_sum") * F.col("m_sum")) / den
    )
    return agg.select(
        F.col("m").alias("n_edges"), F.round(r, decimals).alias("assortativity")
    )


def transitive_closure(
    edges: DataFrame,
    max_iter: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """All reachability pairs (src, dst) with src <> dst — the
    ancestor/descendant closure a KG needs for subclass/part-of
    reasoning (RDFS subClassOf+, SKOS broader+).

    The reference has no reasoning surface (its Pregel catalog,
    arguments.py:176-188, stops at component/centrality algorithms);
    this is the §2.11 KG-construction extension that turns the emitted
    (subj, pred, obj) hierarchy triples into queryable closure edges.

    Algorithm: path DOUBLING, not single-step expansion — round r holds
    every path of length <= 2^r, so a hierarchy of depth d closes in
    ceil(log2(d)) joins instead of d (Valduriez & Boral '86 /
    "smart" transitive closure).  Each round is one self-equi-join on
    the frontier midpoint + union + distinct, run as one
    ``supersteps.fixpoint`` superstep; an exhausted ``max_iter`` raises
    rather than returning a truncated closure.

    Scale shape: the join keys on the midpoint vertex; hub vertices
    (power-law at web scale) are exactly AQE skew-join territory and
    the distinct's partial aggregation absorbs duplicate paths
    map-side.  The OUTPUT is the closure itself — Theta(sum of
    reachable-set sizes) — so this is for bounded-fanout hierarchy
    predicates (ontology depth <= ~20 closes in 5 rounds), not for the
    full web graph; callers pre-filter edges to the hierarchy
    predicate, which Spark pushes to the triple scan.
    """

    def double(paths):
        hop = paths.select(F.col("dst").alias("mid"), F.col("src"))
        ext = paths.select(F.col("src").alias("mid"), F.col("dst"))
        return paths.unionByName(
            hop.join(ext, "mid").select("src", "dst").filter(F.col("src") != F.col("dst"))
        ).distinct()

    paths, converged = fixpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        double,
        ["src", "dst"],
        max_iter,
    )
    if not converged:
        raise RuntimeError(f"transitive_closure did not settle within {max_iter} rounds")
    return paths


def degree_powerlaw(
    edges: DataFrame, xmin: int = 1, decimals: int = 6
) -> DataFrame:
    """Power-law exponent MLE over the undirected degree distribution
    -> one row (n_nodes, max_deg, alpha).

    alpha = 1 + n / sum(ln(deg / (xmin - 1/2))) — the discrete
    continuous-approximation MLE of Clauset, Shalizi & Newman (2009,
    eq. 3.7), the standard "is this graph web-shaped?" diagnostic a
    pipeline runs before choosing skew strategies (salting thresholds,
    hub caps in linkpred.py).  Degrees below xmin are excluded, as the
    estimator requires.

    Scale shape: one degree aggregation (map-side partials over the
    edge list) + one scalar aggregate; no window, no join, no
    collect beyond the single result row.
    """
    if xmin < 1:
        raise ValueError("xmin must be >= 1")
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") >= xmin)
    )
    agg = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("deg").alias("max_deg"),
        F.sum(F.log(F.col("deg") / (xmin - 0.5))).alias("lsum"),
    )
    alpha = F.when(
        F.col("lsum") > 0.0, 1.0 + F.col("n_nodes") / F.col("lsum")
    )
    return agg.select(
        "n_nodes", "max_deg", F.round(alpha, decimals).alias("alpha")
    )


def neighborhood_function(
    edges: DataFrame,
    max_hops: int = 3,
    registers: int = 8,
    seed: int = 9,
    decimals: int = 4,
) -> DataFrame:
    """ANF — the Approximate Neighborhood Function (Palmer, Gibbons,
    Faloutsos, KDD'02): for each hop h, the approximate number of
    ordered (u, v) pairs with directed distance(u -> v) <= h, via
    per-node Flajolet-Martin bitmask union -> (hop, approx_pairs).

    N(h) is THE scalable way to read a web graph's shape: effective
    diameter = smallest h with N(h) >= 0.9 * N(h_max); exact
    all-pairs BFS is O(n*m) and dead at 10^12 edges, while ANF is
    ``max_hops`` rounds of one join + one bit_or aggregate.  The same
    sketch drives effective_closeness (Kang's HADI) per node; this is
    the graph-level aggregate.

    Mechanics: every vertex starts with FM masks of its own id
    (sketches._mask — the repo's replayable congruential+xor-shift
    hash); each round every vertex bit_or-unions its out-neighbors'
    masks into its own, so after h rounds a vertex's masks sketch its
    <= h-hop reachable set; N(h) = sum over vertices of the FM
    estimate.  bit_or is associative/commutative/idempotent —
    map-side partials absorb hub fan-in, and re-walked paths cost
    nothing (idempotence), which is WHY ANF beats frontier BFS here:
    no visited-set anti-join needed.  One localCheckpoint per round
    (Pregel loop discipline).
    """
    from graph_importer_spark.operators.sketches import PHI, _mask

    e = (
        edges.select(F.col("src"), F.col("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = _vertices_of(e)
    mcols = [f"m{r}" for r in range(registers)]
    masks = verts.select(
        "id", *[_mask("id", r, seed).alias(c) for r, c in enumerate(mcols)]
    ).localCheckpoint(eager=True)

    def estimate(frame: DataFrame, hop: int) -> DataFrame:
        z = [
            F.expr(f"CAST(bit_count(((~{c}) & ({c} + 1)) - 1) AS DOUBLE)")
            for c in mcols
        ]
        zsum = z[0]
        for x in z[1:]:
            zsum = zsum + x
        est = F.pow(F.lit(2.0), zsum / F.lit(float(registers))) / F.lit(PHI)
        return frame.agg(
            F.round(F.sum(est), decimals).alias("approx_pairs")
        ).select(F.lit(hop).alias("hop"), "approx_pairs")

    out = estimate(masks, 0)
    for hop in range(1, max_hops + 1):
        gathered = (
            e.join(masks.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(*[F.bit_or(c).alias(c) for c in mcols])
        )
        g = gathered.select(
            "id", *[F.col(c).alias(f"g{c}") for c in mcols]
        )
        masks = (
            masks.join(g, "id", "left")
            .select(
                "id",
                *[
                    (
                        F.col(c).bitwiseOR(
                            F.coalesce(F.col(f"g{c}"), F.lit(0))
                        )
                    ).alias(c)
                    for c in mcols
                ],
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(estimate(masks, hop))
    return out


def effective_diameter(nf: DataFrame, quantile: float = 0.9):
    """Smallest hop h with N(h) >= quantile * N(max hop), from a
    neighborhood_function frame — one tiny driver-side reduction
    (the frame has max_hops+1 rows)."""
    rows = sorted(
        ((r["hop"], r["approx_pairs"]) for r in nf.collect())
    )
    total = rows[-1][1]
    for hop, pairs in rows:
        if pairs >= quantile * total:
            return hop
    return rows[-1][0]


def bipartite_project(
    edges: DataFrame,
    left: str = "src",
    right: str = "dst",
    max_right_degree: int | None = None,
    min_weight: int = 1,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite graph -> (a, b,
    weight) with a < b and weight = number of shared right-side
    neighbors (co-purchase / co-click / co-mention construction — the
    step that turns a page-entity or user-item graph into the entity
    graph the Pregel catalog runs on).

    Scale shape: one self-equi-join keyed on the RIGHT vertex — a hot
    right vertex (a page every entity appears on) contributes deg^2
    pairs, so ``max_right_degree`` is a first-class cap (the linkpred
    hub-cap argument: a right node shared by everyone carries ~zero
    association signal; dropped nodes are named by the cap, not
    silently sampled).  The (a, b) count aggregate is partial-agg
    absorbed; ``min_weight`` prunes the long tail before it leaves the
    exchange.
    """
    e = (
        edges.select(F.col(left).alias("l"), F.col(right).alias("r"))
        .filter(F.col("l").isNotNull() & F.col("r").isNotNull())
        .distinct()
    )
    if max_right_degree is not None:
        ok = (
            e.groupBy("r")
            .agg(F.count("*").alias("rdeg"))
            .filter(F.col("rdeg") <= max_right_degree)
            .select("r")
        )
        e = e.join(ok, "r", "left_semi")
    a = e.select(F.col("l").alias("a"), "r")
    b = e.select(F.col("l").alias("b"), "r")
    return (
        a.join(b, "r")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def neighbor_sample(
    edges: DataFrame,
    sources: DataFrame,
    fanouts: list[int],
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    buckets: int = 32,
) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling: starting from
    ``sources``, sample at most ``fanouts[l]`` neighbors per frontier
    node at layer ``l`` -> sampled edge list ``(layer, src, dst)``
    (layer is 1-based; layer l edges leave the layer-(l-1) frontier).

    This is the mini-batch subgraph loader of GNN training (Hamilton
    et al., NeurIPS'17): at 10^12-edge scale the training job never
    materializes full neighborhoods — it samples a bounded-fanout
    subgraph per batch, and the sampler IS the data pipeline.  The
    reference stops at whole-graph Pregel analytics (start_Pregel.py,
    arguments.py:176-188); this is the §2.11 training-data extension
    of its graph surface.

    Determinism: neighbor choice ranks ``md5(seed|layer|src|dst)`` —
    a keyed coin, not Spark randomness — so the sample is stable
    across retries/partitionings and SQL-replayable (the oracle ranks
    the same md5).  Per-frontier-node top-f runs through the two-phase
    salted top-k (operators/skew.py): hub nodes (power-law degree at
    web scale) never sort their full adjacency in one task, and the
    final shuffle carries <= buckets*f candidate structs per node.

    Scale shape per layer: frontier semi-join against the edge table
    (AQE skew-split on the hub side) -> salted top-f -> next frontier
    is the distinct sampled dst set.  len(fanouts) layers = that many
    bounded rounds; the output is Theta(sum_l prod_{i<=l} f_i) per
    source — the point of fanout sampling.
    """
    from graph_importer_spark.operators.skew import salted_topk

    if any(f <= 0 for f in fanouts):
        raise ValueError("fanouts must be positive")
    frontier = sources.select(
        F.col(sources.columns[0]).alias("src")
    ).distinct()
    out = None
    for layer, f in enumerate(fanouts, start=1):
        adj = frontier.join(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
            "src",
            "inner",
        ).distinct()
        coin = F.md5(
            F.concat_ws(
                "|",
                F.lit(str(seed)),
                F.lit(str(layer)),
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
            )
        )
        ranked = adj.withColumn("_coin", coin)
        picked = salted_topk(
            ranked, "src", "_coin", "dst", k=f, buckets=buckets
        ).select(
            F.lit(layer).alias("layer"), F.col("src"), F.col("dst")
        )
        picked = picked.localCheckpoint(eager=False)
        out = picked if out is None else out.unionByName(picked)
        frontier = picked.select(F.col("dst").alias("src")).distinct()
    return out


def ontology_types(
    instance_of: DataFrame,
    subclass_of: DataFrame,
    entity: str = "entity",
    cls: str = "cls",
    sub: str = "sub",
    sup: str = "sup",
    max_depth: int = 20,
) -> DataFrame:
    """RDFS-style type inference: materialize every type an entity
    holds through the subclass hierarchy — ``(entity, type)`` =
    direct types UNION instance_of ∘ subClassOf+ (rdfs9/rdfs11
    entailment over a class DAG).

    KG construction emits instance triples against leaf classes;
    query-time reasoning is too expensive at 10^12 triples, so
    production KGs materialize the closure once (the standard
    forward-chaining cut).  The class hierarchy is tiny relative to
    the instance set, so the expensive part — closure — runs on the
    small side first (:func:`transitive_closure`, log-depth path
    doubling), and the instance table is touched by exactly ONE
    broadcast-able equi-join on the leaf class; instance rows never
    re-shuffle per hierarchy level.

    Returns distinct ``(entity, type)``; hub classes (everything is an
    "entity") inflate the output, not the shuffle — the join's build
    side is the closure, keyed by subclass.
    """
    closure = transitive_closure(
        subclass_of.select(F.col(sub).alias("src"), F.col(sup).alias("dst")),
        max_iter=max_depth,
    )
    direct = instance_of.select(
        F.col(entity).alias("entity"), F.col(cls).alias("type")
    )
    inherited = instance_of.join(
        F.broadcast(closure),
        instance_of[cls] == closure["src"],
        "inner",
    ).select(F.col(entity).alias("entity"), F.col("dst").alias("type"))
    return direct.unionByName(inherited).distinct()


def modularity(
    edges: DataFrame,
    assign: DataFrame,
    decimals: int = 6,
) -> DataFrame:
    """Newman-Girvan modularity of a community assignment over the
    undirected simple graph (Newman & Girvan, PRE 2004):

        Q = sum_c [ e_c / m  -  (deg_c / (2m))^2 ]

    where m is the undirected edge count, e_c the number of intra-
    community edges of c, and deg_c the summed degree of c's members.
    This is the quality score community detectors optimize — pair it
    with :func:`label_propagation` / SLPA output to score the detected
    partition, or with any external assignment.

    ``assign`` is (id, community); nodes missing from ``assign`` are
    dropped from the score (their edges don't count toward m), so feed
    a total assignment for the textbook Q.

    -> per-community rows (community, n_nodes, intra_edges, deg_sum,
    q_contrib) — sum q_contrib for the scalar Q.  Per-community rows
    are returned instead of the bare scalar because the per-community
    decomposition is what you act on (which communities are cohesive).

    Scale shape: one degree aggregate, two id-keyed equi-joins
    attaching endpoint communities (the assignment table is
    vertex-cardinality; Spark broadcasts it when small, AQE otherwise),
    then ONE community-keyed aggregate.  m and 2m ride along as a
    broadcast scalar (cross join with a 1-row total — the plan Spark
    turns into BroadcastNestedLoopJoin on a single row).  No windows.
    """
    und = _undirected(edges)
    a = assign.select(F.col("id").alias("_i"), F.col("community").alias("_c"))
    lab = (
        und.join(a.withColumnRenamed("_i", "a").withColumnRenamed("_c", "ca"), "a")
        .join(a.withColumnRenamed("_i", "b").withColumnRenamed("_c", "cb"), "b")
    )
    m_total = lab.agg(F.count("*").alias("_m"))

    deg = (
        lab.select(F.col("ca").alias("community"))
        .unionByName(lab.select(F.col("cb").alias("community")))
        .groupBy("community")
        .agg(F.count("*").alias("deg_sum"))
    )
    intra = (
        lab.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("intra_edges"))
    )
    nodes = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .distinct()
        .join(a.withColumnRenamed("_i", "id"), "id")
        .groupBy(F.col("_c").alias("community"))
        .agg(F.count("*").alias("n_nodes"))
    )
    return (
        nodes.join(deg, "community", "left")
        .join(intra, "community", "left")
        .crossJoin(F.broadcast(m_total))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            F.coalesce("deg_sum", F.lit(0)).alias("deg_sum"),
            F.round(
                F.coalesce(F.col("intra_edges"), F.lit(0)) / F.col("_m")
                - (
                    F.coalesce(F.col("deg_sum"), F.lit(0))
                    / (F.lit(2.0) * F.col("_m"))
                )
                * (
                    F.coalesce(F.col("deg_sum"), F.lit(0))
                    / (F.lit(2.0) * F.col("_m"))
                ),
                decimals,
            ).alias("q_contrib"),
        )
    )


def butterfly_count(
    edges: DataFrame,
    left_col: str = "u",
    right_col: str = "v",
) -> DataFrame:
    """Per-left-vertex butterfly (2x2 biclique) counts on a bipartite
    graph — the bipartite analogue of triangle counting (Wang et al.,
    VLDB 2019 "Vertex priority based butterfly counting"): a butterfly
    is two left vertices sharing two right vertices.  Co-purchase /
    co-click butterflies measure community density where triangles
    cannot exist (bipartite graphs have none).

    Counting: wedges = left pairs (u1 < u2) sharing a right vertex;
    with w = wedge multiplicity per pair, the pair closes C(w, 2)
    butterflies; a vertex's count sums over its pairs.
    -> (id, butterflies).

    Scale shape: one right-keyed self-join (the wedge join — right-hub
    degree d contributes d^2 wedge rows; cap or sample celebrity hubs
    upstream like triangle_count's degree orientation), one pair-keyed
    count (fine-grained, partial-agg), then the closed-form C(w,2) —
    no 4-cycle enumeration.  Integer math end-to-end.
    """
    e = edges.select(
        F.col(left_col).alias("u"), F.col(right_col).alias("v")
    ).distinct()
    x = e.select(F.col("u").alias("u1"), "v")
    y = e.select(F.col("u").alias("u2"), "v")
    wedges = (
        x.join(y, "v")
        .filter(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count("*").alias("w"))
    )
    pair_bf = wedges.select(
        "u1", "u2", (F.col("w") * (F.col("w") - 1) / 2).cast("long").alias("bf")
    ).filter(F.col("bf") > 0)
    return (
        pair_bf.select(F.col("u1").alias("id"), "bf")
        .unionByName(pair_bf.select(F.col("u2").alias("id"), "bf"))
        .groupBy("id")
        .agg(F.sum("bf").alias("butterflies"))
    )


def wl_relabel(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """1-dimensional Weisfeiler-Lehman relabeling (Weisfeiler & Lehman
    1968; Shervashidze et al., JMLR 2011 — WL graph kernels): start
    from degree labels and repeatedly hash each vertex's (own label,
    sorted multiset of neighbor labels).  After r rounds, equal labels
    = locally indistinguishable r-hop neighborhoods — the structural
    fingerprint used for graph dedup, isomorphism pre-tests, and
    GNN expressiveness baselines.

    -> (id, wl_label) with wl_label an md5 hex (replayable: md5 over
    'label|sorted,neighbor,labels' — string ops only).

    Scale shape: per round, ONE id-keyed join attaching neighbor
    labels + ONE id-keyed aggregate building the sorted multiset
    (collect_list state bounded by degree; celebrity vertices are the
    usual AQE skew territory).  Rounds are a fixed small constant —
    r-hop locality, not convergence iteration.
    """
    adj = _adjacency(edges).toDF("id", "nb")
    labels = adj.groupBy("id").agg(
        F.count("*").cast("string").alias("label")
    )
    for _ in range(rounds):
        nb = (
            adj.join(
                labels.select(F.col("id").alias("nb"), F.col("label").alias("_nl")),
                "nb",
            )
            .groupBy("id")
            .agg(
                F.array_join(F.array_sort(F.collect_list("_nl")), ",").alias("_nbs")
            )
        )
        labels = (
            labels.join(nb, "id")
            .select(
                "id",
                F.md5(
                    F.encode(F.concat_ws("|", "label", "_nbs"), "UTF-8")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("label").alias("wl_label"))


def degree_ks(edges_a: DataFrame, edges_b: DataFrame, decimals: int = 6) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the degree
    distributions of two undirected graphs — the goodness-of-fit
    number for validating a synthetic / sampled / anonymized graph
    against the original (cf. Leskovec & Faloutsos, KDD 2006 graph
    sampling evaluation).

    KS = max over degree values d of |CDF_a(d) - CDF_b(d)| with the
    CDF over nodes.  -> one row (n_a, n_b, ks).

    Scale shape: each graph reduces to a (degree -> node count) table
    first — cardinality bounded by the distinct degree count (<= max
    degree, typically thousands), NOT node count; the step function /
    running CDF then runs on that tiny table (single-partition window
    over metadata-scale rows — documented, bounded).  The corpus-scale
    work is two degree aggregates.
    """
    def _deg_counts(e: DataFrame, side: str) -> DataFrame:
        und = _undirected(e)
        deg = (
            und.select(F.col("a").alias("id"))
            .unionByName(und.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
        )
        return deg.groupBy("deg").agg(F.count("*").alias(f"n_{side}"))

    da, db = _deg_counts(edges_a, "a"), _deg_counts(edges_b, "b")
    merged = da.join(db, "deg", "full").select(
        "deg",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = merged.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    w = Window.orderBy("deg").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = merged.select(
        "deg",
        F.sum("n_a").over(w).alias("ca"),
        F.sum("n_b").over(w).alias("cb"),
    ).crossJoin(F.broadcast(tot))
    return stepped.agg(
        F.max("ta").cast("long").alias("n_a"),
        F.max("tb").cast("long").alias("n_b"),
        F.round(
            F.max(
                F.abs(
                    F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb")
                )
            ),
            decimals,
        ).alias("ks"),
    )


def rich_club(
    edges: DataFrame, ks: list[int], decimals: int = 6
) -> DataFrame:
    """Rich-club coefficient phi(k) (Colizza et al., Nature Physics
    2006): the edge density among nodes of degree > k —
    phi(k) = 2 * E_k / (N_k * (N_k - 1)).  Hubs linking mostly to
    each other (phi -> 1) is the signature of core-periphery web
    graphs and changes the right skew strategy (a dense hub core
    broadcast-joins; a sparse one salts).

    -> one row per k: (k, n_nodes, n_edges, phi); NULL phi when
    N_k < 2.

    Scale shape: one degree aggregate; per k, two degree-attach joins
    filter the (already undirected, distinct) edge set + scalar
    counts.  ``ks`` is a small explicit list — cost is |ks| filtered
    passes over the degree-annotated edge table, which is cached via
    a lazy localCheckpoint.
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    lab = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        .localCheckpoint(eager=False)
    )
    deg = deg.localCheckpoint(eager=False)
    spark = edges.sparkSession
    out = None
    for k in ks:
        nk = deg.filter(F.col("deg") > k).agg(F.count("*").alias("n_nodes"))
        ek = lab.filter((F.col("da") > k) & (F.col("db") > k)).agg(
            F.count("*").alias("n_edges")
        )
        row = (
            nk.crossJoin(ek)
            .select(
                F.lit(k).alias("k"),
                "n_nodes",
                "n_edges",
                F.when(
                    F.col("n_nodes") >= 2,
                    F.round(
                        F.lit(2.0)
                        * F.col("n_edges")
                        / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))),
                        decimals,
                    ),
                ).alias("phi"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def reciprocity(edges: DataFrame, decimals: int = 6) -> DataFrame:
    """Directed-graph reciprocity: the fraction of directed edges
    whose reverse edge also exists (Garlaschelli & Loffredo, PRL
    2004) — near 1 on social 'follows-back' graphs, low on the web
    link graph; the one-number orientation signature that decides
    whether treating the link graph as undirected loses information.

    Self-loops drop; duplicate edges count once.
    -> one row (n_edges, n_reciprocal, reciprocity).

    Scale shape: one distinct pass + ONE self-equi-join on the
    swapped key + two scalar counts.  The join keys on (src, dst)
    pairs — fine-grained, partial-agg friendly.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = e.join(rev, ["src", "dst"], "left_semi")
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(rec.agg(F.count("*").alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(F.col("n_reciprocal") / F.col("n_edges"), decimals).alias(
                "reciprocity"
            ),
        )
    )


def simrank_pairs(
    edges: DataFrame,
    c: float = 0.8,
    min_common: int = 1,
    max_degree: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Two-iteration SimRank (Jeh & Widom KDD'02) over the undirected
    graph, scored for the candidate pairs that share at least
    ``min_common`` neighbors:

        s1(a,b) = c * |N(a) ∩ N(b)| / (|N(a)| |N(b)|)
        s2(a,b) = c / (|N(a)||N(b)|) * Σ_{i∈N(a), j∈N(b)} s1'(i,j)

    with s1'(i,i) = 1 (the SimRank base case).  Two iterations is the
    published sweet spot for similarity RANKING (scores order
    stabilizes long before values converge).

    Determinism: s1 is rounded to 9dp and summed as DECIMAL, so the
    neighbor-pair accumulation is order-exact; s2 rounds to
    ``decimals``.

    -> (a, b, common, s1, s2) for a < b.

    Scale shape: candidates come from ONE wedge self-join keyed on the
    middle vertex (the linkpred shape, O(Σ deg²) bounded); the s2 sum
    fans out da x db per candidate — the published SimRank cost — so
    ``max_degree`` caps each vertex's neighbor list to its
    ``min(deg, max_degree)`` md5-smallest neighbors (deterministic,
    partition-invariant) before the quadratic stage; leave None only
    on pre-filtered subgraphs.  All sums are keyed partial aggregates;
    no windows.
    """
    adj = _adjacency(edges).toDF("u", "v")
    if max_degree is not None:
        w = Window.partitionBy("u").orderBy(
            F.md5(F.concat_ws("|", F.col("u"), F.col("v"))).asc()
        )
        adj = (
            adj.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_degree)
            .drop("_r")
        )
    deg = adj.groupBy("u").agg(F.count("*").alias("deg"))
    x = adj.select(F.col("u").alias("mid"), F.col("v").alias("a"))
    y = adj.select(F.col("u").alias("mid"), F.col("v").alias("b"))
    cand = (
        x.join(y, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("db"))
    cand = cand.join(da, "a").join(db, "b")
    s1 = cand.select(
        "a",
        "b",
        F.round(
            F.lit(c) * F.col("common") / (F.col("da") * F.col("db")), 9
        )
        .cast("decimal(20,9)")
        .alias("s1"),
    )
    # symmetric s1 lookup table for the neighbor-pair sum
    s1s = s1.unionByName(
        s1.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "s1"
        )
    )
    ai = adj.select(F.col("u").alias("a"), F.col("v").alias("i"))
    bj = adj.select(F.col("u").alias("b"), F.col("v").alias("j"))
    pairs = (
        cand.select("a", "b")
        .join(ai, "a")
        .join(bj, "b")
        .filter(F.col("i") != F.col("j"))
    )
    off = (
        pairs.join(
            s1s.select(
                F.col("a").alias("i"), F.col("b").alias("j"), "s1"
            ),
            ["i", "j"],
            "left",
        )
        .groupBy("a", "b")
        .agg(
            F.sum(F.coalesce(F.col("s1"), F.lit(0).cast("decimal(20,9)")))
            .alias("_off")
        )
    )
    out = (
        cand.join(off, ["a", "b"], "left")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.lit(c) * F.col("common") / (F.col("da") * F.col("db")),
                decimals,
            ).alias("s1"),
            F.round(
                F.lit(c)
                / (F.col("da") * F.col("db"))
                * (
                    F.col("common")
                    + F.coalesce(
                        F.col("_off"), F.lit(0).cast("decimal(20,9)")
                    ).cast("double")
                ),
                decimals,
            ).alias("s2"),
        )
    )
    return out


def harmonic_centrality_sampled(
    edges: DataFrame,
    n_sources: int = 8,
    max_hops: int = 4,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """Sampled harmonic centrality (Boldi & Vigna's centrality family):
    exact multi-source BFS from the ``n_sources`` md5-smallest
    vertices (deterministic sample), harmonic sum Σ 1/d(s, v) over
    reached (source, vertex) pairs within ``max_hops``.

    Per-term 1/d is rounded to 9dp DECIMAL before summing, so the
    aggregate is order-exact and the recursive-CTE oracle replays it.

    -> (id, n_reached, harmonic) — vertices reached by at least one
    sampled source.

    Scale shape: the frontier carries (source, vertex) keys — state is
    O(n_sources x |V_reached|), the standard multi-source BFS
    trade; each hop is one ``supersteps.bfs`` superstep (frontier-keyed
    join + anti-join against the visited set, one job).  Sources are
    TakeOrdered-selected (no global sort materialization).
    """
    und = _adjacency(edges)
    verts = und.select(F.col("src").alias("id")).distinct()
    srcs = (
        verts.orderBy(
            F.md5(F.concat_ws("|", F.col("id"), F.lit(str(seed)))).asc()
        )
        .limit(n_sources)
        .select(F.col("id").alias("s"))
    )
    visited = bfs(und, srcs.select("s", F.col("s").alias("id")), max_hops)
    reached = visited.filter(F.col("d") > 0)
    return (
        reached.groupBy("id")
        .agg(
            F.count("*").alias("n_reached"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("d"), 9).cast(
                        "decimal(20,9)"
                    )
                ).cast("double"),
                decimals,
            ).alias("harmonic"),
        )
    )


def luby_mis(
    edges: DataFrame,
    max_rounds: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Luby's maximal-independent-set algorithm (Luby STOC'85), the
    canonical O(log n)-round parallel symmetry breaker, with md5
    priorities instead of per-round RNG so every round is a pure
    function of (vertex, round, seed) — partition-invariant and
    SQL-replayable.

    Round r: every still-active vertex draws priority
    md5(id|r|seed) (full hex, string order); a vertex joins the MIS
    iff its priority is strictly smaller than every active
    neighbor's (isolated actives always join); MIS vertices and their
    neighbors deactivate.  Runs exactly ``max_rounds`` rounds (the
    published expected-round bound is O(log n)); anything still
    active after that is emitted as ``undecided`` rather than looped
    on — callers size ``max_rounds`` to their graph.

    -> (id, status, round): status in {in_mis, dominated, undecided},
    ``round`` = 1-based deactivation round (NULL for undecided).

    Scale shape: per round, ONE neighbor-min aggregate (partial-agg
    absorbs hub fan-in) + two anti-joins, the frontier checkpointed
    every round (supersteps.py); the MIS/dominated outputs accumulate
    out-of-loop.
    """
    adj = _adjacency(edges).toDF("u", "v")
    active = (
        adj.select(F.col("u").alias("id")).distinct().localCheckpoint(eager=True)
    )
    out = None
    for r in range(1, max_rounds + 1):
        pri = active.select(
            "id",
            F.md5(
                F.concat_ws(
                    "|", F.col("id"), F.lit(str(r)), F.lit(str(seed))
                )
            ).alias("_p"),
        )
        # active adjacency this round (both endpoints active)
        aa = adj.join(active.select(F.col("id").alias("u")), "u").join(
            active.select(F.col("id").alias("v")), "v"
        )
        nbmin = (
            aa.join(pri.select(F.col("id").alias("v"), F.col("_p").alias("_pv")), "v")
            .groupBy("u")
            .agg(F.min("_pv").alias("_mp"))
        )
        sel = (
            pri.join(nbmin, pri["id"] == nbmin["u"], "left")
            .filter(F.col("_mp").isNull() | (F.col("_p") < F.col("_mp")))
            .select("id")
            .localCheckpoint(eager=True)
        )
        dominated = (
            adj.join(sel.select(F.col("id").alias("u")), "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(sel, "id", "left_anti")
            .join(active, "id", "left_semi")
            .localCheckpoint(eager=True)
        )
        rows = sel.select(
            "id", F.lit("in_mis").alias("status"), F.lit(r).alias("round")
        ).unionByName(
            dominated.select(
                "id", F.lit("dominated").alias("status"), F.lit(r).alias("round")
            )
        )
        out = rows if out is None else out.unionByName(rows)
        active = (
            active.join(sel, "id", "left_anti")
            .join(dominated, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if active.isEmpty():
            break
    undecided = active.select(
        "id",
        F.lit("undecided").alias("status"),
        F.lit(None).cast("int").alias("round"),
    )
    return out.unionByName(undecided) if out is not None else undecided


def double_sweep_diameter(
    edges: DataFrame,
    max_hops: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Double-sweep diameter lower bound (the Magnien/Latapy/Habib
    heuristic, tight on web-shaped graphs): BFS from the md5-smallest
    vertex, take the farthest vertex reached (ties to the smaller id),
    BFS again from there — the second eccentricity is the classic
    diameter lower bound, usually exact in practice.

    -> one row (start, far, ecc1, diameter_lb, n_reached_2): ``ecc1``
    is sweep 1's eccentricity (bounded by ``max_hops`` — raise it if
    ecc1 == max_hops, the bound may be truncated), ``n_reached_2``
    sweep 2's reach for a connectivity sanity check.

    Scale shape: two ``supersteps.bfs`` loops (frontier join + visited
    anti-join, one job per hop) — each hop is one shuffle of the
    frontier, the full corpus never re-shuffles; the per-sweep argmax
    is a 1-row scalar aggregate (max_by), not a sort.
    """
    und = _adjacency(edges)
    verts = und.select(F.col("src").alias("id")).distinct()
    start = (
        verts.orderBy(
            F.md5(F.concat_ws("|", F.col("id"), F.lit(str(seed)))).asc()
        )
        .limit(1)
    )
    v1 = bfs(und, start, max_hops)
    far = v1.groupBy().agg(
        F.expr("max_by(id, struct(d, -id))").alias("id"),
        F.max("d").alias("ecc1"),
    )
    v2 = bfs(und, far.select("id"), max_hops)
    s2 = v2.groupBy().agg(
        F.max("d").alias("diameter_lb"), F.count("*").alias("n_reached_2")
    )
    return (
        start.select(F.col("id").alias("start"))
        .crossJoin(far.select(F.col("id").alias("far"), "ecc1"))
        .crossJoin(s2)
    )


def quotient_graph(
    edges: DataFrame,
    assign: DataFrame,
    id_col: str = "id",
    comm_col: str = "community",
) -> DataFrame:
    """Community contraction: collapse a vertex->community assignment
    (from lpa / slpa / cc / any clustering) into the quotient
    super-graph — one row per community pair with the edge count
    between them, self-pairs carrying the internal-edge count.  The
    coarsening step of every multilevel graph algorithm (Louvain's
    phase 2, METIS coarsening, graph summarization).

    -> (ca, cb, n_edges) with ca <= cb (ca = cb for internal edges).

    Scale shape: two id-keyed joins map endpoints to communities
    (assignment tables are vertex-sized — broadcast when they fit,
    AQE otherwise) + ONE (ca, cb) partial-agg count; the quotient has
    at most |communities|^2 rows.
    """
    und = _undirected(edges)
    sa = assign.select(
        F.col(id_col).alias("a"), F.col(comm_col).alias("_ca")
    )
    sb = assign.select(
        F.col(id_col).alias("b"), F.col(comm_col).alias("_cb")
    )
    j = und.join(sa, "a").join(sb, "b")
    return (
        j.select(
            F.least("_ca", "_cb").alias("ca"),
            F.greatest("_ca", "_cb").alias("cb"),
        )
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("n_edges"))
    )


def shortest_path_trace(
    edges: DataFrame, src_id, dst_id, max_hops: int = 8
) -> DataFrame:
    """One explicit shortest path between two vertices with the hop
    sequence reconstructed (the "how are X and Y connected?" KG
    query; sssp/k_hop report distances only).  BFS layers record each
    vertex's minimum-id predecessor; backtracking follows those
    pointers, so the returned path is THE deterministic lexico-min
    shortest path.

    -> one row (src, dst, dist, path array<id>); no row when dst is
    unreachable within ``max_hops``.

    Scale shape: the BFS is the k_hop loop (frontier join + visited
    anti-join) carrying one extra min (parent) column and stopping at
    the target, so it keeps its own loop; each hop is one
    ``supersteps.checkpoint`` job that also counts the frontier and the
    target hits; backtracking joins the dist-keyed visited table
    <= dist times on single-row frames.
    """
    und = _adjacency(edges)
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [(src_id, 0, None)], "id long, d int, parent long"
    )
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt, got = checkpoint(
            frontier.join(und, frontier["id"] == und["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(frontier["id"]).alias("parent"))
            .withColumn("d", F.lit(hop))
            .join(visited.select("id"), ["id"], "left_anti")
            .select("id", "d", "parent"),
            n=F.count(F.lit(1)),
            hit=F.count(F.when(F.col("id") == dst_id, 1)),
        )
        if got["n"] == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
        if got["hit"]:
            break
    hit = visited.filter(F.col("id") == dst_id).collect()
    if not hit and src_id != dst_id:
        return spark.createDataFrame(
            [], "src long, dst long, dist int, path array<bigint>"
        )
    dist = 0 if src_id == dst_id else hit[0].d
    path = [dst_id]
    cur = dst_id
    for _ in range(dist):
        cur = visited.filter(F.col("id") == cur).collect()[0].parent
        path.append(cur)
    path.reverse()
    return spark.createDataFrame(
        [(src_id, dst_id, dist, [int(p) for p in path])],
        "src long, dst long, dist int, path array<bigint>",
    )


def component_size_distribution(labels: DataFrame) -> DataFrame:
    """Connected-component health summary from a (id, component)
    labeling (the cc/canonicalization output): how many components of
    each size exist and what fraction of all vertices they hold — the
    giant-component check run after every canonicalization pass
    (a runaway GCC means the dedup/linking threshold is too loose).

    -> (size, n_components, n_nodes, frac_nodes).

    Scale shape: component-keyed partial count, then a size-keyed
    rollup over the (bounded) component table + 1-row total broadcast.
    """
    sizes = labels.groupBy("component").agg(F.count("*").alias("size"))
    dist = sizes.groupBy("size").agg(F.count("*").alias("n_components"))
    tot = labels.groupBy().agg(F.count("*").alias("_n"))
    return dist.crossJoin(F.broadcast(tot)).select(
        "size",
        "n_components",
        (F.col("size") * F.col("n_components")).alias("n_nodes"),
        F.round(
            F.col("size") * F.col("n_components") / F.col("_n"), 6
        ).alias("frac_nodes"),
    )


def resolve_redirects(
    redirects: DataFrame, max_doubling: int = 6
) -> DataFrame:
    """Redirect/alias-chain resolution by pointer doubling (the
    wiki-redirect normal form a KG import needs before entity ids
    stabilize): each source follows its UNIQUE out-pointer (enforced
    by min-dst dedup) to the chain's terminal; ``max_doubling``
    rounds resolve chains up to 2^rounds hops in log time — the
    Wyllie list-ranking shape, not a per-hop loop.

    Sources still pointing at another SOURCE after saturation are on
    (or feed) a cycle: flagged ``is_cycle``, target = wherever
    ptr^(2^rounds) landed — deterministic, replayable.

    -> (src, target, is_cycle).

    Scale shape: each doubling round is ONE self-join of the pointer
    table on the current target (key-partitioned equi-join,
    checkpointed); 6 rounds cover 64-hop chains — real redirect
    chains are < 10.
    """
    ptr = (
        redirects.groupBy(F.col("src"))
        .agg(F.min("dst").alias("cur"))
        .localCheckpoint(eager=True)
    )
    state = ptr
    for _ in range(max_doubling):
        nxt = state.alias("a").join(
            state.alias("b"),
            F.col("a.cur") == F.col("b.src"),
            "left",
        ).select(
            F.col("a.src").alias("src"),
            F.coalesce(F.col("b.cur"), F.col("a.cur")).alias("cur"),
        )
        state = nxt.localCheckpoint(eager=True)
    srcs = ptr.select(F.col("src").alias("_s")).withColumn(
        "_is_src", F.lit(True)
    )
    return state.join(
        srcs, state["cur"] == srcs["_s"], "left"
    ).select(
        "src",
        F.col("cur").alias("target"),
        F.coalesce("_is_src", F.lit(False)).alias("is_cycle"),
    )


def cocitation_coupling(
    edges: DataFrame,
    min_count: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Co-citation and bibliographic coupling over a DIRECTED citation
    / link graph (Small 1973, Kessler 1963 — the similarity signals
    behind "related papers" and host-level web similarity):
    co-citation(a,b) = how many documents cite BOTH a and b (wedge on
    shared in-neighbor); coupling(a,b) = how many references a and b
    SHARE (wedge on shared out-neighbor).

    -> (a, b, cocitation, coupling) for a < b where either count >=
    ``min_count``.

    Scale shape: two wedge self-joins keyed on the shared middle
    vertex (the linkpred bound, O(Σ deg²) per direction);
    ``max_degree`` caps hub middles (a page cited by millions makes
    every cited pair a candidate — the documented df-cap trade) via
    deterministic md5-smallest selection; counts partial-aggregate on
    the (a, b) key; the two directions merge with one full-outer join
    on the bounded pair table.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()

    def capped(df, key, other):
        if max_degree is None:
            return df
        w = Window.partitionBy(key).orderBy(
            F.md5(F.concat_ws("|", F.col(key), F.col(other))).asc()
        )
        return (
            df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_degree)
            .drop("_r")
        )

    # co-citation: middle = the citing doc (src), pairs over its dsts
    cin = capped(e, "src", "dst")
    x = cin.select(F.col("src").alias("mid"), F.col("dst").alias("a"))
    y = cin.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    coc = (
        x.join(y, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cocitation"))
    )
    # coupling: middle = the shared reference (dst), pairs over its srcs
    cout = capped(e, "dst", "src")
    u = cout.select(F.col("dst").alias("mid"), F.col("src").alias("a"))
    v = cout.select(F.col("dst").alias("mid"), F.col("src").alias("b"))
    cpl = (
        u.join(v, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("coupling"))
    )
    out = (
        coc.join(cpl, ["a", "b"], "full")
        .select(
            "a",
            "b",
            F.coalesce("cocitation", F.lit(0)).alias("cocitation"),
            F.coalesce("coupling", F.lit(0)).alias("coupling"),
        )
        .filter(
            (F.col("cocitation") >= min_count)
            | (F.col("coupling") >= min_count)
        )
    )
    return out


def maximal_matching(
    edges: DataFrame,
    max_rounds: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Parallel maximal matching, the edge-side sibling of luby_mis
    (Israeli-Itai style): each round every live edge draws an md5
    priority; an edge joins the matching iff its priority is strictly
    smallest among all live edges touching either endpoint; matched
    vertices (and their incident edges) leave.  Runs exactly
    ``max_rounds`` rounds; leftovers emit as ``undecided`` (size the
    rounds to the graph, expected O(log n)).

    -> (a, b, status, round): status in {matched, undecided}; the
    matched rows form a valid matching (vertex-disjoint) that is
    maximal when nothing is undecided.

    Scale shape: per round, one endpoint-keyed MIN aggregate over
    live edges (partial agg absorbs hub fan-in), one broadcast-able
    join of the two endpoint minima back to edges, and one anti-join
    to drop dead edges — checkpointed per supersteps.py.
    """
    live = (
        _undirected(edges)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    out = None
    for r in range(1, max_rounds + 1):
        pri = live.select(
            "a",
            "b",
            F.md5(
                F.concat_ws(
                    "|", F.col("a"), F.col("b"), F.lit(str(r)), F.lit(str(seed))
                )
            ).alias("_p"),
        )
        va = pri.select(F.col("a").alias("v"), "_p")
        vb = pri.select(F.col("b").alias("v"), "_p")
        vmin = (
            va.unionByName(vb)
            .groupBy("v")
            .agg(F.min("_p").alias("_mp"))
        )
        ma = vmin.select(F.col("v").alias("a"), F.col("_mp").alias("_ma"))
        mb = vmin.select(F.col("v").alias("b"), F.col("_mp").alias("_mb"))
        sel = (
            pri.join(ma, "a")
            .join(mb, "b")
            .filter((F.col("_p") == F.col("_ma")) & (F.col("_p") == F.col("_mb")))
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        rows = sel.select(
            "a", "b", F.lit("matched").alias("status"), F.lit(r).alias("round")
        )
        out = rows if out is None else out.unionByName(rows)
        matched_v = (
            sel.select(F.col("a").alias("v"))
            .unionByName(sel.select(F.col("b").alias("v")))
            .distinct()
        )
        live = (
            live.join(matched_v.select(F.col("v").alias("a")), "a", "left_anti")
            .join(matched_v.select(F.col("v").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if live.isEmpty():
            break
    und = live.select(
        "a",
        "b",
        F.lit("undecided").alias("status"),
        F.lit(None).cast("int").alias("round"),
    )
    return out.unionByName(und) if out is not None else und


def edge_embeddedness(
    edges: DataFrame,
    max_degree: int | None = None,
) -> DataFrame:
    """Per-edge embeddedness (Granovetter strength-of-ties): the
    number of common neighbors of an edge's endpoints; edges with
    embeddedness 0 are LOCAL BRIDGES — the weak ties that carry
    novel information between communities (and the first edges
    community-aware samplers protect).

    -> (a, b, embeddedness, is_local_bridge) for every canonical
    edge.

    Scale shape: one wedge self-join keyed on the middle vertex
    (the linkpred bound) counts common neighbors per vertex PAIR;
    one left join hands the counts back to the edge list (absent
    pair = 0).  ``max_degree`` caps hub middles via deterministic
    md5-smallest selection (stated df-cap trade).
    """
    und = _undirected(edges)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    if max_degree is not None:
        w = Window.partitionBy("u").orderBy(
            F.md5(F.concat_ws("|", F.col("u"), F.col("v"))).asc()
        )
        adj = (
            adj.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_degree)
            .drop("_r")
        )
    x = adj.select(F.col("u").alias("mid"), F.col("v").alias("a"))
    y = adj.select(F.col("u").alias("mid"), F.col("v").alias("b"))
    common = (
        x.join(y, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("_c"))
    )
    return und.join(common, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("_c", F.lit(0)).alias("embeddedness"),
        (F.coalesce("_c", F.lit(0)) == 0).alias("is_local_bridge"),
    )


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    max_hops: int = 3,
    decimals: int = 6,
) -> DataFrame:
    """Truncated Katz centrality (Katz 1953): x(v) = Σ_{k=1..K} α^k ·
    (# walks of length k ending at v) — attenuated walk counting,
    the centrality that credits distant influence where degree sees
    only neighbors; the K-truncation is the standard convergent
    prefix for α < 1/λ_max.

    Determinism: per-hop walk counts are exact integers; the α^k
    weights multiply at the end (9dp-rounded DECIMAL accumulation),
    so the score replays exactly.

    -> (id, walks_1..walks_K as a map-free wide row? no —
    (id, hop, walks) long form plus the rolled-up katz per id in
    every row would denormalize; emit (id, katz) plus the hop-1
    count (degree) for reference).

    Scale shape: K rounds of one src-keyed join + dst-keyed partial
    count each (walk counts, not paths — hub fan-in collapses
    map-side); round k's frame is the (vertex, count) table, never
    the corpus.
    """
    und = _adjacency(edges)
    verts = und.select(F.col("src").alias("id")).distinct()
    cur = und.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("w")
    )
    total = cur.select(
        "id",
        F.round(F.col("w") * F.lit(alpha), 9)
        .cast("decimal(28,9)")
        .alias("_k"),
        F.col("w").alias("degree"),
    )
    for hop in range(2, max_hops + 1):
        nxt = (
            cur.join(und, cur["id"] == und["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        total = (
            total.join(nxt, "id", "full")
            .select(
                "id",
                (
                    F.coalesce(
                        F.col("_k"), F.lit(0).cast("decimal(28,9)")
                    )
                    + F.round(
                        F.coalesce("w", F.lit(0)) * F.lit(alpha**hop), 9
                    ).cast("decimal(28,9)")
                ).alias("_k"),
                F.coalesce("degree", F.lit(0)).alias("degree"),
            )
        )
        cur = nxt
    return verts.join(total, "id", "left").select(
        "id",
        F.coalesce("degree", F.lit(0)).alias("degree"),
        F.round(
            F.coalesce(F.col("_k").cast("double"), F.lit(0.0)), decimals
        ).alias("katz"),
    )


def community_conductance(
    edges: DataFrame,
    assign: DataFrame,
    id_col: str = "id",
    comm_col: str = "community",
    decimals: int = 6,
) -> DataFrame:
    """Per-community conductance φ(S) = cut(S) / min(vol(S),
    vol(V∖S)) — the community-quality number that penalizes leaky
    boundaries where modularity rewards density; the standard accept/
    reject gate on lpa/slpa/cc output before canonicalization trusts
    a cluster.

    -> (community, n_nodes, volume, cut, conductance); NULL
    conductance for a community with zero volume.

    Scale shape: one degree aggregate + two assignment joins map
    each edge to (ca, cb); cut and volume are partial-agg sums over
    the bounded community key; total volume is a 1-row broadcast.
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    asg = assign.select(
        F.col(id_col).alias("v"), F.col(comm_col).alias("c")
    )
    vol = (
        deg.join(asg, "v")
        .groupBy("c")
        .agg(F.sum("deg").alias("volume"), F.count("*").alias("n_nodes"))
    )
    ea = und.join(
        asg.select(F.col("v").alias("a"), F.col("c").alias("_ca")), "a"
    ).join(asg.select(F.col("v").alias("b"), F.col("c").alias("_cb")), "b")
    cut_a = ea.filter(F.col("_ca") != F.col("_cb")).select(
        F.col("_ca").alias("c")
    )
    cut_b = ea.filter(F.col("_ca") != F.col("_cb")).select(
        F.col("_cb").alias("c")
    )
    cuts = cut_a.unionByName(cut_b).groupBy("c").agg(
        F.count("*").alias("cut")
    )
    tot = vol.agg(F.sum("volume").alias("_tv"))
    j = (
        vol.join(cuts, "c", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            "volume",
            F.coalesce("cut", F.lit(0)).alias("cut"),
            F.when(
                F.least(
                    F.col("volume"), F.col("_tv") - F.col("volume")
                )
                > 0,
                F.round(
                    F.coalesce("cut", F.lit(0))
                    / F.least(
                        F.col("volume"), F.col("_tv") - F.col("volume")
                    ),
                    decimals,
                ),
            ).alias("conductance"),
        )
    )
    return j


def degree_centralization(
    edges: DataFrame, decimals: int = 6
) -> DataFrame:
    """Freeman degree centralization of the whole graph: Σ(d_max -
    d_i) / ((n-1)(n-2)) — 0 for a cycle/regular graph, 1 for a
    perfect star; the one-number 'is this graph hub-dominated?'
    readout that decides whether the skew toolkit (salting, hub
    caps) must be on before any join touches it.

    -> one row (n_nodes, n_edges, max_degree, centralization);
    NULL for n < 3 (denominator undefined).

    Scale shape: one degree aggregate + one scalar aggregate.
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    m = und.count()
    agg = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("deg").alias("max_degree"),
        F.sum("deg").alias("_sd"),
    )
    n = F.col("n_nodes")
    c = F.when(
        n >= 3,
        F.round(
            (n * F.col("max_degree") - F.col("_sd"))
            / ((n - 1) * (n - 2)),
            decimals,
        ),
    )
    return agg.select(
        "n_nodes",
        F.lit(m).alias("n_edges"),
        "max_degree",
        c.alias("centralization"),
    )
