"""Graph operators over edge DataFrames.

The reference has no graph surface (its only dataflow is stateless
routing, TopologyProducer.kt:84-202); these are LLM-pipeline / analytics
extensions in the Pregel shape: each round is one edges⋈ranks equi-join
plus a dst-keyed aggregation — the formulation that partitions by node
key and survives any edge count.

Driven by queries.graph_pagerank, which is oracle-checked against
unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterative import materialize, resolve_reliable

RANK_SCALE = 1_000_000_000_000  # 10^12 fixed-point rank units


def pagerank(
    edges: DataFrame,
    rounds: int = 3,
    dangling: bool = False,
    reliable: bool | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-point PageRank (damping 0.85) over `edges(src, dst)`.

    All arithmetic is int64 floor division — contribution
    (85·r) DIV (100·outdeg), teleport (15·SCALE) DIV (100·N) — so ranks
    are exact integers: no float accumulation order to diverge between
    engines or runs.

    `dangling=True` redistributes the rank mass held by sink nodes
    (no out-edges) uniformly each round: every node additionally gains
    (85·Σ dangling r) DIV (100·N). The dangling-node set is static and
    materialized once; the per-round mass is a 1-row aggregate joined
    back by broadcast (no shuffle added). `dangling=False` keeps the
    documented drop-the-mass simplification.

    Deep iteration: every `checkpoint_every` rounds the rank relation is
    checkpointed through operators/iterative.py (lineage truncation +
    plan-stats reset; reliable checkpoint when a checkpoint dir is
    configured — see that module). The plain update references ranks
    ONCE per round, so shallow nesting is cheap and the default engages
    only for rounds > 4; the dangling update references ranks twice
    (contribution join + mass aggregate), so unmaterialized rounds
    double the recomputed work each level — there `checkpoint_every=1`
    measures ~30% faster at 5 rounds and is the right setting. Returns
    (node, r).
    """
    reliable = resolve_reliable(edges.sparkSession, reliable)
    # edges/nodes/outd are referenced in EVERY round — without lineage
    # truncation Spark recomputes the caller's upstream plan (a join +
    # distinct for the purchase graph) once per reference. strip=False:
    # static relations checkpointed once keep their honest stats (no
    # round-over-round compounding — iterative.py docstring).
    edges = materialize(edges, reliable, strip=False)
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
        strip=False,
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outd = materialize(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")),
        reliable,
        strip=False,
    )
    if dangling:
        dang_nodes = materialize(
            nodes.join(outd, nodes["node"] == outd["src"], "left_anti"),
            reliable,
            strip=False,
        )
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{RANK_SCALE} DIV n").alias("r")
    )
    teleport = f"{15 * RANK_SCALE // 100} DIV n"
    for i in range(rounds):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outd, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * r) DIV (100 * d)").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        base = nodes.join(inflow, "node", "left").crossJoin(F.broadcast(nn))
        if dangling:
            dm = (
                ranks.join(dang_nodes, "node")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("dm"))
            )
            ranks = base.crossJoin(F.broadcast(dm)).select(
                "node",
                (
                    F.expr(teleport)
                    + F.expr("(85 * dm) DIV (100 * n)")
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("r"),
            )
        else:
            ranks = base.select(
                "node",
                (
                    F.expr(teleport) + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("r"),
            )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < rounds:
            ranks = materialize(ranks, reliable)
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    canonical edges (s1 < s2, no duplicates) → (node, n_triangles) for
    every node in at least one triangle.

    Algorithm: DEGREE ORIENTATION (the standard skew bound for
    distributed triangle counting — e.g. Suri & Vassilvitskii, WWW'11):
    each undirected edge is directed from its lower-(degree, id)
    endpoint to the higher, giving an acyclic orientation where
    max out-degree is O(sqrt(|E|)) regardless of hub skew. Wedges are
    then pairs of out-edges of one node (bounded per node by that
    out-degree, NOT by raw degree — a hub with a million neighbors does
    not produce a million² wedge candidates), and each triangle is
    counted exactly once when the wedge (v, w) closes via the oriented
    edge v→w.

    Plan: deg aggregation (one shuffle on node), two broadcast-free
    equi-joins — wedge join on src, closing join on (src=v, dst=w) —
    then a per-role union + count. Everything integer; the (deg, id)
    orientation key is packed into one BIGINT so both engines compare
    identically.

    The edge relation is materialized up front: it appears ~9× in the
    final plan (deg twice, keyed once, the oriented relation three
    times — wedge×2 + closing), so an expensive caller-side projection
    (the co-purchase cap + threshold chain) would otherwise re-evaluate
    per reference; the canonical edge list is the SMALL relation here
    by construction."""
    reliable = resolve_reliable(edges.sparkSession, None)
    edges = materialize(
        edges.select("s1", "s2"), reliable, strip=False
    )
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionAll(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    key = lambda d, n: d * F.lit(100_000_000).cast("long") + n  # noqa: E731
    keyed = (
        edges.join(deg.withColumnRenamed("node", "s1"), "s1")
        .withColumnRenamed("d", "d1")
        .join(
            deg.select(F.col("node").alias("s2"), F.col("d").alias("d2")),
            "s2",
        )
        .select(
            "s1",
            "s2",
            key(F.col("d1"), F.col("s1")).alias("k1"),
            key(F.col("d2"), F.col("s2")).alias("k2"),
        )
    )
    o = keyed.select(
        F.when(F.col("k1") < F.col("k2"), F.col("s1"))
        .otherwise(F.col("s2"))
        .alias("src"),
        F.when(F.col("k1") < F.col("k2"), F.col("s2"))
        .otherwise(F.col("s1"))
        .alias("dst"),
        F.greatest("k1", "k2").alias("dst_key"),
    )
    w1 = o.select("src", F.col("dst").alias("v"), F.col("dst_key").alias("vk"))
    w2 = o.select("src", F.col("dst").alias("w"), F.col("dst_key").alias("wk"))
    wedges = w1.join(w2, "src").filter(F.col("vk") < F.col("wk"))
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select(
        F.col("src").alias("u"), "v", "w"
    )
    nodes = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    symmetrize_distinct: bool = True,
) -> DataFrame:
    """Bounded-hop BFS shortest paths from a source set over an
    UNDIRECTED graph given as directed `edges(src, dst)` (both
    orientations are added here): returns (node, dist) with dist =
    min hops from any source, for every node within `rounds` hops.

    Frontier-style level-synchronous BFS: round r joins the CURRENT
    frontier (nodes first reached at r−1) against the edge list,
    dedups the neighbor set, and anti-joins the visited relation — so
    per-round work is O(edges incident to the frontier), never
    O(|V|·rounds), and first-discovery order IS min-distance (the
    level-synchronous invariant). Every shuffle keys on node. Both the
    visited set and frontier are materialized per round through the
    iterative shell — the frontier is referenced twice (neighbor join +
    next round's anti-join), so an unmaterialized loop re-embeds the
    upstream plan exponentially (same 5^R blowup documented on k_core).

    The relational oracle is a depth-bounded recursive CTE with a
    MIN(dist) rollup — the same fixpoint by different means.

    `symmetrize_distinct=False` skips the dedup shuffle in the
    undirected symmetrization (see betweenness_sampled: correct when
    the input is distinct and the src/dst id ranges are disjoint)."""
    reliable = resolve_reliable(edges.sparkSession, None)
    e = edges.select("src", "dst")
    und = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if symmetrize_distinct:
        und = und.distinct()
    und = materialize(und, reliable, strip=False)
    dist = materialize(
        sources.select("node").distinct().withColumn(
            "dist", F.lit(0).cast("int")
        ),
        reliable,
        strip=False,
    )
    frontier = dist.select("node")
    for r in range(1, rounds + 1):
        nbrs = (
            und.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nbrs.join(dist.select("node"), "node", "left_anti").withColumn(
            "dist", F.lit(r).cast("int")
        )
        dist = materialize(dist.unionAll(new), reliable)
        frontier = dist.filter(F.col("dist") == r).select("node")
    return dist


def bfs_hops_labeled(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    symmetrize_distinct: bool = True,
) -> DataFrame:
    """Per-SEED bounded-hop BFS over the undirected graph: returns
    (seed, node, dist) with dist = min hops from that SPECIFIC seed —
    the labeled generalization of bfs_hops (whose dist is min over the
    whole source SET). The closeness/harmonic-centrality substrate:
    per-seed distances are exactly what the centrality sums need.

    Same level-synchronous frontier shape, with (seed, node) as the
    composite identity everywhere: round r joins the frontier to the
    edge list on the node key, dedups (seed, neighbor), and anti-joins
    the per-seed visited relation on BOTH columns. Per-round work is
    O(frontier-incident edges × 1) and state is O(Σ_seed |reached_s|) —
    linear in seeds, which is why callers pass a BOUNDED seed set
    (landmark/pivot closeness, the standard approximation at scale:
    exact closeness needs all-pairs). Every shuffle keys on node or
    (seed, node); materialized per round through the iterative shell
    like bfs_hops (frontier referenced twice per round).

    `symmetrize_distinct=False` skips the dedup shuffle in the
    undirected symmetrization (see betweenness_sampled: correct when
    the input is distinct and the src/dst id ranges are disjoint)."""
    reliable = resolve_reliable(edges.sparkSession, None)
    e = edges.select("src", "dst")
    und = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if symmetrize_distinct:
        und = und.distinct()
    und = materialize(und, reliable, strip=False)
    dist = materialize(
        sources.select("node")
        .distinct()
        .select(
            F.col("node").alias("seed"),
            F.col("node"),
            F.lit(0).cast("int").alias("dist"),
        ),
        reliable,
        strip=False,
    )
    frontier = dist.select("seed", "node")
    for r in range(1, rounds + 1):
        nbrs = (
            und.join(frontier.withColumnRenamed("node", "src"), "src")
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        new = nbrs.join(
            dist.select("seed", "node"), ["seed", "node"], "left_anti"
        ).withColumn("dist", F.lit(r).cast("int"))
        dist = materialize(dist.unionAll(new), reliable)
        frontier = dist.filter(F.col("dist") == r).select("seed", "node")
    return dist


def k_core(
    edges: DataFrame, k: int = 2, rounds: int = 3, converge: bool = False
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected graph given as
    canonical edges (s1 < s2, no duplicates): each round drops every
    node whose CURRENT degree is < k and restricts the edge set to the
    survivors; returns (node, degree) on the subgraph after `rounds`
    peels. A bounded number of synchronous rounds (like the PageRank /
    label-propagation queries) keeps the result a pure function of the
    input so a relational oracle can unroll it; full-convergence k-core
    just loops until no node drops (each round strictly shrinks the
    graph, so it terminates).

    ``converge=True`` (r8) runs exactly that fixpoint: peel until an
    entire round removes no edge, ignoring ``rounds``. The loop guard
    is a ``count()`` on the just-materialized edge set — free relative
    to the materialization itself, and the edge count is a valid
    fixpoint witness (a dropped node always loses ≥1 incident edge, so
    |E| unchanged ⟺ no node dropped ⟺ degrees unchanged). Termination:
    |E| strictly decreases every non-final round, so ≤|E₀| rounds; real
    graphs converge in O(degeneracy) rounds. The result is the true
    k-core, what a 100 TB user wants — the fixed-round variant exists
    for the relational oracle, which must unroll the loop.

    Scale: per round one map-side-combinable degree agg + two semi-
    restricting equi-joins on the shrinking edge set — monotone work,
    no round can exceed the previous one's |E|. Each round's edge set is
    MATERIALIZED through the iterative shell: the lazy tree references
    e{r-1} three times per round (degree union x2 + the restricting
    join), so an unmaterialized loop re-embeds the upstream plan ~5^R
    times — the measured symptom was 37 s for R=3 at sf0.01 vs ~8 s
    materialized. The classic use here: prune low-connectivity nodes
    before quadratic-ish community or similarity passes."""
    from .iterative import materialize, resolve_reliable

    reliable = resolve_reliable(edges.sparkSession, None)
    e = materialize(edges.select("s1", "s2"), reliable, strip=False)
    n_edges = e.count() if converge else None
    r = 0
    while True:
        if converge:
            if n_edges == 0:
                break
        elif r >= rounds:
            break
        r += 1
        deg = (
            e.select(F.col("s1").alias("node"))
            .unionAll(e.select(F.col("s2").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        e = materialize(
            e.join(keep.withColumnRenamed("node", "s1"), "s1")
            .join(keep.withColumnRenamed("node", "s2"), "s2")
            .select("s1", "s2"),
            reliable,
        )
        if converge:
            prev, n_edges = n_edges, e.count()
            if n_edges == prev:
                break
    return (
        e.select(F.col("s1").alias("node"))
        .unionAll(e.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


HITS_SCALE = 1_000_000_000  # 10^9 fixed-point hub/authority units
# 10^9 (not PageRank's 10^12) because the normalization step multiplies
# a raw score (≤ total mass ≈ SCALE) by SCALE before the floor divide:
# 10^9·10^9 = 10^18 stays inside int64; 10^12 would overflow.


def hits(
    edges: DataFrame,
    rounds: int = 2,
    reliable: bool | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed-point HITS (Kleinberg hubs & authorities) over
    `edges(src, dst)`: per round, authority(v) = Σ_{u→v} hub(u) then
    hub(u) = Σ_{u→v} authority(v), each half-step sum-normalized back to
    SCALE total mass with int64 floor division — so scores are exact
    integers, no float accumulation order to diverge between engines,
    and the DuckDB oracle is the same rounds unrolled as CTEs
    (L1/sum normalization instead of the classical L2: same fixed point
    direction, but closed under integer arithmetic — sqrt would leave
    the exact-integer contract).

    On a bipartite purchase graph (customers→suppliers) authorities
    rank suppliers by weighted demand and hubs rank customers by how
    much of that demand they originate — the link-analysis quality
    signal crawl-based corpus curation uses next to PageRank.

    Scale: each half-step is one edges⋈scores equi-join + a keyed agg
    (shuffle on node key, same as pagerank); the normalization total is
    a 1-row aggregate broadcast — no extra shuffle. Precondition:
    `edges` must be DISTINCT (src, dst) pairs — the normalization
    multiply `a * SCALE` stays inside int64 only while per-node in-mass
    a ≤ SCALE, which holds for distinct edges but not for duplicated
    rows (they multiply a and silently overflow under non-ANSI
    arithmetic). Dedupe upstream like the registered `graph_hits` query
    does; documented here instead of paying a redundant .distinct()
    shuffle inside the operator (the weighted_pagerank w ≤ ~10^5
    convention). Scores are
    checkpointed every round by default: each round references the
    previous scores twice (authority + hub updates), so unmaterialized
    rounds double recomputed work per level (the pagerank-dangling
    lesson, operators/iterative.py). Returns (node, hub, auth)."""
    reliable = resolve_reliable(edges.sparkSession, reliable)
    edges = materialize(edges, reliable, strip=False)
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
        strip=False,
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    hubs = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{HITS_SCALE} DIV n").alias("h")
    )
    auth = None
    for i in range(rounds):
        a_raw = nodes.join(
            edges.join(hubs, edges.src == hubs.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("a_in")),
            nodes.node == F.col("dst"),
            "left",
        ).select("node", F.coalesce("a_in", F.lit(0)).alias("a"))
        at = a_raw.agg(F.sum("a").alias("t"))
        auth = a_raw.crossJoin(F.broadcast(at)).select(
            "node", F.expr(f"(a * {HITS_SCALE}) DIV t").alias("a")
        )
        # NOTE (r16): the final round's auth is referenced twice (hub
        # half-step + output join), but both references are identical
        # subtrees in ONE executed plan and AQE exchange reuse dedupes
        # them — an eager materialize here measured flat with +3 jobs
        # per run (probe record in OPTIMIZATION_r16.md). Left lazy.
        h_raw = nodes.join(
            edges.join(auth, edges.dst == auth.node)
            .groupBy("src")
            .agg(F.sum("a").alias("h_out")),
            nodes.node == F.col("src"),
            "left",
        ).select("node", F.coalesce("h_out", F.lit(0)).alias("h"))
        ht = h_raw.agg(F.sum("h").alias("t"))
        hubs = h_raw.crossJoin(F.broadcast(ht)).select(
            "node", F.expr(f"(h * {HITS_SCALE}) DIV t").alias("h")
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < rounds:
            hubs = materialize(hubs, reliable)
            auth = materialize(auth, reliable)
    return hubs.join(auth, "node").select(
        "node", F.col("h").alias("hub"), F.col("a").alias("auth")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    reliable: bool | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Personalized PageRank (damping 0.85) over `edges(src, dst)` with
    teleport restricted to `seeds(node)` — rank mass flows outward from
    a trusted seed set instead of uniformly, which is the
    TrustRank-style quality-propagation primitive crawl curation uses
    to score hosts by proximity to known-good seeds (and, inverted, to
    find spam neighborhoods).

    Same int64 fixed-point contract as pagerank: initial rank
    SCALE DIV |seeds| on seeds (0 elsewhere), per-round teleport
    (15·SCALE) DIV (100·|seeds|) to seeds only, contribution
    (85·r) DIV (100·outdeg) along edges, dangling mass dropped (the
    documented base-pagerank simplification). Ranks are exact integers;
    the oracle unrolls identical CTEs.

    Scale: identical plan shape to pagerank — per round one
    edges⋈ranks equi-join + dst-keyed agg; the seed set is a broadcast
    flag join (bounded). Returns (node, r) — nodes unreachable from the
    seeds hold rank 0."""
    reliable = resolve_reliable(edges.sparkSession, reliable)
    edges = materialize(edges, reliable, strip=False)
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
        strip=False,
    )
    seed_nodes = materialize(
        nodes.join(
            seeds.select(F.col("node").alias("node")).distinct(), "node"
        ),
        reliable,
        strip=False,
    )
    # seeds ∩ nodes = ∅ would make the teleport terms RANK_SCALE DIV 0
    # → NULL ranks propagating silently under non-ANSI mode; fail loud
    # instead (seed_nodes is already materialized, so head(1) is free).
    if not seed_nodes.head(1):
        raise ValueError(
            "personalized_pagerank: no seed appears in the edge set "
            "(seeds ∩ nodes is empty) — ranks would be NULL everywhere"
        )
    ns = seed_nodes.agg(F.count(F.lit(1)).alias("ns"))
    flagged = nodes.join(
        F.broadcast(seed_nodes.withColumn("is_seed", F.lit(True))),
        "node",
        "left",
    ).select("node", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
    ranks = flagged.crossJoin(F.broadcast(ns)).select(
        "node",
        F.when(F.col("is_seed"), F.expr(f"{RANK_SCALE} DIV ns"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    outd = materialize(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")),
        reliable,
        strip=False,
    )
    flagged = materialize(flagged, reliable, strip=False)
    for i in range(rounds):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outd, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * r) DIV (100 * d)").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            flagged.join(inflow, "node", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "node",
                (
                    F.when(
                        F.col("is_seed"),
                        F.expr(f"{15 * RANK_SCALE // 100} DIV ns"),
                    )
                    .otherwise(F.lit(0))
                    .cast("long")
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("r"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < rounds:
            ranks = materialize(ranks, reliable)
    return ranks


def weighted_pagerank(
    edges: DataFrame,
    rounds: int = 3,
    reliable: bool | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank over WEIGHTED edges `edges(src, dst, w)` — rank mass
    splits along out-edges in proportion to integer edge weight
    (purchase counts, link counts, citation counts) instead of
    uniformly: contribution = (85·r·w) DIV (100·W_out). Same int64
    fixed-point contract as pagerank (with r ≤ 10^12 and w ≤ ~10^5 the
    85·r·w product stays under int64), dangling mass dropped, same
    per-round join+agg plan with the weighted out-degree as one extra
    bounded relation. Returns (node, r)."""
    reliable = resolve_reliable(edges.sparkSession, reliable)
    edges = materialize(edges, reliable, strip=False)
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
        strip=False,
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = materialize(
        edges.groupBy("src").agg(F.sum("w").alias("wt")),
        reliable,
        strip=False,
    )
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{RANK_SCALE} DIV n").alias("r")
    )
    teleport = f"{15 * RANK_SCALE // 100} DIV n"
    for i in range(rounds):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * r * w) DIV (100 * wt)").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.expr(teleport)
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("r"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < rounds:
            ranks = materialize(ranks, reliable)
    return ranks


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    scale: int = 1 << 20,
    symmetrize_distinct: bool = True,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001 with a bounded seed
    set and hop bound — the standard scale approximation: exact
    betweenness is all-pairs): per seed, a level-synchronous BFS that
    carries SIGMA (shortest-path counts — sigma_d(v) = Σ sigma over
    level-(d-1) predecessors, exact int64), then the backward dependency
    sweep from the deepest level,

        delta(v) = Σ_{w : dist(w)=dist(v)+1, (v,w)∈E}
                       sigma(v) · (scale + delta(w)) DIV sigma(w)

    in integer fixed-point (each (v,w) term is one exact integer
    division; the per-node sum is order-insensitive, so both engines
    reproduce it bit-for-bit — the float form pins neither). Output:
    (node, bc_fp) = Σ over seeds of delta, nodes with positive
    dependency only (leaves and untouched nodes are exact zeros).

    Scale: forward state is O(Σ per-seed reach) like bfs_hops_labeled —
    linear in the BOUNDED seed count; sigma rides the same (seed, node)
    rows at no extra shuffle. The backward sweep is one
    level-(d)⋈edges⋈level-(d+1) equi-join per level (successor pairs
    only — no all-pairs), keyed on (seed, node) throughout. Every level
    is materialized through the iterative shell; rounds is small and
    fixed so the plan never stacks.

    `symmetrize_distinct=False` skips the dedup shuffle in the
    undirected symmetrization: correct whenever the input edge set is
    already distinct AND no reversed pair can collide with a forward
    pair (e.g. a bipartite encoding whose src and dst id ranges are
    disjoint). For a 1M-edge graph that is one full-relation shuffle
    saved before the first BFS round; at cluster scale it removes the
    largest single exchange in the operator."""
    reliable = resolve_reliable(edges.sparkSession, None)
    e = edges.select("src", "dst")
    und = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if symmetrize_distinct:
        und = und.distinct()
    und = materialize(und, reliable, strip=False)
    level0 = materialize(
        sources.select("node")
        .distinct()
        .select(
            F.col("node").alias("seed"),
            F.col("node"),
            F.lit(1).cast("long").alias("sigma"),
        ),
        reliable,
        strip=False,
    )
    levels = [level0]
    # visited is a plain union of the already-checkpointed level frames:
    # every leaf is materialized, so the union plan never compounds and
    # needs no checkpoint job of its own (3 fewer driver actions).
    visited = level0.select("seed", "node")
    for _ in range(1, rounds + 1):
        nxt = (
            und.join(
                levels[-1].withColumnRenamed("node", "src"), "src"
            )
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["seed", "node"], "left_anti")
        )
        nxt = materialize(nxt, reliable, strip=False)
        levels.append(nxt)
        visited = visited.unionAll(nxt.select("seed", "node"))
    # backward dependency sweep: deepest level has delta = 0
    delta = levels[-1].select(
        "seed", "node", F.lit(0).cast("long").alias("delta")
    )
    out = None
    for d in range(rounds - 1, 0, -1):
        succ = delta.select(
            "seed",
            F.col("node").alias("w"),
            "delta",
        ).join(
            levels[d + 1].select(
                "seed", F.col("node").alias("w"), "sigma"
            ),
            ["seed", "w"],
        )
        pairs = (
            levels[d]
            .withColumnRenamed("sigma", "sigma_v")
            .join(und.withColumnRenamed("src", "node"), "node")
            .join(
                succ.withColumnRenamed("w", "dst").withColumnRenamed(
                    "sigma", "sigma_w"
                ),
                ["seed", "dst"],
            )
        )
        dlevel = pairs.groupBy("seed", "node").agg(
            F.sum(
                F.expr(f"sigma_v * ({scale} + delta) DIV sigma_w")
            ).alias("delta")
        )
        # nodes of this level with no successor pair hold delta = 0:
        # a left join + coalesce references the aggregate subplan ONCE
        # (the former anti-join + unionAll shape computed it twice) and
        # mirrors the oracle's `d LEFT JOIN dl USING (seed, node)` CTE.
        dlevel = materialize(
            levels[d]
            .select("seed", "node")
            .join(dlevel, ["seed", "node"], "left")
            .select(
                "seed",
                "node",
                F.coalesce(F.col("delta"), F.lit(0).cast("long")).alias(
                    "delta"
                ),
            ),
            reliable,
            strip=False,
        )
        out = dlevel if out is None else out.unionAll(dlevel)
        delta = dlevel
    if out is None:
        return level0.select("node").limit(0).withColumn(
            "bc_fp", F.lit(0).cast("long")
        )
    return (
        out.groupBy("node")
        .agg(F.sum("delta").alias("bc_fp"))
        .filter(F.col("bc_fp") > 0)
    )
