"""Link-graph analytics over crawl edges: PageRank.

The crawler's links table IS a web graph (reference: the outlink rows
walker persists per fetch, cassandra/schema.go links table); ranking
domains/URLs by link structure is the canonical analytics pass over
that data (seed prioritization, spam down-weighting).

Spark-first iterative shape: the edge table is the only large input
and it is scanned once per iteration through a hash join keyed on the
source node; per-iteration global scalars (dangling mass) ride the
plan as a broadcast one-row aggregate — no driver collect inside the
loop — and each iteration ends in exactly ONE localCheckpoint job
(same contract as dedup.connected_components).

Cross-engine exactness: ranks live in integer micro-units and the
damping factor is a rational number (num/den, default 17/20 = 0.85).
Every per-edge contribution is an integer division, so the
aggregation is a sum of exact integers — order-invariant on any
partitioning and bit-identical in the DuckDB oracle. No float exists
anywhere in the recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: rank unit: initial rank per node, in micro-units
MICRO = 1_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact-integer PageRank with dangling-mass redistribution.

    Recurrence (all integer arithmetic, ``den > num > 0``)::

        r_0(v)    = MICRO
        base      = (MICRO * (den - num)) div den          # teleport
        dang_i    = sum of r_i(u) over nodes with outdeg 0
        share_i   = (dang_i * num) div (den * N)           # per node
        r_{i+1}(v)= base + share_i
                    + sum over edges (u -> v), outdeg(u) > 0, of
                        (r_i(u) * num) div (den * outdeg(u))

    Duplicate edges count once each (a page linking twice votes
    twice); nodes are the union of edge endpoints — an isolated node
    with no edges at all is not ranked. Returns ``(node, rank_micro)``
    with ``rank_micro`` BIGINT; divide by 1e6 for the conventional
    scale. Total mass is conserved up to the deterministic floor
    losses, which is exactly what the oracle replays.

    Scale shape: ``N`` is materialized once as a driver scalar (one
    count job — the node table itself is never collected); the node
    table (node, outdeg) is checkpointed once and reused every
    iteration; each iteration is one shuffle keyed on the edge source
    plus one aggregation keyed on the destination, with the dangling
    scalar attached as a broadcast one-row cross join. Rank values
    stay within int64 for any N * MICRO below 2^63 / num (~5 * 10^11
    nodes at the default damping).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("damping must satisfy 0 < num < den")
    num, den = damping_num, damping_den

    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg, "node", "left")
        .select("node", F.coalesce("outdeg", F.lit(0).cast("long")).alias("outdeg"))
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        spark = edges.sparkSession
        return spark.createDataFrame([], "node long, rank_micro long")

    ranks = nodes.select(
        "node", "outdeg", F.lit(MICRO).cast("long").alias("rank_micro")
    )
    for _ in range(iterations):
        # ONE localCheckpoint job per iteration; truncates lineage
        ranks = _pagerank_step(nodes, e, ranks, n_nodes, num, den).localCheckpoint()
    return ranks.select("node", "rank_micro")


def _pagerank_step(
    nodes: DataFrame,
    e: DataFrame,
    ranks: DataFrame,
    n_nodes: int,
    num: int,
    den: int,
) -> DataFrame:
    """One un-checkpointed PageRank iteration — the exact plan the loop
    materializes (factored out so explain_plans.py asserts the REAL
    iteration plan shape, not a reconstruction)."""
    base = (MICRO * (den - num)) // den
    # dangling mass as a broadcast one-row aggregate riding the plan
    # (claim.py A1 precedent) — no driver collect in the loop
    dang = ranks.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("rank_micro"), F.lit(0).cast("long")).alias("_dang")
    )
    contrib = (
        ranks.filter(F.col("outdeg") > 0)
        .join(e, ranks["node"] == e["src"])
        .select(
            F.col("dst").alias("node"),
            F.expr(f"(rank_micro * {num}L) div ({den}L * outdeg)").alias("_c"),
        )
        .groupBy("node")
        .agg(F.sum("_c").alias("_in"))
    )
    return (
        nodes.join(contrib, "node", "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "node",
            "outdeg",
            (
                F.lit(base).cast("long")
                + F.expr(f"(_dang * {num}L) div ({den}L * {n_nodes}L)")
                + F.coalesce("_in", F.lit(0).cast("long"))
            ).alias("rank_micro"),
        )
    )


def degree_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node in/out degree over the edge list (one exchange per
    direction, merged on the node key): ``(node, out_deg, in_deg)``.
    Duplicate edges count once each."""
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    o = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    i = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    return (
        o.join(i, "node", "full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0).cast("long")).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0).cast("long")).alias("in_deg"),
        )
    )


#: HITS score scale: L1-normalized to this total each half-step.
HITS_SCALE = 1_000_000_000


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999), exact-integer variant.

    Each iteration::

        auth_raw(v) = sum of hub(u) over edges u -> v
        auth(v)     = (auth_raw(v) * HITS_SCALE) div max(sum auth_raw, 1)
        hub_raw(u)  = sum of auth(v) over edges u -> v
        hub(u)      = (hub_raw(u) * HITS_SCALE) div max(sum hub_raw, 1)

    L1 normalization (not the classical L2) keeps every quantity an
    exact int64 — sums of integers are order-invariant, so scores are
    bit-identical on any partitioning and in the DuckDB oracle.
    ``hub_0 = HITS_SCALE`` for every node. Duplicate edges count once
    each. Returns ``(node, hub_score, auth_score)`` in scale units.

    Scale shape: per iteration, two hash joins keyed on the edge
    endpoints and two aggregations; each normalization total rides the
    plan as a broadcast one-row aggregate (no driver collect in the
    loop); ONE localCheckpoint job per iteration. int64 headroom:
    intermediate raw sums are bounded by HITS_SCALE * max_degree
    (~9 * 10^9 in-links at the default scale before overflow).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    state = nodes.select(
        "node",
        F.lit(HITS_SCALE).cast("long").alias("hub_score"),
        F.lit(0).cast("long").alias("auth_score"),
    )
    for _ in range(iterations):
        state = _hits_step(nodes, e, state).localCheckpoint()
    return state


def _hits_step(nodes: DataFrame, e: DataFrame, state: DataFrame) -> DataFrame:
    """One un-checkpointed HITS iteration (factored out so
    explain_plans.py asserts the real plan shape)."""

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(
            F.coalesce(F.sum("_raw"), F.lit(0).cast("long")).alias("_tot")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.expr(
                    f"(coalesce(_raw, 0L) * {HITS_SCALE}L) div greatest(_tot, 1L)"
                ).alias(col),
            )
        )

    auth_raw = (
        state.join(e, state["node"] == e["src"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("hub_score").alias("_raw"))
    )
    auth = _norm(auth_raw, "auth_score")
    hub_raw = (
        auth.join(e, auth["node"] == e["dst"])
        .groupBy(F.col("src").alias("node"))
        .agg(F.sum("auth_score").alias("_raw"))
    )
    hub = _norm(hub_raw, "hub_score")
    return hub.join(auth, "node").select("node", "hub_score", "auth_score")


def anchor_text_agg(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Inbound anchor-text aggregation — the classic web-relevance
    signal (anchor text describes the TARGET page; reference: the
    per-fetch outlink rows walker persists carry the link context):
    for each target node, the top ``k`` anchor strings by inbound link
    count, with the number of distinct linking sources per anchor and
    the node's total inbound links.

    Returns ``(node, rank, anchor, n_links, n_src, total_inlinks)`` —
    n_links counts every edge carrying that anchor, n_src distinct
    sources; ranking by (n_links desc, anchor asc) is deterministic.

    Scale shape: ONE exchange keyed on (dst, anchor) aggregates the
    edge stream (count + distinct-src two-phase, map-side partial);
    the per-node top-k window and the total-inlinks window then
    operate on the AGGREGATED (node, anchor) table — orders of
    magnitude smaller than the edge list (bounded by distinct anchor
    strings per page, not by inlink count, so even a 10^8-inlink hub
    costs one hot reduce key, not a hot window partition).
    """
    from pyspark.sql import Window

    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(anchor_col).cast("string").alias("anchor"),
    )
    agg = e.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("src").cast("long").alias("n_src"),
    )
    w_rank = Window.partitionBy("dst").orderBy(
        F.col("n_links").desc(), F.col("anchor").asc()
    )
    w_tot = Window.partitionBy("dst")
    return (
        agg.withColumn("total_inlinks", F.sum("n_links").over(w_tot))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("dst").alias("node"),
            "rank",
            "anchor",
            "n_links",
            "n_src",
            F.col("total_inlinks").cast("long").alias("total_inlinks"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Seed-personalized PageRank (random walk with restart to the
    seed set — the TrustRank shape, Gyöngyi et al. 2004): teleport
    mass and dangling mass return ONLY to the seeds, so rank measures
    closeness to the trusted set. The crawler-prioritization variant
    of :func:`pagerank` (seed-biased frontier ordering, spam
    down-weighting away from trusted hubs).

    Integer recurrence (``base = (MICRO * (den - num)) div den``,
    ``S`` = seeds present in the graph; seeds not in the edge set are
    ignored)::

        r_0(v)     = MICRO if v in S else 0
        share_i    = (dang_i * num) div (den * S)
        r_{i+1}(v) = [v in S] * (base + share_i)
                     + sum over edges (u -> v), outdeg(u) > 0, of
                         (r_i(u) * num) div (den * outdeg(u))

    Returns ``(node, rank_micro)``. Same scale shape as
    :func:`pagerank`: S and N are one-count driver scalars, the seed
    flag rides the checkpointed node table, dangling mass is a
    broadcast one-row aggregate, ONE localCheckpoint job/iteration.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("damping must satisfy 0 < num < den")
    num, den = damping_num, damping_den

    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    seed_set = seeds.select(
        F.col(seed_col).cast("long").alias("node")
    ).distinct().withColumn("_seed", F.lit(True))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg, "node", "left")
        .join(F.broadcast(seed_set), "node", "left")
        .select(
            "node",
            F.coalesce("outdeg", F.lit(0).cast("long")).alias("outdeg"),
            F.coalesce("_seed", F.lit(False)).alias("is_seed"),
        )
        .localCheckpoint()
    )
    n_seeds = nodes.filter(F.col("is_seed")).count()
    if n_seeds == 0:
        raise ValueError("no seed is present in the edge set")
    base = (MICRO * (den - num)) // den

    ranks = nodes.select(
        "node",
        "outdeg",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(MICRO).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("rank_micro"),
    )
    for _ in range(iterations):
        ranks = _ppr_step(nodes, e, ranks, n_seeds, num, den, base).localCheckpoint()
    return ranks.select("node", "rank_micro")


def _ppr_step(
    nodes: DataFrame,
    e: DataFrame,
    ranks: DataFrame,
    n_seeds: int,
    num: int,
    den: int,
    base: int,
) -> DataFrame:
    """One un-checkpointed personalized-PageRank iteration (factored
    out so explain_plans.py asserts the real iteration plan)."""
    dang = ranks.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("rank_micro"), F.lit(0).cast("long")).alias("_dang")
    )
    contrib = (
        ranks.filter(F.col("outdeg") > 0)
        .join(e, ranks["node"] == e["src"])
        .select(
            F.col("dst").alias("node"),
            F.expr(f"(rank_micro * {num}L) div ({den}L * outdeg)").alias("_c"),
        )
        .groupBy("node")
        .agg(F.sum("_c").alias("_in"))
    )
    return (
        nodes.join(contrib, "node", "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "node",
            "outdeg",
            "is_seed",
            (
                F.when(
                    F.col("is_seed"),
                    F.lit(base)
                    + F.expr(f"(_dang * {num}L) div ({den}L * {n_seeds}L)"),
                ).otherwise(F.lit(0).cast("long"))
                + F.coalesce(F.col("_in"), F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("rank_micro"),
        )
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph
    induced by the edge list (direction, duplicates, and self-loops
    dropped): ``(node, degree, triangles)``, all BIGINT.

    Degree-ordered node-iterator (Suri & Vassilvitskii, WWW 2011 — the
    "curse of the last reducer" fix; reference has no graph analytics,
    this is the LLM-pipeline link-graph tier): every edge is oriented
    from its lower endpoint to its higher endpoint in the total order
    (degree, node), so a degree-d hub only ever SOURCES wedges among
    higher-ordered neighbors — per-node wedge fan-out is bounded by
    O(sqrt(m)) choose 2 instead of d choose 2, which is the difference
    between a web-scale star domain finishing and its reduce task
    running forever. Wedges close via ONE equi-join back on the
    oriented edge key. Everything is plain joins/aggs — no Python, no
    nested loop; the oracle triple-joins the canonical edge table
    (u < v < w) in DuckDB and must agree exactly."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.a") == F.col("y.a")).where(
        (F.col("x.db") < F.col("y.db"))
        | ((F.col("x.db") == F.col("y.db")) & (F.col("x.b") < F.col("y.b")))
    ).select(
        F.col("x.a").alias("ta"),
        F.col("x.b").alias("tb"),
        F.col("y.b").alias("tc"),
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("tb"), F.col("b").alias("tc")),
        ["tb", "tc"],
        "left_semi",
    )
    per_node = (
        closed.select(F.col("ta").alias("node"))
        .unionAll(closed.select(F.col("tb").alias("node")))
        .unionAll(closed.select(F.col("tc").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )


def hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Minimum hop distance from a seed set — crawl depth.

    The question every crawl operator asks of the links table: how many
    link hops is each discovered URL from the seed list (reference: the
    frontier walker grows from its seed file, cmd/walker/seed — depth is
    the natural QA/prioritization metric over that growth). Classic
    frontier BFS, Spark-shaped:

    - only the CURRENT frontier joins the edge table each round (the
      settled-distance table is never re-expanded — distances are final
      the round they are assigned);
    - newly reached nodes = frontier-expansion minus already-settled
      (one anti-join);
    - the new-node count rides the round's single ``localCheckpoint``
      as an Observation (connected_components precedent: one Spark job
      per round, no extra count job), and the loop stops the first
      round that discovers nothing;
    - the settled table is a union of per-round checkpointed frontiers,
      so lineage stays one level deep.

    Returns ``(node, hops)`` BIGINT for REACHED nodes only (sparse
    contract — unreachable nodes are simply absent; seeds are hop 0).
    Duplicate edges are harmless (expansion is distinct). Directed:
    hops follow src -> dst. Exact integers end to end, so the DuckDB
    oracle (same recurrence unrolled one CTE per hop) matches
    bit-for-bit.
    """
    from pyspark.sql import Observation

    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint()
    frontier = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
        .localCheckpoint()
    )
    settled = frontier
    for hop in range(1, max_hops + 1):
        nxt = _bfs_round(frontier, e, settled, hop)
        obs = Observation()
        nxt = nxt.observe(obs, F.count(F.lit(1)).alias("new")).localCheckpoint()
        if obs.get["new"] == 0:
            break
        frontier = nxt
        settled = settled.unionAll(nxt)
    return settled


def _bfs_round(
    frontier: DataFrame, e: DataFrame, settled: DataFrame, hop: int
) -> DataFrame:
    """One un-checkpointed BFS expansion — only the frontier joins the
    edge table; settled rows are touched by the anti-join alone
    (factored out so explain_plans.py asserts the real round plan)."""
    return (
        frontier.join(e, frontier["node"] == e["src"])
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(settled.select("node"), "node", "left_anti")
        .select("node", F.lit(hop).cast("long").alias("hops"))
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    max_iterations: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core of the undirected simple graph: the maximal subgraph in
    which every node has degree >= k. Returns ``(node, degree)`` with
    the degree INSIDE the core (BIGINT), nodes outside the core absent.

    The standard peel: drop every node with degree < k, recompute,
    repeat to fixpoint (Seidman 1983; the link-graph trim that strips
    spam tendrils / isolated chains before expensive analytics). Each
    round is one degree aggregation and two hash semi-joins on the
    surviving edge set; the surviving-edge count rides the round's
    single ``localCheckpoint`` as an Observation, and an unchanged
    count IS the fixpoint (no node left the graph => no degree
    changed => done). Raises past ``max_iterations`` — a partially
    peeled graph is a silently-wrong core (connected_components
    contract).

    The fixpoint is idempotent, so the DuckDB oracle just unrolls a
    FIXED number of rounds >= the observed convergence; extra rounds
    are no-ops and the result is bit-identical.
    """
    from pyspark.sql import Observation

    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_edges = e.count()
    if prev_edges == 0:
        return edges.sparkSession.createDataFrame([], "node long, degree long")

    for _ in range(max_iterations):
        e2 = _kcore_round(e, k)
        obs = Observation()
        e2 = e2.observe(obs, F.count(F.lit(1)).alias("m")).localCheckpoint()
        m = obs.get["m"]
        e = e2
        if m == prev_edges:
            return _undirected_degrees(e)
        prev_edges = m
        if m == 0:
            return edges.sparkSession.createDataFrame([], "node long, degree long")
    raise RuntimeError(
        f"kcore did not reach a fixpoint within {max_iterations} rounds; "
        "raise max_iterations"
    )


def _undirected_degrees(e: DataFrame) -> DataFrame:
    """Per-node degree over a canonical (u < v) undirected edge set."""
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def _kcore_round(e: DataFrame, k: int) -> DataFrame:
    """One un-checkpointed peel round — degree agg + two hash
    semi-joins on the surviving edge set (factored out so
    explain_plans.py asserts the real round plan)."""
    keep = _undirected_degrees(e).filter(F.col("degree") >= k).select("node")
    return (
        e.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
        .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
        .select("u", "v")
    )


def host_graph(
    edges: DataFrame,
    node_host: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    host_col: str = "host",
) -> DataFrame:
    """Collapse the URL-level link graph to the host level: map both
    endpoints through the ``(node, host)`` table, drop intra-host
    self-loops, and weight each host pair by its link count —
    ``(src_host, dst_host, weight)`` with weight BIGINT.

    The first aggregate every crawl report draws (who links to whom,
    at domain granularity — reference keeps links keyed by dom
    precisely so this rollup is cheap). Two hash joins on the node key
    then one (src_host, dst_host)-keyed aggregation with map-side
    partials; at web scale the host table is the small side and both
    joins broadcast."""
    sm = node_host.select(
        F.col(node_col).cast("long").alias("src"),
        F.col(host_col).alias("src_host"),
    )
    dm = node_host.select(
        F.col(node_col).cast("long").alias("dst"),
        F.col(host_col).alias("dst_host"),
    )
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    return (
        e.join(F.broadcast(sm), "src")
        .join(F.broadcast(dm), "dst")
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def resolve_redirects(
    hops: DataFrame,
    max_hops: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Collapse stored redirect hop rows into (url, final_url): where
    does each redirecting URL actually land.

    The crawler persists one link row per redirect hop with
    ``redto_url`` pointing forward (reference datastore.go:416-436 via
    fetch.redirect_link_rows); answering "what is the canonical target
    of this URL" means following those chains — bounded by the HTTP
    client's redirect limit (Go's net/http stops after 10 hops,
    fetcher.go CheckRedirect), with cycles and over-long chains
    reported as unresolved exactly like the live fetcher would error.

    Spark-shaped pointer DOUBLING, not step-by-step walking: the state
    table (url, cur, n) means "following n real edges from url lands
    at cur". Each round self-joins the state on ``cur == url`` — a row
    whose cur still has an outgoing pointer composes the two jumps
    (n doubles), a row whose cur is terminal freezes (the join misses).
    ceil(log2(max_hops)) + 1 rounds replace max_hops sequential joins —
    at 10^9 redirect rows each round is one shuffle, so round count is
    the scale cost and doubling makes it logarithmic. The
    advanced-row count rides each round's single ``localCheckpoint``
    as an Observation (connected_components precedent: one Spark job
    per round) and the loop stops early the first round nothing moves.

    Input rows with a duplicate ``src_col`` collapse deterministically
    to ``min(dst_col)`` (the links-table last-write-wins stand-in is
    upstream; this keeps the operator total on raw hop rows). Output:
    ``(url, final_url, n_hops, resolved)`` — for a chain that reaches
    a terminal URL within ``max_hops`` edges, final_url/n_hops are the
    landing URL and exact BIGINT edge count; cycles and chains longer
    than ``max_hops`` return (null, null, false). Exact integers end
    to end: the DuckDB oracle (a recursive CTE walked to the same
    limit) matches bit-for-bit.
    """
    from pyspark.sql import Observation

    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = (
        hops.groupBy(F.col(src_col).alias("url"))
        .agg(F.min(dst_col).alias("cur"))
    )
    state = e.select(
        "url", "cur", F.lit(1).cast("long").alias("n")
    ).localCheckpoint()
    span = 1  # rows still on a path have followed exactly `span` edges
    while span <= max_hops:
        nxt = _double_round(state)
        obs = Observation()
        nxt = nxt.observe(
            obs,
            F.coalesce(F.sum(F.col("_adv").cast("long")), F.lit(0)).alias("adv"),
        ).localCheckpoint()
        advanced = obs.get["adv"]
        state = nxt.drop("_adv")
        if advanced == 0:
            break  # every row frozen => every cur terminal
        span *= 2
    # Terminality of the landing node: cur has no outgoing pointer.
    # One equi join against the (deduped) source keys — broadcast-able
    # whenever the redirecting set is small, AQE decides.
    ekeys = e.select(F.col("url").alias("_k"))
    out = state.join(ekeys, state["cur"] == ekeys["_k"], "left")
    ok = F.col("_k").isNull() & (F.col("n") <= F.lit(max_hops))
    return out.select(
        "url",
        F.when(ok, F.col("cur")).alias("final_url"),
        F.when(ok, F.col("n")).alias("n_hops"),
        ok.alias("resolved"),
    )


def _double_round(state: DataFrame) -> DataFrame:
    """One un-checkpointed pointer-doubling round: the state self-joins
    on ``cur == url`` — a match composes the two jumps, a miss freezes
    the row at its terminal (factored out so explain_plans.py asserts
    the real round plan: one equi join, no Python)."""
    j = state.select(
        F.col("url").alias("j_url"),
        F.col("cur").alias("j_cur"),
        F.col("n").alias("j_n"),
    )
    return state.join(j, state["cur"] == j["j_url"], "left").select(
        "url",
        F.coalesce("j_cur", "cur").alias("cur"),
        (F.col("n") + F.coalesce("j_n", F.lit(0).cast("long"))).alias("n"),
        F.col("j_url").isNotNull().alias("_adv"),
    )


def lpa_communities(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan, Albert &
    Kumara 2007) over the undirected simple graph: every node starts
    as its own label and, each round, adopts the most frequent label
    among its NEIGHBORS — ties broken by the smallest label, so the
    whole run is deterministic pure-integer math. Returns
    ``(node, label)`` (both BIGINT); isolated nodes (absent from the
    edge set) are absent, the embedding_communities fill-in contract.

    Exactly ``iterations`` synchronous rounds are run (synchronous LPA
    can oscillate on bipartite-ish structures, so a fixpoint is not
    guaranteed — the fixed round count IS the semantics, and the
    DuckDB oracle unrolls the identical rounds). If the labels do
    converge early the loop stops — a converged round is idempotent,
    so the fixed-round oracle still matches bit-for-bit.

    Round shape (the plan a 10^10-edge link graph needs): labels hash-
    join the directed edge list on ``src`` (labels table is one row
    per node — orders of magnitude smaller than the edges it joins),
    one ``(dst, label)``-keyed count with map-side partials (a mega-
    hub is a hot REDUCE key, never a hot window partition), a per-node
    integer argmax via ``max(struct(cnt, -label))``, and one join back
    to the previous labels so the changed-label count rides the
    round's single ``localCheckpoint`` as an Observation (one job per
    round — the connected_components pattern).

    Reference parity note: walker has no graph analytics; this is the
    host/community clustering a crawl link graph feeds (same tier as
    pagerank/hits/kcore above, SURVEY.md training-data ops).
    """
    from pyspark.sql import Observation

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    ce = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    directed = (
        ce.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(ce.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        directed.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(iterations):
        nxt = _lpa_round(directed, labels)
        obs = Observation()
        nxt = nxt.observe(
            obs,
            F.sum((F.col("label") != F.col("_prev")).cast("long")).alias(
                "changed"
            ),
        ).localCheckpoint()
        changed = obs.get["changed"]
        labels = nxt.select("node", "label")
        if changed == 0:
            break
    return labels


def _lpa_round(directed: DataFrame, labels: DataFrame) -> DataFrame:
    """One un-checkpointed synchronous LPA round — factored out so
    explain_plans.py asserts the real round plan. Emits
    ``(node, label, _prev)``."""
    nbr = directed.join(
        labels.select(F.col("node").alias("src"), "label"), "src"
    ).select(F.col("dst").alias("node"), "label")
    counts = nbr.groupBy("node", "label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    best = counts.groupBy("node").agg(
        F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias(
            "m"
        )
    )
    return best.join(
        labels.select("node", F.col("label").alias("_prev")), "node"
    ).select("node", (-F.col("m.neg")).alias("label"), "_prev")


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a node partition (Newman & Girvan 2004)
    over the undirected simple graph — the quality score that makes
    the community tier self-auditing (``lpa_communities`` /
    ``embedding_communities`` emit partitions; this says whether they
    beat random). Exact integer form: with m undirected edges, e_c
    intra-community edges and d_c the community degree sum,

        Q * 4m^2 = sum over c of (4 m e_c - d_c^2)

    so ``q_ppm = (that sum) * 1e6 div 4m^2`` in DECIMAL(38,0) — no
    float anywhere (d_c^2 overflows BIGINT at web scale; the PMI
    DECIMAL precedent), truncation-div identical cross-engine for
    either sign (verified: DuckDB ``//`` truncates toward zero like
    Spark ``div``). Nodes missing from ``labels`` count as their own
    singleton community (coalesce node id), so the partition is
    always total. One row: ``(m, n_communities, intra_edges,
    q_ppm)``; an empty graph reports q_ppm = 0.

    Scale shape: canonicalize + distinct is one edge-keyed exchange;
    degrees and d_c are two-phase aggs; intra-edge counting joins the
    one-row-per-node label table onto each endpoint (labels are the
    SMALL side everywhere); m rides as a broadcast one-row scalar.
    Output is a single row — the rollup is reduce-side trivial."""
    src, dst = F.col(src_col), F.col(dst_col)
    ce = (
        edges.filter(src != dst)
        .select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .distinct()
    )
    m_df = ce.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    deg = (
        ce.select(F.col("u").alias("node"))
        .unionAll(ce.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    )
    full = deg.join(lab, "node", "left").select(
        "node", "deg", F.coalesce(F.col("label"), F.col("node")).alias("label")
    )
    dc = full.groupBy("label").agg(F.sum("deg").cast("long").alias("d_c"))
    la = full.select(F.col("node").alias("u"), F.col("label").alias("_lu"))
    lb = full.select(F.col("node").alias("v"), F.col("label").alias("_lv"))
    intra = (
        ce.join(la, "u")
        .join(lb, "v")
        .filter(F.col("_lu") == F.col("_lv"))
        .groupBy(F.col("_lu").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    per = (
        dc.join(intra, "label", "left")
        .select(
            "label",
            "d_c",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("e_c"),
        )
        .crossJoin(F.broadcast(m_df))
    )
    return per.groupBy("_m").agg(
        F.countDistinct("label").cast("long").alias("n_communities"),
        F.sum("e_c").cast("long").alias("intra_edges"),
        F.expr(
            "CAST(sum(CAST(4 AS DECIMAL(38,0)) * _m * e_c"
            " - CAST(d_c AS DECIMAL(38,0)) * d_c) AS DECIMAL(38,0))"
        ).alias("_q_num"),
    ).select(
        F.col("_m").alias("m"),
        "n_communities",
        "intra_edges",
        F.when(F.col("_m") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST((_q_num * 1000000) div"
                " (CAST(4 AS DECIMAL(38,0)) * _m * _m) AS BIGINT)"
            )
        )
        .alias("q_ppm"),
    )


def clustering_coefficients(
    edges: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998)
    — how tightly a node's neighborhood interlinks, the standard
    link-spam / community-density signal on a web graph:

        cc_ppm = 2 * triangles * 1e6 div (degree * (degree - 1))

    for degree >= 2, else 0. The numerator is DECIMAL(38,0): with
    triangles <= d(d-1)/2 it reaches 1e6 * d^2, which overflows BIGINT
    once a hub's degree passes ~3M (the result itself is <= 1e6).
    Returns ``(node, degree, triangles, cc_ppm)``. Pass ``counts=``
    (a :func:`triangle_counts` output) to project a precomputed count
    table instead of re-counting — the pipeline reuse precedent.

    Scale shape: everything beyond :func:`triangle_counts` is a
    zero-exchange projection."""
    if counts is None:
        if edges is None:
            raise ValueError("need edges or counts")
        counts = triangle_counts(edges, src_col, dst_col)
    return counts.select(
        "node",
        "degree",
        "triangles",
        F.when(F.col("degree") < 2, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(CAST(triangles AS DECIMAL(38,0)) * 2000000"
                " div (CAST(degree AS DECIMAL(38,0)) * (degree - 1)) AS BIGINT)"
            )
        )
        .alias("cc_ppm"),
    )


def graph_transitivity(
    edges: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Global transitivity + mean local clustering in one row:

        transitivity_ppm = 3 * total_triangles * 1e6 div wedges
        avg_cc_ppm       = sum(cc_ppm) div n_nodes

    with ``wedges = sum of d*(d-1)/2`` (every triangle closes 3
    wedges; per-node triangle counts sum each triangle 3 times, so
    total = sum(triangles) div 3 — kept as the sum form to stay pure
    integer). DECIMAL(38,0) for the wedge products (d^2 overflows
    BIGINT on a web-scale hub). Returns ``(n_nodes, sum_triangles,
    wedges, transitivity_ppm, avg_cc_ppm)``."""
    cc = clustering_coefficients(edges, src_col, dst_col, counts=counts)
    return cc.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("triangles").cast("long").alias("sum_triangles"),
        F.expr(
            "CAST(sum(CAST(degree AS DECIMAL(38,0)) * (degree - 1) div 2)"
            " AS DECIMAL(38,0))"
        ).alias("_wedges"),
        F.sum("cc_ppm").cast("long").alias("_cc_sum"),
    ).select(
        "n_nodes",
        "sum_triangles",
        F.col("_wedges").cast("long").alias("wedges"),
        F.when(F.col("_wedges") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(CAST(sum_triangles AS DECIMAL(38,0)) * 1000000"
                " div _wedges AS BIGINT)"
            )
        )
        .alias("transitivity_ppm"),
        F.when(F.col("n_nodes") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("CAST(_cc_sum div n_nodes AS BIGINT)"))
        .alias("avg_cc_ppm"),
    )
