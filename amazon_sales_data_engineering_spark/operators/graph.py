"""Iterative graph operators: connected components for dedup clustering.

Near-dup PAIRS (MinHash / embedding-cosine) aren't enough to deduplicate a
corpus — transitively connected docs must collapse to one canonical keeper.
That's connected components over the pair graph, an inherently ITERATIVE
algorithm (no fixed-depth SQL expresses it for unbounded diameter).

Implementation: min-label propagation with pointer-doubling path
compression. Every node starts labeled with itself; each round a node
takes (a) the min label in its neighborhood, then (b) its label's own
label — the pointer-doubling step that collapses label chains
exponentially, so rounds needed ≈ O(log diameter) instead of O(diameter).
Each round is materialized with an eager ``localCheckpoint`` (lineage cut
— later rounds and the convergence probe read the checkpoint instead of
re-executing the whole history), and convergence is detected WITHOUT a
self-join: labels only ever decrease, so the exact decimal sum of all
labels is strictly decreasing until the fixpoint — one cheap aggregate
per round replaces the join+isEmpty probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .ckpt import release_local_checkpoint

#: Plan observer for audit tooling (tools/dump_plans.py). localCheckpoint
#: ERASES lineage — explain() on a returned fixpoint table shows only
#: `Scan ExistingRDD`, so PLANS.md could not show what an iterative
#: round actually executes (round-7 verdict #8). When set, each
#: iterative operator hands its round-body DataFrame here BEFORE the
#: lineage cut; the observer must only inspect the plan (explain), never
#: trigger an action. None in production — zero overhead.
PLAN_OBSERVER = None


def _ckpt(df: DataFrame, tag: str, eager: bool = True) -> DataFrame:
    """localCheckpoint with a pre-cut plan-observation hook."""
    if PLAN_OBSERVER is not None:
        PLAN_OBSERVER(tag, df)
    return df.localCheckpoint(eager=eager)


def _ckpt_probe(df: DataFrame, tag: str, probe: Column):
    """Eager localCheckpoint whose materializing job ALSO delivers the
    round's convergence probe via ``observe()`` — returns
    ``(checkpointed_df, probe_value)``.

    r12 (guide §1/§5): the lazy-checkpoint-then-probe pattern the round
    loops used (``_ckpt(..., eager=False)`` + ``count()``/``agg()``)
    costs TWO SQL executions per round — one materializing the
    checkpoint, one re-scanning the cached blocks for the probe — and
    at small scale the second is pure per-job scheduling floor
    (~0.1s/round measured). An ``observe`` node inside the checkpointed
    plan delivers the aggregate from the SAME job that materializes the
    blocks (verified: 1 SQL execution, observation consistent), so each
    round is now genuinely one job."""
    if PLAN_OBSERVER is not None:
        PLAN_OBSERVER(tag, df)
    obs = Observation()
    out = df.observe(obs, probe.alias("p")).localCheckpoint(eager=True)
    return out, obs.get["p"]


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    ordered: bool = False,
) -> DataFrame:
    """All within-group item pairs (the co-occurrence / co-purchase edge
    builder) generated IN-ROW: one map-side-combinable ``collect_set``
    per group, then a narrow ``explode`` of the k² pair array — no
    self-join. Versus the classic ``a JOIN b ON a.g = b.g`` this trades
    the sort-merge join machinery (two sorted shuffles + streamed merge)
    for one hash aggregate + a codegen'd array expansion; both shuffle
    the item table exactly once, but the in-row form skips both sorts
    and the join operator entirely — measured ~25% faster on the
    basket graph at sf0.1 (see BASELINE.md round-4 close).

    ``ordered=False`` emits BOTH orientations of every pair (u ≠ v) —
    feed to consumers that want a symmetric edge list (LPA with
    ``symmetric=True``); ``ordered=True`` emits each pair once (u < v).
    Pairs repeated across groups are emitted repeatedly; ``.distinct()``
    downstream (or the consumer's own dedup exchange) collapses them.

    PRECONDITION — bounded group size: the k² pair array for one group
    is materialized inside one row, so this is for groups of bounded
    cardinality (orders: ≤7 items; sessions, baskets, shingle windows).
    For unbounded/hub groups keep the streaming self-join, or cap the
    group first (frequency caps, as the dedup family does)."""
    pred = (
        (lambda s: s["src"] < s["dst"])
        if ordered
        else (lambda s: s["src"] != s["dst"])
    )
    basket = df.groupBy(group_col).agg(F.collect_set(item_col).alias("__it"))
    return (
        basket.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__it"),
                        lambda u: F.filter(
                            F.transform(
                                F.col("__it"),
                                lambda v: F.struct(
                                    u.alias("src"), v.alias("dst")
                                ),
                            ),
                            pred,
                        ),
                    )
                )
            ).alias("p")
        ).select("p.src", "p.dst")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (node, component) for every node appearing in an edge, where
    component = the minimum node id reachable from it. Converges in
    O(log diameter) rounds (pointer doubling); raises if ``max_iter``
    rounds don't converge. Node ids must be non-negative integers (the
    sum-based convergence probe relies on labels being monotonically
    non-increasing, which holds for any total order; the decimal cast
    keeps the sum exact at any node count)."""
    # Both orientations generated IN-ROW (explode of a 2-element array)
    # instead of a self-union: a union references ``edges`` twice, and
    # when the input is an expensive uncached plan (e.g. the bucketed
    # cosine self-join) both branches execute it independently inside
    # the setup job — a silent 2x of the candidate-generation cost. The
    # explode reads the input exactly once. The convergence-probe sum is
    # delivered by an observe() INSIDE each round's checkpoint job
    # (_ckpt_probe), so setup and each round cost ONE SQL execution each
    # — no separate probe re-scan of the cached blocks.
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    # repartition by v BEFORE distinct: hash partitioning on a subset of
    # the distinct keys satisfies its clustering requirement, so the
    # dedup runs in-partition and the checkpointed neighbor table comes
    # out v-partitioned — exactly what every round's label join
    # (join key: v) needs, so the big static side never re-shuffles.
    neighbors = both.repartition("v").distinct().localCheckpoint(eager=False)

    # Initial labels FUSE the first candidate pass: label0(u) =
    # min(u, min neighbor) comes out of the same u-keyed aggregate that
    # would otherwise just build the distinct node set — the 1-hop round
    # costs zero extra shuffles, so convergence needs one fewer loop
    # round (measured ~0.7s/round of almost pure stage overhead at the
    # bench scale, and one fewer full label-table shuffle at any scale).
    _probe = F.sum(F.col("label").cast("decimal(38,0)"))
    labels, prev_sum = _ckpt_probe(
        neighbors.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mv")).alias("label"),
        ),
        "connected_components initial labels",
        _probe,
    )  # one job: materializes neighbors + labels AND delivers the sum
    for _ in range(max_iter):
        # (a) candidate label per node: min over its own and neighbors' labels
        neighbor_labels = (
            neighbors.join(
                labels.withColumnRenamed("node", "v").withColumnRenamed(
                    "label", "v_label"
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("v_label").alias("n_label"))
            .withColumnRenamed("u", "node")
        )
        stepped = labels.join(neighbor_labels, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("n_label"), F.col("label"))
            ).alias("label"),
        )
        # (b) pointer doubling: label <- label(label). A label is always
        # a node id, so the lookup is a join on a label table. The lookup
        # table is the PREVIOUS round's ``labels`` — checkpoint blocks,
        # not the in-flight ``stepped`` plan: referencing ``stepped``
        # twice (as both probe and lookup) re-executes its join+aggregate
        # inside the same job (the round-4 double-reference trap, here in
        # intra-round form). Old labels are a valid accelerator: every
        # label is a reachable node id and label_old(l) <= l is itself
        # reachable, so monotone convergence and the fixpoint (and the
        # sum-probe termination test) are unchanged.
        parent = labels.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(parent, stepped["label"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
        )
        new_labels, cur_sum = _ckpt_probe(
            new_labels, "connected_components round", _probe
        )  # one job: materialize + probe (observe)
        # The previous round's blocks are dead once this round is
        # materialized — release them so long sessions / deep graphs
        # don't accumulate `rounds` cached label tables.
        release_local_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            release_local_checkpoint(neighbors)
            return labels.select(F.col("node"), F.col("label").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def pagerank_rounds(
    edges: DataFrame,
    n_rounds: int = 2,
    damping_pct: int = 85,
    scale: int = 10**15,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank in FIXED-POINT integer arithmetic, ``n_rounds``
    synchronous iterations from the uniform start, over the directed
    graph ``edges`` (nodes = every id appearing as src or dst).

    Ranks are maintained as integers in units of 1/``scale`` (default
    1e-15): pr0 = scale div N; each round

        pr' = (100-d)·scale div (100·N)  +  d · Σ_in (pr div outdeg) div 100

    with d = ``damping_pct``. Every operation is 64-bit integer multiply/
    divide/sum — bit-identical on any engine, immune to float summation
    order, and the aggregate stays map-side combinable (a plain integer
    SUM — no sorted folds, no decimal strings). Quantization error is
    bounded by outdeg ulps of 1e-15 per round — irrelevant at ranking
    precision. Headroom: d·Σpr ≤ 85·scale ≈ 8.5e16 < 2^63.

    Per round: one join of the edge list with the rank table (co-keyed
    on src) + one (dst)-keyed aggregate — the two-shuffle step that
    scales to billions of edges. Returns (node, pr_fixed BIGINT,
    pr DOUBLE) where pr = pr_fixed/scale (one exact-input division).
    """
    # The edge list feeds the degree aggregate, the node set, and one join
    # PER ROUND — callers pass expensive plans (distinct self-joins), so
    # materialize once.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # deg and the round's rank table are each REFERENCED TWICE PER ROUND
    # (contribution join + the left-join base); without a lineage cut the
    # lazy plan re-runs the node-distinct and every earlier round per
    # reference — measured 2-3x the whole query's cost at sf0.1. One
    # nodes-sized localCheckpoint per round pins each fixpoint state,
    # the same round discipline as connected_components.
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint()
    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))

    pr = nodes.crossJoin(F.broadcast(n)).select(
        "node",
        F.expr(f"CAST({scale} AS BIGINT) DIV n_nodes").alias("pr_fixed"),
        "n_nodes",
    ).localCheckpoint()
    teleport = f"({100 - damping_pct} * CAST({scale} AS BIGINT)) DIV (100 * n_nodes)"
    for _ in range(n_rounds):
        # shuffle_hash with the rank/degree tables as build side: the
        # persisted edge list now has an accurate (small-looking) size
        # estimate while the computed rank table's is unknown (huge), so
        # the planner would otherwise BROADCAST THE EDGES — correct only
        # by accident at toy scale and a driver OOM beyond it. SHJ keeps
        # both sides partitioned by src; AQE still handles skew.
        contrib = (
            e.join(
                pr.select(F.col("node").alias("src"), "pr_fixed").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .join(deg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("pr_fixed DIV outdeg").alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (
            pr.select("node", "n_nodes")
            .join(summed, "node", "left")
            .select(
                "node",
                F.expr(
                    f"{teleport} + ({damping_pct} * COALESCE(s, CAST(0 AS BIGINT))) DIV 100"
                ).alias("pr_fixed"),
                "n_nodes",
            )
        )
        pr = _ckpt(pr, "pagerank_rounds round")
    # Materialize the (nodes-sized) result, then release the edge cache —
    # returning a lazy plan over a still-persisted edge list leaks one
    # cached edge set per call (CacheManager only dedupes identical plans).
    out = pr.select(
        "node",
        "pr_fixed",
        (F.col("pr_fixed") / F.lit(float(scale))).alias("pr"),
    ).localCheckpoint()
    e.unpersist()
    return out


def personalized_pagerank_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 2,
    damping_pct: int = 85,
    scale: int = 10**15,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (random walk with restart to the SEED set)
    in the same fixed-point integer arithmetic as ``pagerank_rounds`` —
    the relevance/recommendation variant: mass teleports back to
    ``seeds`` (a DataFrame with one ``node`` column) instead of the
    uniform vector, so ranks measure proximity to the seeds, not global
    centrality.

    Differences from global PageRank, both exact and both load-bearing
    at scale:

    - start = scale div |S| on seeds, 0 elsewhere; teleport mass
      (100-d)·scale div (100·|S|) is added ONLY on seed rows.
    - rows with pr_fixed = 0 are filtered before the contribution join
      — a zero rank contributes exactly 0, so this is an identity, and
      it is the PPR frontier property: round r touches only nodes
      within r hops of a seed, so early-round shuffles are
      neighborhood-sized, not graph-sized (the reason PPR scales to
      huge graphs when the query is local).

    All other discipline (persisted edge list, shuffle_hash build-side
    pins, map-side-combinable integer SUM, nodes-sized output,
    localCheckpoint + cache release) is inherited. Returns (node,
    is_seed BOOLEAN, ppr_fixed BIGINT, ppr DOUBLE)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    # Union the seed set into the node universe: a seed with no edges
    # must still carry its teleport share (otherwise its slice of start
    # and restart mass silently vanishes while n_seeds still counts it).
    # Edge-endpoint nodes dominate the union, so this adds at most
    # |seeds| rows to a distinct that already shuffles the endpoints.
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .unionAll(seeds.select(F.col("node")))
        .distinct()
    )
    # Same per-round lineage-cut discipline as pagerank_rounds: deg and
    # each round's rank table are referenced twice per round, and the
    # rank chain would otherwise re-run the node-distinct + all earlier
    # rounds per reference.
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint()
    s = seeds.select("node").distinct()
    ns = s.agg(F.count(F.lit(1)).alias("n_seeds"))
    pr = (
        nodes.join(
            F.broadcast(s.withColumn("is_seed", F.lit(True))), "node", "left"
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.coalesce("is_seed", F.lit(False)).alias("is_seed"),
            F.when(
                F.col("is_seed"),
                F.expr(f"CAST({scale} AS BIGINT) DIV n_seeds"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("pr_fixed"),
            "n_seeds",
        )
        .localCheckpoint()
    )
    teleport = (
        f"({100 - damping_pct} * CAST({scale} AS BIGINT)) DIV (100 * n_seeds)"
    )
    for _ in range(n_rounds):
        contrib = (
            e.join(
                pr.filter(F.col("pr_fixed") > 0)
                .select(F.col("node").alias("src"), "pr_fixed")
                .hint("shuffle_hash"),
                "src",
            )
            .join(deg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("pr_fixed DIV outdeg").alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (
            pr.select("node", "is_seed", "n_seeds")
            .join(summed, "node", "left")
            .select(
                "node",
                "is_seed",
                F.expr(
                    f"CASE WHEN is_seed THEN {teleport} ELSE CAST(0 AS BIGINT) END"
                    f" + ({damping_pct} * COALESCE(s, CAST(0 AS BIGINT))) DIV 100"
                ).alias("pr_fixed"),
                "n_seeds",
            )
        )
        pr = _ckpt(pr, "personalized_pagerank round")
    out = pr.select(
        "node",
        "is_seed",
        F.col("pr_fixed").alias("ppr_fixed"),
        (F.col("pr_fixed") / F.lit(float(scale))).alias("ppr"),
    ).localCheckpoint()
    e.unpersist()
    return out


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the undirected graph ``edges``, via
    degree orientation (the MapReduce-era Suri–Vassilvitskii shape).

    Edges are first normalized to distinct (u < v) pairs, then oriented
    from the LOWER-(degree, id) endpoint to the higher: every node's
    out-degree is bounded by O(sqrt(|E|)) on any graph, so the wedge
    join — the quadratic step — touches sum(outdeg^2) ≈ |E|^1.5 pairs
    instead of sum(deg^2), which a high-degree hub would otherwise blow
    up (a celebrity node with 10^6 neighbors contributes 10^12 id-
    oriented wedges but only ~|E| degree-oriented ones). Each triangle
    is counted exactly once: its three nodes have a unique (deg, id)
    total order a < b < c and the wedge is generated only at a.

    The triangle for an oriented edge (a, b) closes on every common
    out-neighbor c in N+(a) ∩ N+(b); each triangle is found exactly once
    at its lowest-(deg, id) edge. Rather than materializing the wedge
    set through a shuffle (|E|^1.5 rows at worst), both endpoints' out-
    adjacency ARRAYS (each bounded to O(sqrt(|E|)) elements by the
    orientation) are joined onto the edge and intersected JVM-side
    within the row (``array_intersect``) — the quadratic work happens
    inside codegen over in-memory arrays, and the largest thing
    shuffled is |E| rows carrying two O(sqrt(|E|)) arrays.

    Shuffles: degree aggregate, two orientation joins, one adjacency
    groupBy, two edge–adjacency joins. All integers. Returns one row:
    (n_nodes, n_edges, n_triangles).
    """
    # The normalized edge set feeds FOUR subtrees (degrees, orientation,
    # n_edges, and through `oriented` the adjacency + closing joins) — an
    # upstream edge construction would re-execute per subtree without the
    # persist (CacheManager dedupes identical plans across calls).
    #
    # r11 NOTE (measured, then REVERTED): a variant skipped the
    # least/greatest+distinct pass for pre-normalized cached input and
    # took degrees from one groupBy over the symmetric cache. It saved
    # 6 MB of shuffle at sf0.1 (wall-neutral) but measured 1.8× SLOWER
    # at sf1 isolated (8.6s → 15.8s; 32.9s → 93.6s inside the sf1
    # mini-bench sitting where its spill also evicted the shared edge
    # cache ahead of pagerank). The materialized distinct's own
    # exchange is what gives the degree joins and the adjacency build
    # a freshly balanced, fully-partitioned base at scale — keep it.
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    with_deg = und.join(du, "u").join(dv, "v")
    # Orient low-(deg, id) -> high-(deg, id); carry the head's rank so the
    # wedge join can order its two heads without re-joining degrees.
    fwd = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("h"),
    ).persist()
    adj = oriented.groupBy("a").agg(F.collect_list("h").alias("nbrs"))
    # Inner joins drop edges whose head has no out-neighbors — those close
    # zero triangles, so the SUM is unaffected.
    # No join-strategy hints here (r11 lesson, measured): forcing
    # shuffle_hash made BOTH closing joins shuffle the O(sqrt(|E|))
    # adjacency arrays through every exchange (23 MB -> 355 MB of
    # shuffle at sf0.1); left alone, AQE broadcasts the adjacency side
    # when it fits and falls back to SMJ only above the threshold.
    tri = (
        oriented.join(adj.select(F.col("a"), F.col("nbrs").alias("nbrs_a")), "a")
        .join(
            adj.select(F.col("a").alias("h"), F.col("nbrs").alias("nbrs_h")),
            "h",
        )
        .select(
            F.size(F.array_intersect("nbrs_a", "nbrs_h")).alias("n_common")
        )
        .agg(F.coalesce(F.sum("n_common"), F.lit(0).cast("bigint")).alias("n_triangles"))
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    # `und`/`oriented` stay persisted on return: the caches are what let a
    # re-invocation on the same edge plan (bench best-of-2, dashboards)
    # skip the edge build, and CacheManager dedupes by plan so storage is
    # bounded by DISTINCT edge sets, not call count. Long-lived sessions
    # rotating many edge sets should spark.catalog.clearCache() between.
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling: repeatedly drop nodes with degree
    < k (and their edges), ``rounds`` times; return the surviving nodes
    with their residual degrees.

    Full k-core decomposition iterates to a fixpoint; the bounded-round
    profile is the deterministic, gate-comparable prefix (each round is
    a monotone edge-set shrink, so round r is identical no matter the
    execution order — and in practice a handful of rounds removes the
    overwhelming majority of sub-core nodes). Per round: one degree
    aggregate + two semi joins restricting edges to surviving endpoints
    — the same two-shuffle step as a PageRank round, O(|E|) per round.
    Each round is one job: an eager localCheckpoint (``_ckpt``,
    ``eager=True``) materializes the surviving edges (the first round also
    fills the lazily checkpointed input edge set), and only then is the
    PREVIOUS round's checkpoint released — executor storage holds at most
    two edge sets at any point instead of ``rounds``+1 (the round-2 leak:
    persist-per-round with no unpersist).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = und
    for _ in range(rounds):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keep = deg.filter(F.col("c") >= k).select("node")
        # one job: materialize this round (and, transitively, `cur`) —
        # eager checkpoint, no separate probe scan (r12, see _ckpt_probe)
        nxt = _ckpt(
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi"),
            "kcore_peel round", eager=True,
        )
        release_local_checkpoint(cur)
        cur = nxt
    out = (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    release_local_checkpoint(cur)
    return out


def edge_neighborhood_similarity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-edge neighborhood overlap — the classic link-prediction /
    community-strength features: for every existing undirected edge
    (u, v), the common-neighbor count and the neighborhood Jaccard
    |N(u)∩N(v)| / |N(u)∪N(v) \\ {u,v}|.

    Same in-row adjacency-intersection shape as ``triangle_count``:
    full adjacency arrays join onto each edge and intersect inside
    codegen — the per-edge work is deg(u)+deg(v), i.e. Σdeg² overall,
    so hub degrees dominate cost; callers on power-law graphs cap or
    sample hub adjacencies first (common neighbors THROUGH a hub are
    usually the least informative features anyway). Jaccard is one
    integer division; edges whose endpoints have no other neighbors
    yield NULL (0/0).

    Output: (u, v, common, deg_u, deg_v, nb_jaccard), u < v.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    both = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # NOTE (r11): persisting adj here (it feeds both join sides) was
    # MEASURED SLOWER (7.8 vs 7.0s at sf0.1) — materializing the full
    # adjacency-array cache costs more than the second 2|E| aggregate.
    adj = both.groupBy("u").agg(
        F.collect_list("v").alias("nbrs"), F.count(F.lit(1)).alias("deg")
    )
    j = (
        und.join(
            adj.select(
                F.col("u"),
                F.col("nbrs").alias("nbrs_u"),
                F.col("deg").alias("deg_u"),
            ),
            "u",
        )
        .join(
            adj.select(
                F.col("u").alias("v"),
                F.col("nbrs").alias("nbrs_v"),
                F.col("deg").alias("deg_v"),
            ),
            "v",
        )
    )
    common = F.size(F.array_intersect("nbrs_u", "nbrs_v"))
    denom = F.col("deg_u") + F.col("deg_v") - F.lit(2) - common
    out = j.select(
        "u",
        "v",
        common.cast("bigint").alias("common"),
        F.col("deg_u").cast("bigint").alias("deg_u"),
        F.col("deg_v").cast("bigint").alias("deg_v"),
        F.when(denom > 0, common.cast("double") / denom.cast("double")).alias(
            "nb_jaccard"
        ),
    ).localCheckpoint()
    und.unpersist()
    return out


def label_propagation_rounds(
    edges: DataFrame,
    n_rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    symmetric: bool = False,
    prepartitioned_distinct: bool = False,
) -> DataFrame:
    """Synchronous label propagation (community detection), ``n_rounds``
    bounded rounds over the undirected graph ``edges``.

    Every node starts labeled with itself; each round every node adopts
    the most frequent label among its neighbors, ties broken by MINIMUM
    label — a deterministic total order, which is what makes bounded-
    round LPA gate-comparable at all (classic LPA breaks ties randomly
    and is therefore not reproducible). Synchronous update: round r+1
    reads only round r's labels, so the result is independent of
    execution order.

    Shuffle diet (round-4): the edge list is hash-partitioned by the
    join key ``v`` ONCE and persisted — a CACHED plan keeps its
    outputPartitioning (localCheckpoint does NOT: its LogicalRDD
    reports UnknownPartitioning and every round would re-exchange the
    edges), so each round's edge⋈labels join re-exchanges only the
    NODE-sized label table, never the edge list. The dedup rides the
    same exchange: HashPartitioning(v) satisfies the distinct's
    ClusteredDistribution(u, v) — same v ⇒ same partition — so
    repartition-then-dropDuplicates is ONE edge shuffle, not two.
    Per round the moving data is: labels by v (node-sized) plus ONE
    u-clustered shuffle of map-side-combined ``mode`` states ({label:
    count} maps, ≤ the rows an explicit (u, label) histogram would
    carry, shrinking as communities coalesce) — versus the naive
    2×edge-sized round. ``mode(label, deterministic=True)`` IS the LPA
    update rule (max count, ties to minimum) in a single aggregate, so
    the histogram + argmax pair of shuffles collapses to one. Returns
    (node, label) for every node with at least one edge.

    ``symmetric=True`` declares the input already contains BOTH
    orientations of every edge (true for any self-join pair builder,
    e.g. the co-purchase graph) — the symmetrize union is skipped,
    halving the one-time edge exchange.

    ``prepartitioned_distinct=True`` (requires ``symmetric=True``)
    declares the input is ALREADY a distinct edge set hash-partitioned
    by ``src`` — the shared session-cached co-purchase table's shape.
    Then the edge list never re-exchanges at all (r11, guide §2.1):
    aliasing (u, v) := (dst, src) is a set-identity on a symmetric
    edge set, and the alias-aware Project turns the cache's
    hashpartitioning(src) into hashpartitioning(v) — exactly the
    clustering the per-round join needs — so the one-time
    repartition-by-v + no-op dedup + second in-memory copy all
    disappear (measured 51 MB / 3.4M rows of build shuffle at sf0.1).
    """
    n_parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if prepartitioned_distinct:
        if not symmetric:
            raise ValueError(
                "prepartitioned_distinct requires symmetric=True: the "
                "alias swap is only edge-set-preserving when both "
                "orientations are present"
            )
        e = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        owns_cache = False
    else:
        both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        if not symmetric:
            both = both.unionByName(
                edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            )
        e = (
            both.repartition(n_parts, "v")
            .dropDuplicates(["u", "v"])
            .persist()
        )
        owns_cache = True
    # Round 1 from identity labels degenerates exactly: every neighbor
    # carries a distinct label (its own id), so all counts are 1 and the
    # (count desc, label asc) argmax IS min(neighbor) — one aggregate
    # instead of the join + (node,label)-count + argmax chain. The
    # generic step below takes over from round 2.
    labels = e.groupBy("u").agg(F.min("v").alias("label")).withColumnRenamed(
        "u", "node"
    )
    for _ in range(n_rounds - 1):
        # shuffle_hash pins the label table as build side: the
        # checkpointed edge list carries an accurate (small-looking) size
        # estimate while the computed label table's is unknown, so the
        # planner would otherwise BROADCAST THE EDGES — a driver OOM on
        # any real graph (same trap documented in pagerank_rounds).
        #
        # mode(vl, deterministic=True) IS the LPA update rule — most
        # frequent value, ties to the LOWEST — as one TypedImperative
        # aggregate, so the round is a single u-clustered shuffle of
        # map-side-combined {label: count} states instead of the
        # two-level (u, vl)-histogram + argmax chain (two shuffles).
        # Per-group state is bounded by u's distinct neighbor labels,
        # exactly the rows the histogram shuffle would have carried.
        labels = (
            e.join(
                labels.select(
                    F.col("node").alias("v"), F.col("label").alias("vl")
                ).hint("shuffle_hash"),
                "v",
            )
            .groupBy("u")
            .agg(F.mode("vl", True).alias("label"))
            .withColumnRenamed("u", "node")
        )
    out = _ckpt(labels, "label_propagation rounds (full lazy chain)")
    if owns_cache:
        e.unpersist()
    return out


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first distances from ``seeds`` (a DataFrame with a single
    ``node`` column) over the DIRECTED edge list, bounded at ``max_depth``
    hops. Returns (node, dist) with dist = the minimum hop count <=
    max_depth; unreachable nodes are absent.

    Frontier algorithm: each round expands only the PREVIOUS frontier
    (nodes first reached last round) through one src-keyed equi-join,
    anti-joins away already-settled nodes, and unions into the settled
    set — so every edge is traversed at most once per endpoint discovery
    and the per-round shuffle is O(frontier boundary), not O(settled).
    Each round's new frontier goes through ``_ckpt_probe``: one job
    eagerly localCheckpoints it and, through an ``observe`` inside the
    checkpointed plan, also returns its row count. An empty frontier
    exits early; otherwise the settled set plus the frontier is eagerly
    checkpointed (a second job) and the previous settled set and frontier
    are released."""
    settled = (
        seeds.select(F.col("node"), F.lit(0).cast("int").alias("dist"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = settled
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("node"))
    for depth in range(1, max_depth + 1):
        # shuffle_hash on the frontier side: same per-round edge-cache
        # broadcast pathology (and fix) as sssp_rounds below.
        nxt = (
            frontier.select(F.col("node").alias("u"))
            .hint("shuffle_hash")
            .join(e, "u")
            .select("node")
            .distinct()
            .join(settled, "node", "left_anti")
            .select("node", F.lit(depth).cast("int").alias("dist"))
        )
        # one job: materialize + probe (observe inside the checkpoint)
        nxt, n_new = _ckpt_probe(nxt, "bfs round", F.count(F.lit(1)))
        if n_new == 0:
            release_local_checkpoint(frontier)
            break
        new_settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        release_local_checkpoint(settled)
        release_local_checkpoint(frontier)
        settled, frontier = new_settled, nxt
    return settled


def sssp_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted single-source shortest distances over the DIRECTED edge
    list, bounded at ``rounds`` relaxations (Bellman-Ford). Returns
    (node, dist) with dist = the minimum path cost over paths of <=
    ``rounds`` edges; unreachable nodes are absent. Integer weights ->
    integer dists (deterministic, engine-portable).

    Delta-stepping-style FRONTIER relaxation: each round expands only
    the nodes whose distance improved last round (classic result: after
    k frontier rounds the table equals k full relaxations — a node
    settled earlier already propagated its final distance), so per-round
    work is O(edges out of the improved set), not O(rounds x graph).
    Two shuffles per round (candidate min-combine + improvement
    anti-join); ONE job per round — the improvement-count probe, whose
    computation also (lazily) materializes the previous round's merged
    distance table, so the merge never gets its own action. A table is
    released only after the probe that consumed it, two rounds later
    (unpersisting a lazily-localCheckpointed input before its dependents
    materialize would force a truncated-lineage replay); at most two
    superseded tables are in flight at any time. Early exit when no
    distance improves."""
    dist = (
        seeds.select(F.col("node"), F.lit(0).cast("bigint").alias("dist"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = dist
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("node"),
        F.col(weight).cast("bigint").alias("w"),
    )
    to_release: list[DataFrame] = []
    for _ in range(rounds):
        # shuffle_hash on the FRONTIER side (r12, guide §3): the
        # checkpointed frontier has unknown (huge) stats while the
        # cached edge table's estimate sits under the broadcast
        # threshold, so the planner re-BROADCAST the whole edge cache
        # every round (measured: 2.39M rows / 128 MiB, ~0.7s/round at
        # sf0.1). The hint makes the node-sized frontier the build
        # side; the edge side's exchange is elided against the cache's
        # src(=u) hash partitioning (the LPA pattern), so per-round
        # cost is one tiny frontier shuffle + an in-place probe of the
        # cached edges. Scale-safe where a frontier broadcast is not:
        # the build side is frontier/n_partitions, and edges never move.
        cand = (
            frontier.select(F.col("node").alias("u"), "dist")
            .hint("shuffle_hash")
            .join(e, "u")
            .groupBy("node")
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        # one job per round: materializes `improved` AND (as its join
        # input) the previous round's lazy merged `dist`, and the same
        # job delivers the improvement count via observe (_ckpt_probe).
        improved, n_improved = _ckpt_probe(
            cand.join(dist.withColumnRenamed("dist", "old"), "node", "left")
            .filter(F.col("old").isNull() | (F.col("cand") < F.col("old")))
            .select("node", F.col("cand").alias("dist")),
            "sssp round (relax + improvement anti-join)",
            F.count(F.lit(1)),
        )
        for old in to_release:
            release_local_checkpoint(old)
        to_release = []
        if n_improved == 0:
            release_local_checkpoint(frontier)
            break
        new_dist = (
            dist.join(improved, "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=False)
        )
        # dist/frontier feed the still-unmaterialized new_dist — release
        # them only after the next probe (or the caller's action) runs.
        to_release = [dist] if frontier is dist else [dist, frontier]
        dist, frontier = new_dist, improved
    return dist


def triangle_counts_per_node(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over the undirected graph —
    (node, deg, n_tri): together they give the local clustering
    coefficient 2*n_tri / (deg*(deg-1)), the link-analysis feature
    behind community cores and spam-graph detection. Integer outputs.

    Same degree-oriented in-row intersection as ``triangle_count``
    (wedge work bounded O(|E|^1.5) under any hub skew, intersections in
    codegen); the difference is attribution: each oriented edge (a, h)
    credits |N+(a) ∩ N+(h)| triangles to BOTH endpoints and one to each
    closing node c — an explode of the (bounded) intersection array —
    so every triangle is counted exactly once per member node."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    # deg is referenced THREE times in one plan (du, dv, the final
    # output join): uncached, the 2|E| union + shuffle executed three
    # times per call (r11). |V|-sized cache, released below.
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    with_deg = und.join(du, "u").join(dv, "v")
    fwd = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("h"),
    )
    adj = oriented.groupBy("a").agg(F.collect_list("h").alias("nbrs"))
    closed = (
        oriented.join(adj.select(F.col("a"), F.col("nbrs").alias("nbrs_a")), "a")
        .join(
            adj.select(F.col("a").alias("h"), F.col("nbrs").alias("nbrs_h")),
            "h",
        )
        .select("a", "h", F.array_intersect("nbrs_a", "nbrs_h").alias("common"))
        .filter(F.size("common") > 0)
    )
    # Both credit streams — |common| to each oriented endpoint, 1 to
    # each closing node — come out of ONE explode per closed wedge:
    # [(a,|c|), (h,|c|)] ++ [(x,1) for x in common]. The previous form
    # persisted `closed` (the intersection ARRAYS materialized into
    # cache) only to run two separate passes + a union over it; fusing
    # the passes removes the cache round-trip and runs the expensive
    # intersection stage exactly once (r11 — same integer credit
    # multiset, same sums).
    credits = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("a").alias("node"), F.size("common").alias("c")
                    ),
                    F.struct(
                        F.col("h").alias("node"), F.size("common").alias("c")
                    ),
                ),
                F.transform(
                    F.col("common"),
                    lambda x: F.struct(
                        x.alias("node"), F.lit(1).alias("c")
                    ),
                ),
            )
        ).alias("s")
    ).select(F.col("s.node").alias("node"), F.col("s.c").alias("c"))
    n_tri = credits.groupBy("node").agg(
        F.sum("c").cast("bigint").alias("n_tri")
    )
    out = (
        deg.join(n_tri, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce(F.col("n_tri"), F.lit(0).cast("bigint")).alias("n_tri"),
        )
        .filter(F.col("deg") >= 2)
        # Cut lineage off the cached inputs so they can be released now —
        # without this, repeated calls in a long session leak cached
        # blocks (the siblings in this file all unpersist the same way).
        .localCheckpoint()
    )
    und.unpersist()
    deg.unpersist()
    return out


def bipartite_hits_rounds(
    edges: DataFrame,
    n_rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (hubs & authorities) over a BIPARTITE directed edge list in
    fixed-point integer arithmetic: hubs live on the ``src`` side,
    authorities on the ``dst`` side (the classic bipartite use —
    customers who buy widely vs parts bought by strong buyers), so the
    two score tables stay keyed by their own id space and never need a
    unified node set.

    Each round is the textbook pair of mutual-reinforcement updates
    h(u) = Σ_{u→v} a(v) then a(v) = Σ_{u→v} h(u), each a src- or
    dst-keyed join + map-side-combinable integer SUM — the same
    two-shuffle step as a PageRank round. After every half-round the
    scores are renormalized to milli-units by the side's MAX (integer
    floor division on non-negative operands — no cross-engine '//'
    trap), which keeps every operand ≤ 1000·degree: bounded at any
    scale, no float, no libm. Each state table is localCheckpointed
    (the PageRank-family lineage-cut discipline — every table is
    referenced by the next half-round AND the normalization max).
    Returns (side 'hub'|'authority', id, score_milli)."""
    if n_rounds < 1:
        raise ValueError(
            f"bipartite_hits_rounds requires n_rounds >= 1 (hub scores "
            f"only exist after the first half-round), got {n_rounds}"
        )
    e = edges.select(F.col(src).alias("c"), F.col(dst).alias("p")).persist()

    def _norm(df, key):
        # Checkpoint the SUM table FIRST: it is referenced twice (the
        # max aggregate and the normalized projection), and without the
        # cut each reference re-runs the half-round's join+aggregate —
        # the same double-reference trap fixed in pagerank_rounds. The
        # normalized output is then a narrow map over the checkpoint
        # and needs no second materialization.
        df = _ckpt(df, "hits half-round")
        m = df.agg(
            F.greatest(F.max("s"), F.lit(1).cast("bigint")).alias("m")
        )
        return df.crossJoin(F.broadcast(m)).select(
            key, F.expr("(s * 1000) DIV m").alias("score")
        )

    a = e.select("p").distinct().select(
        "p", F.lit(1000).cast("bigint").alias("score")
    ).localCheckpoint()
    h = None
    for _ in range(n_rounds):
        h = _norm(
            e.join(a.hint("shuffle_hash"), "p")
            .groupBy("c")
            .agg(F.sum("score").alias("s")),
            "c",
        )
        a = _norm(
            e.join(h.hint("shuffle_hash"), "c")
            .groupBy("p")
            .agg(F.sum("score").alias("s")),
            "p",
        )
    out = (
        h.select(
            F.lit("hub").alias("side"),
            F.col("c").alias("id"),
            F.col("score").alias("score_milli"),
        )
        .unionByName(
            a.select(
                F.lit("authority").alias("side"),
                F.col("p").alias("id"),
                F.col("score").alias("score_milli"),
            )
        )
        .localCheckpoint()
    )
    e.unpersist()
    return out
