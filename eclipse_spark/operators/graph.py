"""Graph operators on DataFrames — iterative link analysis without a
graph library.

The reference's MapReduce API is the classic substrate for iterative
graph jobs (chained MAP->REDUCE rounds over edge lists); here each
round is a declarative join+agg the optimizer can plan, and the loop
lives on the driver while every per-round data structure (edges,
degrees, ranks) stays distributed. Connected components (the other
iterative graph op) lives in :mod:`eclipse_spark.operators.dedup`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Distinct undirected item-item edges from co-occurrence inside a
    group (the market-basket projection: items sharing an order, words
    sharing a document, users sharing a session). Canonical form
    ``a < b``, one row per edge.

    Scale shape: the self-join is keyed on the group id, so pair
    fan-out is bounded by the largest group's size squared — for
    order-limited baskets (TPC-H caps lineitems per order at 7x2) this
    is a small constant per group, never a global cross join. The
    final distinct shuffles only (a, b) key pairs.
    """
    a = df.select(F.col(group_col).alias("_g"), F.col(item_col).alias("a")).distinct()
    b = a.select("_g", F.col("a").alias("b"))
    return (
        a.join(b, "_g")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def triangle_count(
    edges: DataFrame,
    broadcast_adjacency: bool | None = None,
    broadcast_limit_bytes: int = 64 << 20,
) -> DataFrame:
    """Exact global triangle count over an undirected edge list
    (columns ``a``, ``b``; direction ignored, self-loops dropped).

    Degree-oriented compact-forward algorithm: orient every edge from
    the endpoint with smaller (degree, id) to the larger — a strict
    total order, so orientation is acyclic and caps every OUT-degree
    at O(sqrt(m)) — then build per-node out-adjacency arrays and count
    ``|N+(u) ∩ N+(v)|`` for each oriented edge u->v with a codegen
    array_intersect. Each triangle x<y<z (in orientation order) is
    counted exactly once, at its x->y edge.

    Why not materialize wedges and join them against the edge list?
    The wedge set is sum(outdeg^2)-sized — measured 41M rows for the
    1.2M-edge sf0.1 co-order graph (59 s locally) — and every wedge
    crosses a shuffle. The adjacency form shuffles only the edge list
    (once, to build arrays) and evaluates the intersection inside
    whole-stage codegen; the arrays stay O(sqrt(m)) elements by the
    orientation bound, so the row width is bounded on power-law
    graphs too.

    Join strategy is SIZE-AWARE by default (``broadcast_adjacency=
    None``): the adjacency estimate ``|V|*32 + |E|*16`` bytes (row +
    array-element overhead) is compared against
    ``broadcast_limit_bytes`` — broadcast only when it fits. Broadcast
    is the measured small/medium-graph win (2.9 s vs 22 s sort-merge
    on the 1.2M-edge sf0.1 graph, because SMJ must sort rows carrying
    O(sqrt(m))-element array payloads), but |V| rows of O(sqrt(m))
    arrays cannot sit in every executor at 100 TB — there the
    partitioned join keyed on the node id is the only correct shape,
    so the estimate-driven default fails SAFE at scale. Pass
    ``True``/``False`` to pin a strategy. NOTE: the auto default runs
    the estimate as an EAGER scalar-aggregate job at plan-build time
    (deg re-derives from the persisted edge set — one cheap pass);
    pinning a strategy keeps plan construction fully lazy.

    Returns a single row (n_nodes, n_edges, n_triangles).
    """
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient: src = endpoint with smaller (deg, id); ties broken by id
    # so the orientation is a strict total order (acyclic).
    with_deg = e.join(da, "a").join(db, "b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).persist()
    # lazily checkpointed (r14): adj feeds BOTH intersection sides and
    # each side otherwise re-runs the collect_list aggregate over the
    # cached oriented edges (no cross-subtree CSE) — the first consumer
    # materializes it, the second reuses the RDD
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=False)
    )
    if broadcast_adjacency is None:
        est = deg.agg(
            F.count("*").alias("n"), F.sum("deg").alias("s")
        ).collect()[0]
        est_bytes = (est["n"] or 0) * 32 + (est["s"] or 0) * 8
        broadcast_adjacency = est_bytes <= broadcast_limit_bytes
    # partitioned fallback prefers hash join over sort-merge: SMJ sorts
    # rows carrying O(sqrt(m))-element array payloads (measured 2x)
    maybe_bc = (
        F.broadcast
        if broadcast_adjacency
        else (lambda df: df.hint("shuffle_hash"))
    )
    tri = (
        oriented.join(
            maybe_bc(adj.select(F.col("src").alias("_u"), F.col("nbrs").alias("_nu"))),
            F.col("src") == F.col("_u"),
        )
        .join(
            maybe_bc(adj.select(F.col("src").alias("_v"), F.col("nbrs").alias("_nv"))),
            F.col("dst") == F.col("_v"),
        )
        .select(F.size(F.array_intersect("_nu", "_nv")).alias("_k"))
        .agg(F.coalesce(F.sum("_k"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    counts = e.agg(
        F.count("*").alias("n_edges"),
    ).crossJoin(deg.agg(F.count("*").alias("n_nodes")))
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    damping: float = 0.85,
    teleport: float = 0.15,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list, simplified-damping variant
    (rank = (1-d) + d * sum(in-contribs); no dangling-mass
    redistribution — the standard MapReduce-example semantics).

    Scale shape per iteration: contribs = edges ⋈ ranks on src (one
    key shuffle; ranks is the smaller side and re-shuffles on the same
    key each round), then one (dst) shuffle for the sum. Out-degrees
    are computed once and persisted. Nothing collects to the driver;
    the loop only chains plans. For hash-exact cross-engine parity the
    per-node contribution sum accumulates in decimal(28,15) and
    surfaces as double — every other arithmetic step is deterministic
    per-row IEEE. Returns (node, pr).
    """
    # The edge list is referenced once for the node set, once for the
    # degrees, and once per iteration — persist it so an upstream
    # subtree (joins/distinct building the edges) materializes exactly
    # once instead of per reference. At cluster scale this is the
    # difference between one pass over the source tables and n_iter+2.
    # NEGATIVE RESULT (r14): persisting this cache repartition("src")
    # so the per-round contribs join is exchange-free does NOT work
    # under AQE — an adaptively-planned cached relation reports
    # unknown output partitioning, so the join re-shuffles the cached
    # side anyway (verified in the executed plan: Exchange above
    # InMemoryTableScan) and the up-front repartition is a pure extra
    # shuffle. Measured wash locally; reverted.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    ranks = nodes.withColumn("pr", F.lit(1.0))
    for _ in range(n_iter):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), on="src")
            .join(outdeg, on="src")
            .select(F.col("dst"), (F.col("pr") / F.col("deg")).alias("contrib"))
        )
        summed = contribs.groupBy("dst").agg(
            F.sum(F.col("contrib").cast("decimal(28,15)")).alias("_s")
        )
        ranks = nodes.join(summed, nodes.node == summed.dst, "left").select(
            "node",
            # teleport is a separate literal, NOT computed as
            # 1 - damping: binary 1.0-0.85 != parsed "0.15", and an
            # external SQL oracle writes the parsed literal
            (
                F.lit(teleport)
                + F.lit(damping)
                * F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
            ).alias("pr"),
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection: every node
    starts as its own community; each round it adopts the most
    frequent label among its neighbors (ties -> the smallest label;
    isolated nodes and vote-less rounds keep the current label). The
    deterministic tie-break makes the whole evolution engine-exact —
    an external oracle can replay every round.

    Scale shape per round: one (node)-keyed join pushing labels onto
    the undirected edge list, one (node, label) count with map-side
    combine, one argmax window over the per-node vote table (votes
    per node ≤ distinct neighbor labels — bounded by degree), one
    left join back to the node set. Labels-frontier-sized shuffles
    only; nothing collects to the driver. Returns (node, label)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # (r14: a repartition("b") here — the vote-join key — was tried and
    # reverted for the same AQE-cache reason documented in pagerank)
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()
    nodes = und.select(F.col("a").alias("node")).distinct().persist()
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(n_rounds):
        votes = (
            und.join(labels.withColumnRenamed("node", "b"), on="b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count("*").alias("_n"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("_n"), F.asc("label"))
        best = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        labels = labels.join(best, on="node", how="left").select(
            "node", F.coalesce("_new", "label").alias("label")
        )
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
) -> DataFrame:
    """Multi-source BFS over an undirected edge list: the minimum hop
    count from any source node, up to ``max_hops`` (unreached nodes
    are absent — emit-what-you-reached semantics, so the result size
    is frontier-bounded, not graph-bounded).

    Scale shape per hop: one (node)-keyed join pushing the current
    distance table onto the edges, one min-agg merging new candidates
    with the standing table — the textbook iterative-join BFS with a
    persisted edge list and nothing at the driver. Distances are
    integers; min() needs no tie-break, so the result is trivially
    engine-exact and an oracle can replay it with a bounded recursive
    expansion. Returns (node, dist)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()
    dist = sources.select(
        F.col(source_col).alias("node"), F.lit(0).cast("int").alias("dist")
    ).distinct()
    # Shallow runs (the default) keep the pure-lazy plan: a handful of
    # union+agg rounds nests fine and costs no per-hop materialization.
    # Deep runs switch to per-hop localCheckpoint (flat lineage — the
    # nested plan doubles per round) + an O(1) fixpoint probe so
    # converged graphs exit early (same policy as shortest_paths).
    deep = max_hops > 4
    prev_sig = None
    for _ in range(max_hops):
        frontier = (
            und.join(dist.withColumnRenamed("node", "a"), on="a")
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
        if deep:
            # lazy: the fixpoint probe materializes it in the same job
            dist = dist.localCheckpoint(eager=False)
            sig = tuple(dist.agg(F.count("*"), F.sum("dist")).collect()[0])
            if sig == prev_sig:
                break
            prev_sig = sig
    if deep:
        und.unpersist()
    return dist


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    source_col: str = "node",
) -> DataFrame:
    """Bounded-hop WEIGHTED single/multi-source shortest paths over a
    directed edge list — distributed Bellman-Ford: ``max_hops``
    relaxation rounds, each one (node)-keyed join pushing current
    distances onto out-edges plus a min-agg merge. After round k the
    table holds the exact minimum-weight distance over paths of <= k
    edges, so the hop bound is a SEMANTIC contract (k-hop-bounded
    distance), not an approximation artifact — and the natural one at
    scale, where unbounded Bellman-Ford on a 10^11-edge graph is
    |V| rounds of shuffle. Negative weights are fine (no negative-
    cycle divergence inside a bounded run); integer weights keep min()
    engine-exact with no tie-break. Complements :func:`bfs_distances`
    (the unweighted hop-count special case). Unreached nodes are
    absent (frontier-bounded result). Returns (node, dist).

    Scale shape per round: edge list persisted once (and released
    before return); distance table localCheckpoint'd per round so plan
    depth stays flat at ANY ``max_hops`` (without it the union+join
    lineage doubles per round and a ``max_hops=20`` run compiles an
    exponential plan); an O(1) per-round checksum (count + order-free
    hash sum) detects the Bellman-Ford fixpoint exactly — a round that
    relaxes nothing means all later rounds are no-ops — so converged
    graphs exit early with no per-round data collect.

    Weight dtype contract: integral weights (byte/short/int/long) run
    in exact long arithmetic; fractional weights (float/double/decimal)
    keep the weight's own VALUE type end-to-end — no silent integer
    truncation of fractional distances (min() on doubles is still
    engine-deterministic; only the bit-pattern checksum is used for
    convergence, never a float sum). Decimal weights accumulate in
    decimal(38, s) — the weight's scale at maximum precision — because
    a path SUM can exceed the input column's own precision, and under
    non-ANSI mode that overflow becomes NULL which min() silently
    drops (ADVICE r7): widening the accumulator keeps every
    representable path sum exact."""
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).alias("_w")
    ).persist()
    w_t = dict(e.dtypes)["_w"]
    integral = w_t in ("tinyint", "smallint", "int", "bigint")
    if integral:
        dist_t = "long"
    elif w_t.startswith("decimal"):
        scale = w_t.rstrip(")").split(",")[1] if "," in w_t else "0"
        dist_t = f"decimal(38,{scale})"
    else:
        dist_t = w_t
    dist = sources.select(
        F.col(source_col).alias("node"), F.lit(0).cast(dist_t).alias("dist")
    ).distinct()
    prev_sig = None
    for _ in range(max_hops):
        relaxed = e.join(dist.withColumnRenamed("node", "a"), on="a").select(
            F.col("b").alias("node"),
            (F.col("dist") + F.col("_w")).cast(dist_t).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast(dist_t).alias("dist"))
            # lazy: the fixpoint checksum materializes it in-job
            .localCheckpoint(eager=False)
        )
        # hash sum accumulates in decimal(38,0): ANSI-safe (a long sum
        # of 2^63-scale hashes overflows) and still order-free/exact
        sig = tuple(
            dist.agg(
                F.count("*"),
                F.sum(F.xxhash64("node", "dist").cast("decimal(38,0)")),
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    e.unpersist()
    return dist


def clustering_coefficient(
    edges: DataFrame,
    broadcast_adjacency: bool | None = None,
    broadcast_limit_bytes: int = 64 << 20,
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected edge
    list (columns ``a``, ``b``): triangles through the node divided by
    its wedge count ``deg*(deg-1)/2`` — the community-tightness score
    per node, where :func:`triangle_count` gives only the global sum.

    Same degree-oriented adjacency kernel as the global counter: orient
    each edge toward the larger (degree, id) endpoint (out-degree
    capped at O(sqrt(m))), build per-node out-adjacency arrays, and
    enumerate each triangle ONCE per oriented edge via a codegen
    ``array_intersect`` explode — so only triangle rows ever cross a
    shuffle, never the sum(outdeg²)-sized wedge set (the former wedge
    join measured superlinear at the 100x decade: 23.5 s → 485 s,
    ratio 20.6 on 10x more edges, because wedge volume grows m^1.5
    while triangles track the community structure). Each enumerated
    triangle credits ALL THREE corners through one explode and a
    per-node count, then joins degrees. The adjacency side broadcasts
    only while its size estimate fits ``broadcast_limit_bytes``
    (size-aware default, pin with ``broadcast_adjacency=``) — at
    cluster scale the partitioned join keyed on node id is the
    fail-safe shape. The coefficient is one integer-ratio division
    ``2*tri / (deg*(deg-1))`` rounded at 9 — a single float op on
    exact integers, engine-deterministic.
    Returns (node, degree, n_triangles, coeff); degree-1 nodes get
    coeff NULL (no wedge exists, 0/0)."""
    sym = (
        edges.select(F.col("a").cast("long").alias("u"), F.col("b").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
        )
        .distinct()
    )
    # deg feeds the orientation twice AND the final coefficient; the
    # oriented edge list feeds the adjacency build plus the probe side.
    # persist() both LAZILY — without plan-level reuse every consumer
    # replays the whole sym->deg->join subtree (the audit measured 69
    # shuffles in the old plan; 20 with reuse)
    deg = (
        sym.select(F.col("x").alias("n")).union(sym.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    # orient by (deg, id): strict total order -> acyclic, bounded out-deg
    dd = deg.select(F.col("n").alias("_n"), F.col("deg").alias("_d"))
    e = (
        sym.join(dd.withColumnRenamed("_n", "x").withColumnRenamed("_d", "dx"), "x")
        .join(dd.withColumnRenamed("_n", "y").withColumnRenamed("_d", "dy"), "y")
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("s"), F.col("y").alias("t")),
            )
            .otherwise(F.struct(F.col("y").alias("s"), F.col("x").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
        .persist()
    )
    adj = e.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    if broadcast_adjacency is None:
        est = deg.agg(
            F.count("*").alias("n"), F.sum("deg").alias("d")
        ).collect()[0]
        est_bytes = (est["n"] or 0) * 32 + (est["d"] or 0) * 8
        broadcast_adjacency = est_bytes <= broadcast_limit_bytes
    # partitioned fallback: hash join, NOT sort-merge — SMJ must sort
    # rows carrying the O(sqrt(m))-element array payloads (measured 2x
    # end-to-end on the 12M-edge sf1 co-order graph: 8.2s -> 4.0s warm)
    maybe_bc = (
        F.broadcast
        if broadcast_adjacency
        else (lambda df: df.hint("shuffle_hash"))
    )
    tris = (
        e.join(
            maybe_bc(adj.select(F.col("s").alias("_u"), F.col("nbrs").alias("_nu"))),
            F.col("s") == F.col("_u"),
        )
        .join(
            maybe_bc(adj.select(F.col("s").alias("_v"), F.col("nbrs").alias("_nv"))),
            F.col("t") == F.col("_v"),
        )
        .select(
            F.col("s").alias("c"),
            F.col("t").alias("p"),
            F.explode(F.array_intersect("_nu", "_nv")).alias("q"),
        )
    )
    per_node = (
        tris.select(F.explode(F.array("c", "p", "q")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = deg.join(per_node, "n", "left").select(
        F.col("n").alias("node"),
        F.col("deg").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                (F.lit(2) * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                9,
            ),
        ).alias("coeff"),
    )
    return out


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 50,
    stats_out: dict | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node of degree < ``k`` until none remains — the standard
    dense-subgraph extractor (community cores, spam/bot rings,
    near-clique candidate pruning before expensive triangle/clique
    work). Returns the surviving nodes as (node, degree) with degree
    measured INSIDE the core — the exact fixpoint, not a bound.

    Input is an undirected simple edge list (either orientation, one
    row per pair); self-loops are dropped and the list is symmetrized
    internally.

    Scale shape — DELTA-DEGREE peeling (VERDICT r9 task 3: the old
    loop re-aggregated FULL degrees over all live edges AND rewrote
    the pruned edge list (an O(|E|) checkpoint) every round — the
    100x probe's steepest remaining curve at sf10 ratio 5.77):

    - ROUND 0 pays the one full degree aggregate (map-side
      combinable) and caches the symmetrized edge list ONCE; the edge
      list is never pruned, rewritten or re-shuffled after that.
    - EVERY LATER ROUND re-aggregates nothing and rewrites nothing:
      the round's deleted node set D decrements each surviving
      neighbor by its count of edges into D. The decrement set is
      exactly ``{(u,v) ∈ E0 : v ∈ D, u ∈ survivors}`` on the ORIGINAL
      edge list — correct with no liveness bookkeeping because the
      degree table only ever contains never-deleted nodes: v ∈ D was
      live until this round (so the edge was live), and u appearing
      in the current degree table means u survived every earlier
      round. Both joins are semi-joins of the cached edge list
      against small node sets (AQE broadcasts them); the count
      aggregate runs over only the Σ_{d∈D} deg(d) incident rows.
      Degrees update by subtraction on the |V|-row table.

    A node whose last live edge dies reaches degree 0 and peels the
    NEXT round (the fixpoint is identical to the recompute-from-edges
    formulation; only the round count can grow by the trailing
    zero-degree sweep). Round count is the peel DEPTH of the graph —
    single digits on co-occurrence graphs — never |V|. The degree
    table localCheckpoints each round (|V| rows, plan depth stays
    flat); convergence is an O(1) driver aggregate (node + survivor
    counts in ONE collect — the CC discipline). Exhausting
    ``max_rounds`` RAISES — a silent partial peel would overstate the
    core (same contract as connected_components). ``stats_out``
    (optional dict) receives ``rounds``, ``n_dead_total`` and
    ``decrement_rows_total`` — the measured per-round work the scale
    probe records. No persisted block outlives the call (the edge
    cache unpersists before return; the returned frame is its own
    checkpoint).

    Round-trip shape (optimization r14, guide §1/§7 — the peel is
    JOB-LATENCY-bound, not data-bound: 109 jobs / 15 rounds at sf0.1
    with every data job under 0.5 s): each round submits exactly ONE
    driver action — the convergence aggregate — over a LAZY
    localCheckpoint, so the checkpoint materializes inside the same
    job instead of paying a separate eager-materialization action.
    The old ``good`` semi-join on the decrement scan is gone: the
    final join against the ``degree >= k`` survivor table masks dead
    and earlier-dead nodes identically (deg only ever contains
    never-deleted nodes), one join and one AQE broadcast fewer per
    round. The degree table coalesces to a row-count-derived
    partition count (~1M 2-long rows per partition ≈ tens of MB, the
    guide §2.2 partition-size band) so later rounds do not inherit
    round 0's full shuffle fan-out for a table that has peeled to a
    fraction of it — size-adaptive, no constant tied to local core
    counts."""
    sym = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
        .persist()
    )
    # round 0: the ONE full degree aggregate over the cached edges
    # (lazy checkpoint — the round-0 convergence collect materializes
    # it inside its own job)
    deg = (
        sym.groupBy("u")
        .agg(F.count("*").alias("degree"))
        .localCheckpoint(eager=False)
    )
    n_dead_total = 0
    dec_rows_total = 0
    prev_sumdeg_good = None
    n_cached = None  # node count the cached edge list was built for
    # Convergence-check cadence (optimization r15, guide §1/§7): the
    # peel is DRIVER-ACTION-bound at small scale (each round's jobs run
    # 10-40 ms; the ~0.1-0.2 s per-action orchestration dominates), so
    # on SMALL graphs the convergence collect fires every CHECK_EVERY
    # update rounds instead of every round. Rounds past the fixpoint
    # are identity updates (dead is empty -> no decrements, the >= k
    # filter keeps everything), so the returned fixpoint is unchanged;
    # the only overshoot cost is <= CHECK_EVERY - 1 no-op rounds of
    # near-empty jobs. SIZE-GATED because the trade inverts at scale:
    # an overshoot round still scans the edge cache, and on a large
    # graph that scan dwarfs the driver latency a skipped check saves —
    # so big graphs keep the per-round check (threshold: the same
    # ~1M-rows-per-partition band the rest of the loop derives sizes
    # from). Exact per-round stats need per-round collects, so
    # requesting ``stats_out`` also keeps the old cadence.
    check_every = 1
    n_nodes = n_good = None
    try:
        for rnd in range(max_rounds):
            if rnd % check_every == 0:
                n_nodes, n_good, sum_all, sum_good = deg.agg(
                    F.count("*"),
                    F.sum(F.when(F.col("degree") >= k, 1).otherwise(0)),
                    F.sum("degree"),
                    F.sum(F.when(F.col("degree") >= k, F.col("degree"))),
                ).collect()[0]
                # decrements applied LAST round = degree mass the
                # survivors lost: Σdeg(good, r-1) - Σdeg(all, r) — free
                # stats from the same convergence collect, no extra pass
                if prev_sumdeg_good is not None:
                    dec_rows_total += int(prev_sumdeg_good) - int(sum_all or 0)
                prev_sumdeg_good = int(sum_good or 0)
                if n_cached is None:
                    n_cached = n_nodes
                    # incidence rows (2|E|) measured once: small graphs
                    # switch to the batched check cadence above
                    if stats_out is None and int(sum_all or 0) < 8_000_000:
                        check_every = 3
                    # one-time cache repack: the distinct-shuffle layout
                    # fans the edge cache across every shuffle partition
                    # regardless of size, and EVERY round scans it —
                    # repack to a row-count-derived width (sum_all =
                    # 2|E| is free from the convergence collect) when
                    # the layout is >4x wider than the data warrants. At
                    # real scale p_e is large and this is a no-op.
                    p_e = max(1, int(sum_all or 0) // 1_000_000 + 1)
                    if sym.rdd.getNumPartitions() > 4 * p_e:
                        repacked = sym.coalesce(p_e).persist()
                        repacked.count()  # materialize before dropping old
                        sym.unpersist()
                        sym = repacked
                if n_nodes == 0 or n_good == n_nodes:
                    if stats_out is not None:
                        stats_out["rounds"] = rnd
                        stats_out["n_dead_total"] = n_dead_total
                        stats_out["decrement_rows_total"] = dec_rows_total
                    return deg.select(
                        F.col("u").alias("node"),
                        F.col("degree").cast("long").alias("degree"),
                    )
                n_dead_total += n_nodes - n_good
            dead = deg.filter(F.col("degree") < k).select("u")
            # decrements on the CACHED edge list: edges into this
            # round's dead. The cache may still hold edges of dead or
            # earlier-dead nodes (no per-round rewrite); the join
            # against the filtered survivor table below masks them
            # exactly because deg only ever contains never-deleted
            # nodes — no second semi-join needed.
            incident = sym.join(
                dead.withColumnRenamed("u", "v"), "v", "left_semi"
            )
            dec = incident.groupBy("u").agg(F.count("*").alias("_d"))
            # partitions sized from the survivor count measured at the
            # LAST check (stale by < check_every rounds — sizing only;
            # ~1M (u, degree) rows ≈ tens of MB per partition)
            p_v = max(1, int(n_good) // 1_000_000 + (1 if n_good % 1_000_000 else 0))
            deg = (
                deg.filter(F.col("degree") >= k)
                .join(dec, "u", "left")
                .select(
                    "u",
                    (
                        F.col("degree") - F.coalesce(F.col("_d"), F.lit(0))
                    ).alias("degree"),
                )
                .coalesce(p_v)
                .localCheckpoint(eager=False)
            )
            # COMPACT the edge cache only when enough of the nodes it
            # was built for have died (the per-round rewrite of the old
            # formulation was the sf1 probe's dominant cost; the 25%
            # trigger amortizes the rewrite to O(log) times per peel)
            # AND the graph is big enough for the scan savings to beat
            # the rewrite's fixed job latency (small graphs are
            # per-round-latency-bound — measured at sf0.1). Evaluated
            # on check rounds only: it fires a count() action, and
            # n_good is only fresh at a check.
            if (
                rnd % check_every == 0
                and n_cached >= 100_000
                and n_good < n_cached * 3 // 4
            ):
                live = deg.select("u")
                # compacted row count <= Σdeg(survivors) = sum_good;
                # size partitions from it (~1M 2-long rows each)
                p_e = max(1, int(sum_good or 0) // 1_000_000 + 1)
                compacted = (
                    sym.join(live, "u", "left_semi")
                    .join(live.withColumnRenamed("u", "v"), "v", "left_semi")
                    .coalesce(p_e)
                    .persist()
                )
                compacted.count()  # materialize before dropping the old cache
                sym.unpersist()
                sym = compacted
                n_cached = n_good
        # batched cadence: the budget may exhaust with the fixpoint
        # reached since the last check — confirm before declaring
        # failure, while the edge cache the unchecked rounds' lineage
        # reads is still persisted
        n_nodes, n_good = deg.agg(
            F.count("*"),
            F.sum(F.when(F.col("degree") >= k, 1).otherwise(0)),
        ).collect()[0]
    finally:
        sym.unpersist()
    if n_nodes == 0 or n_good == n_nodes:
        if stats_out is not None:
            stats_out["rounds"] = max_rounds
            stats_out["n_dead_total"] = n_dead_total
            stats_out["decrement_rows_total"] = dec_rows_total
        return deg.select(
            F.col("u").alias("node"),
            F.col("degree").cast("long").alias("degree"),
        )
    raise RuntimeError(
        f"k_core: no fixpoint within max_rounds={max_rounds} "
        f"(last round: {n_nodes - n_good} of {n_nodes} nodes below k={k}); "
        "raise max_rounds — the peel depth of this graph exceeds the budget"
    )


def k_truss(
    edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 50,
    broadcast_limit_bytes: int = 64 << 20,
) -> DataFrame:
    """k-truss decomposition by edge peeling: repeatedly delete every
    edge supported by fewer than ``k - 2`` triangles until none
    remains — the EDGE-level dense-subgraph extractor (stricter than
    :func:`k_core`: every surviving edge sits in k-2 triangles, so
    trusses are near-cliques, the standard community-core refinement
    after a core cut). Returns the surviving canonical edges as
    ``(a, b, support)`` with support measured INSIDE the truss — the
    exact fixpoint, not a bound.

    Input is an undirected simple edge list (either orientation);
    self-loops are dropped and edges canonicalize to ``a < b``.

    Scale shape — DELTA peeling (VERDICT r8: the old loop re-ran the
    full triangle count over ALL surviving edges every round; later
    rounds delete a handful of edges and should cost proportionally):

    - ROUND 0 pays the one full support count, inherited from
      :func:`triangle_count`'s degree-oriented adjacency form rather
      than a wedge join (sum of outdeg² wedge rows never
      materializes): degree aggregate, adjacency collect_list keyed on
      the oriented source (out-degree capped at O(sqrt(m)) by the
      orientation), codegen array_intersect + explode emitting each
      triangle once, one (a, b)-keyed support count. The adjacency
      side broadcasts only while its estimate fits
      ``broadcast_limit_bytes`` (same fail-safe as triangle_count).
    - EVERY LATER ROUND recounts nothing: the triangles destroyed by
      the round's deleted edge set D are listed by joining D against
      the live neighbor list (w ∈ N(a)) plus one edge-existence
      semi-join ((b,w) live) — cost Σ_{(a,b)∈D} deg(a) probe rows,
      never |E| — deduped per (triangle, surviving edge) so a
      triangle losing 2+ edges at once still decrements each survivor
      exactly once, and supports update by subtraction. All plain
      key joins (AQE broadcasts the small D side on its own).

    Round count is the truss peel depth — single digits on
    co-occurrence graphs — never |E|; the support table
    localCheckpoints each round so plan depth stays flat, and
    convergence is an O(1) driver count. Exhausting ``max_rounds``
    RAISES — a silent partial peel would overstate the truss (same
    contract as k_core / connected_components).
    """
    if k < 3:
        raise ValueError(f"k_truss requires k >= 3, got k={k}")
    e = (
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_live = e.count()  # materializes the lazy checkpoint in the same job
    if n_live == 0:
        return e.withColumn("support", F.lit(0).cast("long"))

    # -- round 0: one full support count over the initial edge set ----
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = e.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b"
    )
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).persist()
    # lazily checkpointed (r14): adj feeds BOTH intersection sides and
    # each side otherwise re-runs the collect_list aggregate over the
    # cached oriented edges (no cross-subtree CSE) — the first consumer
    # materializes it, the second reuses the RDD
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=False)
    )
    est = deg.agg(F.count("*").alias("n"), F.sum("deg").alias("s")).collect()[0]
    est_bytes = (est["n"] or 0) * 32 + (est["s"] or 0) * 8
    maybe_bc = (
        F.broadcast
        if est_bytes <= broadcast_limit_bytes
        else (lambda d: d.hint("shuffle_hash"))
    )
    tri = (
        oriented.join(
            maybe_bc(
                adj.select(F.col("src").alias("_u"), F.col("nbrs").alias("_nu"))
            ),
            F.col("src") == F.col("_u"),
        )
        .join(
            maybe_bc(
                adj.select(F.col("src").alias("_v"), F.col("nbrs").alias("_nv"))
            ),
            F.col("dst") == F.col("_v"),
        )
        .select(
            F.col("src").alias("x"),
            F.col("dst").alias("y"),
            F.explode(F.array_intersect("_nu", "_nv")).alias("z"),
        )
    )
    # one scan of the triangle join: explode each triangle into its 3
    # canonical edges (the old 3-way unionAll re-ran the adjacency
    # join + intersect once PER BRANCH — tri is unpersisted by design,
    # so the union tripled round 0's dominant compute; r14, guide §2.4)
    counted = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        _c_lo("x", "y").alias("a"), _c_hi("x", "y").alias("b")
                    ),
                    F.struct(
                        _c_lo("x", "z").alias("a"), _c_hi("x", "z").alias("b")
                    ),
                    F.struct(
                        _c_lo("y", "z").alias("a"), _c_hi("y", "z").alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select(F.col("_e.a").alias("a"), F.col("_e.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("support"))
    )
    # zero-support edges sit in no triangle but must still peel (and,
    # for k=3... they never survive; include them so support math is
    # total over the live edge set)
    # partitions sized from the measured live-edge count (~1M 3-long
    # rows ≈ tens of MB per partition); the support table is scanned
    # several times per delta round, so a degenerate many-near-empty-
    # partition layout multiplies per-round task overhead (r14: the
    # peel is job/task-latency-bound, every data job under 0.5 s)
    def _p(n: int) -> int:
        return max(1, int(n) // 1_000_000 + (1 if n % 1_000_000 else 0))

    sup = (
        e.join(counted, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
        )
        .coalesce(_p(n_live))
        .localCheckpoint(eager=False)
    )

    # -- delta rounds: subtract destroyed triangles, never recount ----
    # ONE driver action per round: counting the dead edges materializes
    # the round's lazy support checkpoint inside the same job (r14 —
    # the old eager-checkpoint + separate persist/count pair paid two
    # actions and an extra cache round-trip per round). ``dead`` needs
    # no persist: it is a filter over the materialized checkpoint.
    #
    # Check cadence (optimization r15, same contract as k_core): on
    # SMALL graphs the dead-edge count fires every CHECK_EVERY rounds —
    # the peel is driver-action-bound there, and rounds past the
    # fixpoint are identity updates (dead empty -> no decrements, the
    # anti-join removes nothing). Size-gated: an overshoot round still
    # scans the support table, which dwarfs the saved driver latency on
    # a big graph, so those keep the per-round check.
    check_every = 1
    first = True
    n_dead = 0
    for rnd in range(max_rounds):
        if rnd % check_every == 0:
            n_dead = sup.filter(F.col("support") < k - 2).count()
            if first:
                # the support checkpoint now holds the triangle count's
                # output; the adjacency scaffold can go
                oriented.unpersist()
                if n_live < 4_000_000:
                    check_every = 3
                first = False
            if n_dead == 0:
                return sup
            # live-edge bookkeeping (partition sizing only) updates at
            # checks; between checks it is stale by < check_every rounds
            n_live -= n_dead
        dead = sup.filter(F.col("support") < k - 2).select("a", "b")
        live = sup.select("a", "b")  # pre-deletion live set (incl. dead)
        sym = live.select(
            F.col("a").alias("u"), F.col("b").alias("w")
        ).unionAll(live.select(F.col("b").alias("u"), F.col("a").alias("w")))
        # triangles through a dead edge (a,b): w ∈ N(a) with (b,w) live
        cand = (
            dead.join(sym, dead["a"] == sym["u"])
            .select(dead["a"], dead["b"], sym["w"])
            .filter(F.col("w") != F.col("b"))
        )
        tri_dead = cand.join(
            live.select(F.col("a").alias("_ca"), F.col("b").alias("_cb")),
            (_c_lo("b", "w") == F.col("_ca")) & (_c_hi("b", "w") == F.col("_cb")),
            "semi",
        )
        # (n_live now updates at check rounds above)
        dec = (
            tri_dead.select(
                F.array_sort(F.array("a", "b", "w")).alias("_t"),
                F.explode(
                    F.array(
                        F.struct(
                            _c_lo("a", "w").alias("a"), _c_hi("a", "w").alias("b")
                        ),
                        F.struct(
                            _c_lo("b", "w").alias("a"), _c_hi("b", "w").alias("b")
                        ),
                    )
                ).alias("_e"),
            )
            .select("_t", F.col("_e.a").alias("a"), F.col("_e.b").alias("b"))
            .distinct()  # one decrement per (destroyed triangle, edge)
            .join(dead, ["a", "b"], "left_anti")
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("_d"))
        )
        sup = (
            sup.join(dead, ["a", "b"], "left_anti")
            .join(dec, ["a", "b"], "left")
            .select(
                "a",
                "b",
                (F.col("support") - F.coalesce(F.col("_d"), F.lit(0)))
                .cast("long")
                .alias("support"),
            )
            .coalesce(_p(n_live))
            .localCheckpoint(eager=False)
        )
    # batched cadence: the budget may exhaust with the fixpoint reached
    # since the last check — confirm before declaring failure
    if sup.filter(F.col("support") < k - 2).count() == 0:
        return sup
    raise RuntimeError(
        f"k_truss: no fixpoint within max_rounds={max_rounds} "
        f"(still peeling, k={k}); raise max_rounds — "
        "the truss peel depth of this graph exceeds the budget"
    )


def _c_lo(x: str, y: str):
    return F.least(F.col(x), F.col(y))


def _c_hi(x: str, y: str):
    return F.greatest(F.col(x), F.col(y))


def coreness(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 100,
) -> DataFrame:
    """Core number of EVERY node — the full k-core decomposition in
    one pass, where :func:`k_core` answers only "who survives at this
    one k". Returns (node, degree, core) with core the exact
    degeneracy layer: the largest k such that the node belongs to the
    k-core. The standard graph-curation score (spam/bot rings and
    boilerplate hubs live in high cores; leaf chatter in core 1) and
    the degeneracy bound used to size clique/triangle budgets.

    Distributed h-index fixpoint (Montresor, De Pellegrini & Miorandi,
    "Distributed k-core decomposition", IEEE TPDS 2013): start every
    estimate at the node's degree and repeatedly set
    ``est(v) = H({est(u) : u ~ v})`` — the h-index of the neighbors'
    estimates (the largest h with >= h neighbors at est >= h). The
    sequence is monotone non-increasing, bounded below by the true
    core number, and its fixpoint IS the core number, independent of
    update order — so synchronous Spark rounds compute it exactly.

    Scale shape per round: one (node)-keyed join pushing current
    estimates onto edges, then the h-index as a ROW-based window —
    row_number over (v, est desc) and ``max(least(est, rn))`` — never
    a per-node collected array, so a 10^7-degree hub costs sorted
    rows, not one 10^7-element array row (two key shuffles per round,
    both on node ids). Estimates localCheckpoint each round (flat plan
    depth at any round count), convergence is the O(1) order-free
    checksum the other iterative operators use, and exhausting
    ``max_rounds`` RAISES — a silent partial fixpoint would overstate
    cores. Round count is bounded by the longest strictly-decreasing
    estimate chain — tens on real graphs, never |V| (and the default
    budget is deliberately above k_core's: h-index convergence tails
    are longer than peel depths).
    """
    sym = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
        .persist()
    )
    # deg is referenced again by the FINAL join, after sym has been
    # unpersisted — without its own checkpoint the returned plan
    # re-runs the whole upstream edge pipeline at execution time
    # (r14: measured 9 extra exec jobs). Lazy: round 0 materializes it.
    deg = (
        sym.groupBy("u")
        .agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint(eager=False)
    )
    est = deg.select("u", F.col("degree").alias("est")).localCheckpoint(
        eager=False
    )
    w = Window.partitionBy("v").orderBy(F.desc("est"), F.asc("u"))
    prev_sig = None
    n_nodes = None
    for _ in range(max_rounds):
        msgs = sym.join(est, "u").select("v", "u", "est")
        nxt = (
            msgs.withColumn("_rn", F.row_number().over(w))
            .groupBy("v")
            .agg(
                F.max(F.least(F.col("est"), F.col("_rn")))
                .cast("long")
                .alias("est")
            )
            .withColumnRenamed("v", "u")
        )
        if n_nodes is not None:
            # partitions sized from the measured node count (~1M
            # 2-long rows per partition — r14: the estimate table
            # otherwise inherits the full shuffle fan-out forever,
            # near-empty tasks every round; size-derived, no local
            # constant)
            nxt = nxt.coalesce(max(1, int(n_nodes) // 1_000_000 + 1))
        # lazy: the fixpoint checksum materializes it in-job
        nxt = nxt.localCheckpoint(eager=False)
        sig = tuple(
            nxt.agg(
                F.count("*"),
                F.sum(F.xxhash64("u", "est").cast("decimal(38,0)")),
            ).collect()[0]
        )
        n_nodes = sig[0]
        est = nxt
        if sig == prev_sig:
            sym.unpersist()
            return deg.join(est, "u").select(
                F.col("u").alias("node"),
                "degree",
                F.col("est").alias("core"),
            )
        prev_sig = sig
    sym.unpersist()
    raise RuntimeError(
        f"coreness: no fixpoint within max_rounds={max_rounds}; "
        "raise max_rounds — this graph's h-index convergence chain "
        "exceeds the budget"
    )
