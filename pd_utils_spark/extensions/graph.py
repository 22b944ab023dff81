"""Graph algorithms for corpus curation beyond connected components
(which lives with its consumers in ``extensions.dedup``): PageRank for
domain-authority weighting of web corpora.

Iterative-plan hygiene matches ``connected_components``: per-round
checkpointing truncates lineage, edges (not documents) are what
shuffles, and every round is one join + one aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pd_utils_spark.utils import materialize, reliable_checkpoints


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    out: str = "rank",
    checkpoint_dir: str | None = None,
    sources: DataFrame | Sequence | None = None,
) -> DataFrame:
    """PageRank over a directed edge list — ``(node, rank)`` for every
    node appearing as source or destination, after exactly ``iters``
    synchronous iterations of

        ``rank'(v) = (1 - d)/N + d * sum_{u->v} rank(u) / outdeg(u)``

    (standard damped formulation; nodes with no outgoing edges keep
    their mass undistributed — the simple variant, deterministic and
    engine-portable, which is what makes the fixed-iteration result
    hash-checkable against a recursive-CTE oracle). The curation use:
    rank domains by link authority and weight or gate a web corpus by
    the crawl graph, the OPIC/Common-Crawl-style signal.

    Scale shape: the per-round work is ONE equi-join of the rank
    frame with the (pre-aggregated, persisted) edge+outdegree frame
    and ONE aggregation on the destination — both shuffle the EDGE
    list, never anything document-sized. Rounds checkpoint so the
    plan does not grow with iterations; a fixed iteration count (not
    a convergence test) keeps the per-round driver action count at
    zero in the default mode.

    ``checkpoint_dir``: by default rounds use ``localCheckpoint`` —
    fastest, but executor loss mid-run is job-fatal because the
    truncated lineage lives in executor memory. Pass a reliable
    (HDFS/S3) directory for multi-hour cluster runs: rounds then use
    eager ``checkpoint`` writes to stable storage (one extra action
    per round — the price of surviving executor loss), matching
    ``connected_components``' contract; the session checkpoint dir is
    restored (best-effort) on return.

    ``sources`` (round-8 continuation): PERSONALIZED PageRank. The
    teleport distribution becomes uniform over the given source nodes
    (a one-column DataFrame or a plain sequence of ids) instead of
    uniform over all nodes:

        ``rank'(v) = (1 - d) * p(v) + d * sum_{u->v} rank(u)/outdeg(u)``

    with ``p(v) = 1/|S|`` for sources, else 0 — ranks become
    proximity to the seed set (seed-domain expansion, "more like
    these" corpus weighting, topic-conditioned authority). Source ids
    not present in the graph are ignored; all-absent raises. The
    default is EXACTLY the uniform special case (p = 1/N), one code
    path, so plans and results of existing callers are unchanged.
    Per-round cost is identical — the restart vector rides the
    persisted node frame.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1): {damping}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1: {iters}")
    with reliable_checkpoints(edges.sparkSession, checkpoint_dir):
        e = edges.select(F.col(src).alias("__s__"), F.col(dst).alias("__d__"))
        nodes = materialize(
            e.select(F.col("__s__").alias("__n__"))
            .unionByName(e.select(F.col("__d__").alias("__n__")))
            .distinct()
        )
        n_nodes = nodes.count()  # one action up front; also pins the cache
        outdeg = e.groupBy("__s__").agg(F.count("*").alias("__deg__"))
        contrib_edges = materialize(e.join(outdeg, "__s__"))
        if sources is None:
            # a literal column over the ALREADY-cached node frame: do not
            # re-persist (double-caching measured ~7% per-query overhead)
            nodes_p = nodes.withColumn("__p__", F.lit(1.0 / n_nodes))
        else:
            if isinstance(sources, DataFrame):
                sdf = sources.select(
                    F.col(sources.columns[0]).alias("__n__")
                ).distinct()
                marked = nodes.join(sdf, "__n__", "left_semi")
            else:
                marked = nodes.filter(F.col("__n__").isin(list(sources)))
            n_src = marked.count()
            if n_src == 0:
                raise ValueError("no source node is present in the graph")
            nodes_p = (
                nodes.join(marked.withColumn("__m__", F.lit(1)), "__n__", "left")
                .withColumn(
                    "__p__",
                    F.when(
                        F.col("__m__").isNotNull(), F.lit(1.0 / n_src)
                    ).otherwise(F.lit(0.0)),
                )
                .drop("__m__")
            )
            # the personalized restart vector is join-derived: cache it
            nodes_p = materialize(nodes_p)
        ranks = nodes_p.select("__n__", F.col("__p__").alias("__r__"))
        for _ in range(iters):
            contrib = (
                contrib_edges.join(
                    ranks, contrib_edges["__s__"] == ranks["__n__"]
                )
                .select(
                    F.col("__d__").alias("__n__"),
                    (F.col("__r__") / F.col("__deg__")).alias("__c__"),
                )
                .groupBy("__n__")
                .agg(F.sum("__c__").alias("__in__"))
            )
            # reliable mode writes each round eagerly to stable storage,
            # so the final frame exists before the session dir is restored
            ranks = materialize(
                nodes_p.join(contrib, "__n__", "left").select(
                    "__n__",
                    (
                        F.lit(1.0 - damping) * F.col("__p__")
                        + F.lit(damping) * F.coalesce("__in__", F.lit(0.0))
                    ).alias("__r__"),
                ),
                stable=True,
            )
    return ranks.select(F.col("__n__").alias("node"), F.col("__r__").alias(out))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
) -> DataFrame:
    """HITS (Kleinberg) hubs and authorities over a directed edge
    list — ``(node, hub, authority)`` after exactly ``iters``
    synchronous rounds of

        ``auth'(v) = sum_{u->v} hub(u)``,  ``hub'(v) = sum_{v->w} auth'(w)``

    each L2-normalized. Complements PageRank for web curation: link
    FARMS score high on hub but low on authority, so the pair
    separates genuinely-cited domains from reciprocal-link spam that
    a single PageRank score conflates.

    Scale shape mirrors :func:`pagerank`, with two round-6 algebraic
    cuts that halve the per-round work at any scale:

    - **Auth normalization is deferred.** The auth norm is a SCALAR,
      so it cancels inside hub's own normalization
      (``hub' = (E . a/||a||) / ||E . a/||a|||| = (E . a)/||E . a||``)
      — each round normalizes only the hub vector; the authority
      vector is normalized once, when reported. One eager checkpoint
      + one one-row norm aggregate per round instead of two of each.
    - **No per-round zero-fill.** Nodes absent from a sum-aggregate
      have score exactly 0; zeros contribute nothing to the edge sums
      OR to an L2 norm, so the nodes-frame left joins that used to
      re-insert them every round were pure shuffle waste. Missing
      rows are filled once, in the final projection.

    Each round is therefore two edge joins + two aggregations + ONE
    broadcast norm; rounds checkpoint so the plan stays flat, and
    fixed iterations keep per-round driver actions at one (the eager
    checkpoint). Measured 7.18 -> 3.52 s warm median on the sf0.1
    bench graph (scripts/bench_headline.py, SCALE.md round-6); at
    100 TB the removed zero-fill joins are node-set-sized shuffles
    per round.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1: {iters}")
    e = materialize(
        edges.select(F.col(src).alias("__s__"), F.col(dst).alias("__d__"))
        .distinct()
    )
    nodes = materialize(
        e.select(F.col("__s__").alias("__n__"))
        .unionByName(e.select(F.col("__d__").alias("__n__")))
        .distinct()
    )

    def _l2norm(df, col, eager=True):
        # EAGER checkpoint before the norm: the crossJoin references
        # `df` twice (the one-row aggregate AND the output rows), so
        # the frame must be materialized or each round recomputes per
        # reference, compounding (measured 11.7 s on the 10-round
        # bench query vs 7.7 s eager). Lazy persist is NOT a
        # substitute here: without lineage truncation the nested
        # 10-round plan re-enters Catalyst per reference and
        # optimization time itself explodes (measured minutes).
        if eager:
            df = materialize(df, stable=True, eager=True)
        nrm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__nrm__"))
        return df.crossJoin(F.broadcast(nrm)).select(
            "__n__",
            F.when(F.col("__nrm__") > 0, F.col(col) / F.col("__nrm__"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    hub = nodes.select("__n__", F.lit(1.0).alias("__h__"))
    for _ in range(iters):
        # UNNORMALIZED auth: its norm cancels in hub's normalization.
        # Referenced once inside the round, so it needs no checkpoint
        # of its own — hub's per-round checkpoint keeps lineage flat.
        auth_u = (
            e.join(hub, e["__s__"] == hub["__n__"])
            .groupBy(F.col("__d__").alias("__n__"))
            .agg(F.sum("__h__").alias("__a__"))
        )
        hub = (
            e.join(auth_u, e["__d__"] == auth_u["__n__"])
            .groupBy(F.col("__s__").alias("__n__"))
            .agg(F.sum("__a__").alias("__h__"))
        )
        hub = _l2norm(hub, "__h__")
        last_auth_u = auth_u
    # authority reported normalized — once, not per round (the final
    # frame IS referenced twice by its norm, so this one checkpoints)
    last_auth = _l2norm(last_auth_u, "__a__")
    return (
        nodes.join(hub, "__n__", "left")
        .join(last_auth, "__n__", "left")
        .select(
            F.col("__n__").alias("node"),
            F.coalesce("__h__", F.lit(0.0)).alias("hub"),
            F.coalesce("__a__", F.lit(0.0)).alias("authority"),
        )
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph given
    as id pairs (direction and duplicates ignored; self-loops
    dropped) — ``(node, triangles)`` for every node in the edge list.
    Triangles measure local clustering: in web/link-graph curation a
    near-zero triangle count flags farm-like link structure, and with
    degree it yields the clustering coefficient.

    Algorithm (the standard distributed shape): canonicalize each
    edge to ``lo < hi`` once, enumerate WEDGES by self-joining the
    canonical edge list on its lower endpoint (every unordered pair
    of neighbors appears exactly once because both legs are
    id-ordered), then semi-join the wedge's outer pair back against
    the edge list — each triangle {a<b<c} is found exactly once, as
    the wedge (b,c) centered at a. Per-node counts credit all three
    corners via one explode + hash agg.

    Scale shape: two shuffles on edge endpoints (the wedge self-join
    and the closing join), both on the EDGE frame — documents/payload
    never move. Wedge fan-out is sum(deg_lo^2) over lower endpoints;
    id-canonicalization already halves it vs naive, and hub-heavy
    graphs should re-id nodes by descending degree first so hubs sit
    on the ``hi`` side (the classic degree-orientation trick — then
    fan-out is bounded by arboricity, Suri & Vassilvitskii 2011).
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(
            F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    w1 = e.select(F.col("lo").alias("c"), F.col("hi").alias("x"))
    w2 = e.select(F.col("lo").alias("c"), F.col("hi").alias("y"))
    wedges = w1.join(w2, "c").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        e,
        (wedges["x"] == e["lo"]) & (wedges["y"] == e["hi"]),
        "left_semi",
    )
    corners = tri.select(
        F.explode(F.array("c", "x", "y")).alias("node")
    )
    counts = corners.groupBy("node").agg(
        F.count("*").alias("triangles")
    )
    nodes = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .distinct()
    )
    return nodes.join(counts, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def _bfs_round(e: DataFrame, frontier: DataFrame, visited: DataFrame) -> DataFrame:
    """One level-synchronous BFS round, pre-checkpoint: expand the
    frontier through the edge list (one equi-join), dedup, and drop
    already-visited nodes (one anti-join). Module-level so the
    plan-shape suite can lock the per-round shape — the checkpoint in
    :func:`bfs_levels` truncates lineage, hiding it from the final
    plan."""
    return (
        e.join(frontier, e["__s__"] == frontier["__n__"])
        .select(F.col("__d__").alias("__n__"))
        .distinct()
        .join(visited.select("__n__"), "__n__", "left_anti")
    )


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_depth: int = 10,
    out: str = "level",
    early_stop: bool = True,
) -> DataFrame:
    """Multi-source breadth-first search over a directed edge list:
    ``(node, level)`` — the minimum hop count from ANY row of
    ``sources`` (a one-column frame named ``node``), up to
    ``max_depth`` hops. Unreached nodes are absent. The curation
    uses: crawl-distance from a trusted seed set (distance-from-seed
    is a standard web-corpus quality prior), blast-radius of a
    contaminated document through a link/citation graph, and
    level-capped graph expansion.

    Scale shape: level-synchronous frontier expansion — each round is
    ONE equi-join of the current frontier with the edge list and ONE
    anti-join against the visited set, both shuffling edge-sized (not
    graph-sized) frames; the frontier is checkpointed per round so
    the plan stays flat (the same lineage hygiene as
    :func:`pagerank`). ``early_stop`` reads one ``isEmpty`` per round
    off the just-checkpointed frontier — one cheap action against
    materialized data, worth it the moment the graph's diameter is
    smaller than ``max_depth``; switch it off for a zero-action plan
    with a known diameter. Frontier dedup keeps each round's join
    input minimal (a node is expanded exactly once, total work
    O(edges) across ALL rounds, the textbook level-synchronous BFS
    bound).

    Cache note: the projected edge frame stays pinned (every round
    joins it) — run traversals inside a
    :func:`~pd_utils_spark.utils.query_scope`, which releases it on
    exit.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0: {max_depth}")
    e = materialize(
        edges.select(F.col(src).alias("__s__"), F.col(dst).alias("__d__"))
    )
    frontier = materialize(
        sources.select(F.col(node).alias("__n__")).distinct(), stable=True
    )
    visited = frontier.select("__n__", F.lit(0).alias("__l__"))
    for depth in range(1, max_depth + 1):
        if early_stop and frontier.isEmpty():
            break
        nxt = materialize(_bfs_round(e, frontier, visited), stable=True)
        visited = visited.unionByName(
            nxt.select("__n__", F.lit(depth).alias("__l__"))
        )
        frontier = nxt
    return visited.select(
        F.col("__n__").alias(node), F.col("__l__").alias(out)
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    out: str = "label",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for
    community detection over a directed edge list: every node starts
    with its own id as label; each round, a node adopts the most
    frequent label among its IN-neighbors, ties broken by the
    smallest label, nodes without in-edges keeping their label.
    Returns ``(node, label)`` after exactly ``iters`` rounds.

    The deterministic tie-break (count desc, label asc) is what makes
    a fixed-iteration run hash-checkable against an unrolled
    relational oracle — asynchronous/randomized LPA variants converge
    faster but are irreproducible, useless for an auditable pipeline.
    Communities here are label-reachability basins, coarser than
    connected components' equivalence classes (use
    :func:`pd_utils_spark.extensions.dedup.connected_components` for
    exact transitive closure).

    Scale shape: per round ONE edge-label equi-join, ONE (dst, label)
    count aggregate, ONE row_number window partitioned by dst (group
    size = a node's distinct in-labels, bounded by in-degree), and a
    left join back onto the node set — edge-sized shuffles, nothing
    quadratic, per-round checkpoint keeps the plan flat (same lineage
    hygiene as :func:`pagerank`). The projected edge and node frames
    stay pinned (read every round) until the caller's
    :func:`~pd_utils_spark.utils.query_scope` exits.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0: {iters}")
    from pyspark.sql import Window

    e = materialize(
        edges.select(F.col(src).alias("__s__"), F.col(dst).alias("__d__"))
    )
    nodes = materialize(
        e.select(F.col("__s__").alias("__n__"))
        .unionByName(e.select(F.col("__d__").alias("__n__")))
        .distinct()
    )
    labels = nodes.select("__n__", F.col("__n__").alias("__l__"))
    w = Window.partitionBy("__dn__").orderBy(
        F.desc("__c__"), F.asc("__bl__")
    )
    for _ in range(iters):
        best = (
            e.join(labels, e["__s__"] == labels["__n__"])
            .select(F.col("__d__").alias("__dn__"), F.col("__l__").alias("__bl__"))
            .groupBy("__dn__", "__bl__")
            .agg(F.count(F.lit(1)).alias("__c__"))
            .withColumn("__rk__", F.row_number().over(w))
            .filter(F.col("__rk__") == 1)
            .select("__dn__", "__bl__")
        )
        labels = materialize(
            labels.join(best, labels["__n__"] == best["__dn__"], "left")
            .select(
                "__n__",
                F.coalesce("__bl__", "__l__").alias("__l__"),
            ),
            stable=True,
        )
    return labels.select(
        F.col("__n__").alias("node"), F.col("__l__").alias(out)
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node over the undirected
    simple graph: ``(node, degree, triangles, coefficient)`` where
    ``coefficient = 2*T / (deg * (deg - 1))`` and nodes of degree < 2
    report 0.0. The standard link-graph quality signal one step past
    :func:`triangle_count`: link farms show high degree with
    near-zero closure, organic neighborhoods cluster.

    Scale shape: the triangle side is :func:`triangle_count`'s
    wedge-enumeration plan (two edge-sized shuffles); the degree side
    is one explode + hash agg on the SAME canonical edge list, joined
    back on node — no new quadratic stage, payload never moves. The
    ratio is a JVM column expression.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    tri = triangle_count(e, "lo", "hi")
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    d = F.col("degree").cast("double")
    return deg.join(tri, "node").select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            2.0 * F.col("triangles").cast("double") / (d * (d - 1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("coefficient"),
    )


def _peel_round(e: DataFrame, k: int) -> DataFrame:
    """One k-core peel round, pre-checkpoint: ONE degree hash-agg over
    the canonical edge list plus TWO left-semi joins keeping only
    edges whose endpoints both survive. Module-level so the plan-shape
    suite can lock the per-round shape (the eager checkpoint in
    :func:`k_core` truncates lineage in the final plan)."""
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    keep = deg.filter(F.col("degree") >= k).select("node")
    return e.join(keep, e["lo"] == keep["node"], "left_semi").join(
        keep, F.col("hi") == keep["node"], "left_semi"
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of the undirected simple graph: iteratively peel
    every node whose degree (within the remaining subgraph) is below
    ``k`` until none remains, and return ``(node, core_degree)`` for
    the survivors — ``core_degree`` is the node's degree INSIDE the
    core. Empty when the graph has no k-core. The classic "dense
    kernel" extractor: spam/link-farm detection keys on abnormally
    deep cores, and seed-set curation keeps only the well-embedded
    part of a citation/link graph.

    Scale shape: each peel round is ONE degree hash-agg over the
    current edge list plus TWO semi-joins filtering edges to
    surviving endpoints — all edge-sized shuffles, payload never
    moves. The edge list is checkpointed per round (flat plan, same
    lineage hygiene as :func:`pagerank`); convergence is detected by
    comparing edge counts — one cheap action per round against
    just-materialized data. Rounds are bounded by the graph's
    degeneracy ordering depth, small in practice (web graphs: tens).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    a, b = F.col(src), F.col(dst)
    e = materialize(
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct(),
        stable=True, eager=True,
    )
    n_edges = e.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        e2 = materialize(_peel_round(e, k), stable=True, eager=True)
        n2 = e2.count()
        e = e2
        if n2 == n_edges:
            break
        n_edges = n2
    return (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    include_existing: bool = False,
    max_center_degree: int | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Classic neighborhood link-prediction scores for every node
    pair at distance 2 in the UNDIRECTED simple graph (direction,
    duplicates and self-loops ignored): ``(a, b,
    common_neighbors, jaccard, adamic_adar, pref_attach)`` with
    ``a < b``. Existing edges are anti-joined away unless
    ``include_existing`` (with it, the same scores double as edge
    STRENGTH features). In corpus curation this ranks which document/
    domain pairs a citation or hyperlink graph implies but does not
    yet contain — and Adamic-Adar (sum of 1/ln(degree) over shared
    neighbors, Adamic & Adar 2003) is the standard "specific shared
    context beats generic hubs" weighting.

    Distributed shape (the :func:`triangle_count` wedge pattern run
    for PAIR scoring instead of closure): symmetrize the canonical
    edge list, self-join on the center node to enumerate each
    neighbor pair once (``x < y``), aggregate count + sum(1/ln(deg))
    per pair in one hash agg, then attach endpoint degrees (two joins
    against the node-sized degree frame) for Jaccard and preferential
    attachment. Wedge fan-out is sum(deg^2) — the hub hazard.
    ``max_center_degree`` drops super-hub CENTERS before the
    self-join, the principled cap: a degree-d hub contributes d^2
    wedge rows but only 1/ln(d) -> 0 Adamic-Adar signal apiece, so
    the cap removes the quadratic cost exactly where the signal is
    weakest (endpoint degrees stay uncapped and exact). Candidate
    pairs, not documents, are the only thing shuffled."""
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    adj = e.select(F.col("lo").alias("c"), F.col("hi").alias("n")).unionByName(
        e.select(F.col("hi").alias("c"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    centers = adj.join(deg, "c")
    if max_center_degree is not None:
        centers = centers.filter(F.col("deg") <= int(max_center_degree))
    w1 = centers.select("c", F.col("n").alias("x"), "deg")
    w2 = centers.select("c", F.col("n").alias("y"))
    wedges = w1.join(w2, "c").filter(F.col("x") < F.col("y"))
    scored = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(F.lit(1.0) / F.log("deg")).alias("adamic_adar"),
    )
    if not include_existing:
        scored = scored.join(
            e,
            (scored["x"] == e["lo"]) & (scored["y"] == e["hi"]),
            "left_anti",
        )
    dx = deg.select(F.col("c").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("c").alias("y"), F.col("deg").alias("dy"))
    out = scored.join(dx, "x").join(dy, "y")
    jac = F.col("common_neighbors") / (
        F.col("dx") + F.col("dy") - F.col("common_neighbors")
    )
    aa = F.col("adamic_adar")
    if round_to is not None:
        jac = F.round(jac, round_to)
        aa = F.round(aa, round_to)
    return out.select(
        F.col("x").alias("a"),
        F.col("y").alias("b"),
        "common_neighbors",
        jac.alias("jaccard"),
        aa.alias("adamic_adar"),
        (F.col("dx") * F.col("dy")).alias("pref_attach"),
    )
