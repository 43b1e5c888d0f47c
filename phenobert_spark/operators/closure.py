"""Distributed graph fixpoints: transitive closure (SURVEY.md §2.3 J6)
and connected components (the dedup clustering stage).

The ontology closure itself is driver-side BFS (17k nodes — broadcast
territory, SURVEY.md §4 item 3). This operator is the distributed form
for graphs that do NOT fit on the driver: iterative self-join to
fixpoint with early termination, the standard semi-naive evaluation.

Scale notes: each iteration is one shuffle on the join key; frontier
shrinks monotonically (only NEW pairs join the next round), and
checkpoints truncate the lineage so the plan does not grow
exponentially with iterations. :func:`connected_components` and
:func:`transitive_closure` leave their caching, checkpoint cadence and
cache release to :class:`~phenobert_spark.operators._loop.Fixpoint`;
the other loops here checkpoint every round.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._loop import Fixpoint


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Undirected connected components via hash-min label propagation:
    every node's label converges to the MINIMUM node id in its
    component. Returns (node, component); ``component == node`` marks
    the canonical representative — the standard final stage of a
    near-duplicate dedup pipeline (LSH/Jaccard pairs -> clusters ->
    keep one doc per cluster).

    Scale shape: each iteration is one equi-join (labels shuffled on
    the edge endpoint) plus one min-aggregate (map-side partial
    combine), both on the node key — no cross join, no driver-side
    graph. Convergence needs O(component diameter) iterations;
    near-dup graphs are dense clusters with tiny diameters (2-4 in
    practice), which is why plain hash-min is chosen over the
    alternating large-star/small-star variant (that halves iterations
    for path-shaped graphs at the cost of 2x the joins per round —
    wrong trade here). A :class:`~phenobert_spark.operators._loop.Fixpoint`
    checkpoint every 3 rounds keeps the plan flat across iterations; the
    per-round convergence probe is one scalar hash-sum aggregate (the
    exact changed-row join runs once, to confirm the fixed point — not
    every round).

    ``nodes``: optional (node) DataFrame for singletons that appear in
    no edge — they come back labeled with themselves. Edges with a NULL
    endpoint are dropped: a NULL is no node and joins no component.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropna()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    endpoints = sym.select(F.col("src").alias("node")).distinct()
    if nodes is not None:
        endpoints = (
            nodes.select(F.col(nodes.columns[0]).alias("node"))
            .unionByName(endpoints)
            .distinct()
        )
    with Fixpoint() as fp:
        labels = fp.pin(endpoints.select("node", F.col("node").alias("component")))
        # sym is re-joined every round, always on "dst"; the label side
        # arrives hash(node)-partitioned from its aggregate
        sym = fp.pin(sym, "dst")
        prev_sig = None
        # Each round's labels are cached: the convergence probe and the
        # next round's join both read them (uncached, every round ran its
        # join+aggregate twice: 45.7 s vs 14 s on the 80k-doc dedup
        # graph), and a cache keeps the aggregate's hash(node)
        # partitioning for the next join, where a checkpoint erases it.
        # labels feeds the next round twice (union + join), so lineage
        # doubles per round (2^i plan nodes, a driver-heap OOM by ~20
        # rounds) until a checkpoint: every 3 rounds caps it.
        for _ in fp.rounds(max_iters, every=3):
            # pull each neighbor's current label onto the node, keep the min
            prop = sym.join(
                labels.withColumnRenamed("node", "dst"), on="dst"
            ).select(F.col("src").alias("node"), "component")
            new_labels = fp.carry(
                labels.unionByName(prop)
                .groupBy("node")
                .agg(F.min("component").alias("component")),
                cached=True,
            )
            # Convergence probe: labels are per-node monotone non-increasing
            # (min), so the label multiset is unchanged iff a hash-sum over
            # (node, component) is — ONE scalar aggregate per round instead
            # of a join + isEmpty. The hash-sum is a w.h.p. signal, so the
            # fixed point is CONFIRMED with the exact changed-row join once,
            # not every round.
            # decimal(20,0) sum widens to decimal(30,0): no ANSI long
            # overflow even summing 1e10 max-int64 hashes
            sig = new_labels.agg(
                F.sum(
                    F.xxhash64("node", "component").cast("decimal(20,0)")
                ).alias("s"),
                F.count("*").alias("n"),
            ).collect()[0]
            if prev_sig is not None and (sig[0], sig[1]) == prev_sig:
                changed = (
                    new_labels.join(
                        labels.withColumnRenamed("component", "old"), on="node"
                    )
                    .filter(F.col("component") < F.col("old"))
                )
                if changed.isEmpty():
                    return fp.result(new_labels)
            prev_sig = (sig[0], sig[1])
            labels = new_labels
        # Exiting via max_iters means labels may be UNCONVERGED: a
        # long-diameter chain would get split into multiple "components",
        # and a dedup job built on top would keep several "canonical" docs
        # for one true cluster with no error signal. Warn loudly — callers
        # with legitimately deep graphs should raise max_iters.
        warnings.warn(
            f"connected_components hit max_iters={max_iters} without "
            "converging; returned labels may split long-diameter components",
            RuntimeWarning,
            stacklevel=2,
        )
        return fp.result(labels)


def transitive_closure(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """edges(child, parent) -> closure(node, anc): all (node, ancestor)
    pairs reachable through one or more parent hops.

    Every round's ``new`` and ``closure`` are cached: each is read 2-3
    times per round (the emptiness probe, the anti-join, the union, the
    next hop), and uncached, round i re-ran the lineage of rounds
    0..i-1 several times over. ``closure`` feeds the next round twice
    (anti-join + union), so its lineage doubles per round until a
    checkpoint: every 4 rounds keeps the plan linear in depth.

    Exiting through ``max_iters`` with a non-empty frontier returns an
    incomplete closure and emits a ``RuntimeWarning``."""
    with Fixpoint() as fp:
        closure = fp.pin(
            edges.select(F.col("child").alias("node"), F.col("parent").alias("anc"))
            .distinct()
        )
        up = fp.pin(
            edges.select(F.col("child").alias("_c"), F.col("parent").alias("_p"))
        )
        frontier = closure
        for _ in fp.rounds(max_iters, every=4):
            # extend the frontier one hop: (node -> anc) + (anc -> anc')
            stepped = (
                frontier.join(up, frontier.anc == up._c)
                .select("node", F.col("_p").alias("anc"))
                .distinct()
            )
            new = fp.carry(
                stepped.join(closure, on=["node", "anc"], how="left_anti"),
                cached=True,
            )
            if new.isEmpty():
                break
            closure = fp.carry(closure.unionByName(new).distinct(), cached=True)
            frontier = new
        else:
            warnings.warn(
                f"transitive_closure hit max_iters={max_iters} with a "
                "non-empty frontier; the returned closure may be incomplete",
                RuntimeWarning,
                stacklevel=2,
            )
        return fp.result(closure)


def transitive_reduction(
    edges: DataFrame, closure: DataFrame | None = None, max_iters: int = 30
) -> DataFrame:
    """edges(child, parent) -> the minimal edge subset with the same
    transitive closure (valid for DAGs): drop every edge (a, b) for
    which some longer path a -> .. -> b exists, i.e. (a, b) is also a
    two-hop pair of the closure. This is the post-extraction edge
    cleanup of KG construction — relation extractors emit shortcut
    is-a edges (mention links to both a term and its ancestor) that
    the reduction removes so the ontology DAG stays minimal; the
    reference's ancestor-closure dedup (util.py:1217-1224, keeping
    only the most specific HPO ID per doc) is the node-set special
    case of the same rule.

    Scale shape: one self-join of the closure keyed on the middle
    node (shuffle on `_m`), then a left-anti join back onto the edge
    set. For ontology-sized closures the anti-join side broadcasts;
    for corpus-scale graphs both sides hash-partition on
    (child, parent). No driver collection at any size.
    """
    e = edges.select("child", "parent").distinct()
    if closure is None:
        closure = transitive_closure(e, max_iters=max_iters)
    left = closure.select(
        F.col("node").alias("child"), F.col("anc").alias("_m")
    )
    right = closure.select(
        F.col("node").alias("_m"), F.col("anc").alias("parent")
    )
    two_hop = left.join(right, "_m").select("child", "parent").distinct()
    return e.join(two_hop, ["child", "parent"], "left_anti")


def cyclic_nodes(
    edges: DataFrame, closure: DataFrame | None = None, max_iters: int = 30
) -> DataFrame:
    """edges(child, parent) -> (node) for every node on a directed
    cycle — the ontology-quality gate a KG build runs BEFORE trusting
    any closure-derived semantics. Every ancestor-closure consumer
    here (IC, MICA, BMA, canonicalization, subtree filters) assumes a
    DAG; at 10^12-file scale the extracted is-a edge set WILL contain
    bad back-edges, and :func:`transitive_closure` on a cyclic input
    still terminates (the semi-naive frontier saturates — the pair
    space is finite and the left-anti guard admits each pair once)
    but silently yields self-ancestor pairs that corrupt downstream
    dedup and similarity. This gate makes the failure explicit: a
    node lies on a cycle iff the saturated closure contains
    (node, node).

    Scale shape: inherits transitive_closure's iterated broadcast-or-
    hash joins; the final filter is a narrow predicate on the closure
    — no extra shuffle beyond the closure itself, which the caller
    usually needs anyway (pass it via ``closure=`` to share the plan).
    """
    if closure is None:
        closure = transitive_closure(edges, max_iters=max_iters)
    return (
        closure.filter(F.col("node") == F.col("anc"))
        .select("node")
        .distinct()
    )


def star_components(
    star_edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Two-level connected components specialized for star-contracted
    edge tables (``dedup.lsh_star_edges``: every edge is rep -> doc).

    The iterative label propagation of :func:`connected_components`
    touches the full corpus-sized edge table EVERY round — at 1.28M
    docs that loop dominated the e2e dedup wall clock and capped its
    core-scaling. Here the iteration runs on the REP graph instead:

    1. per doc, link its reps to the doc's min rep (one window over
       the corpus — a bucket of c docs never materializes c^2 rows),
    2. label-propagate on the rep graph only — bounded by the number
       of distinct LSH buckets, typically ~#unique contents, not
       corpus size,
    3. join rep labels back onto docs (one corpus-sized equi-join).

    Labels are IDENTICAL to connected_components on the same edges
    (pinned by test): two reps are connected in the rep graph iff
    connected through shared docs in the star graph, and a cluster's
    global-min doc is itself the rep of every bucket containing it,
    so the rep-graph minimum IS the doc-graph minimum.

    ``nodes``: optional singleton universe, as in connected_components.
    """
    e = star_edges.select(F.col(src).alias("_r"), F.col(dst).alias("_d"))
    e = e.localCheckpoint(eager=True)
    from pyspark.sql import Window

    w = Window.partitionBy("_d")
    # the corpus-sized window output feeds THREE consumers (the probe
    # action below, the rep graph, and doc_labels) — pin it so the
    # window shuffle runs once, not once per action
    dm = e.select(
        "_d", "_r", F.min("_r").over(w).alias("_m")
    ).localCheckpoint(eager=False)
    reps = e.select(F.col("_r").alias("node")).distinct()
    # reps sharing a doc connect through the doc's min rep; AND a doc
    # that is itself a rep (of another bucket) carries its own rep-hood
    # into the graph — without the second edge set, a chain
    # repA -> doc -> doc's-own-bucket would split (caught by the
    # randomized parity test)
    shared = dm.filter(F.col("_r") != F.col("_m")).select(
        F.col("_m").alias("src"), F.col("_r").alias("dst")
    )
    self_rep = (
        dm.select("_d", "_m")
        .distinct()
        .join(reps.withColumnRenamed("node", "_d"), on="_d", how="left_semi")
        .select(
            F.least("_m", "_d").alias("src"),
            F.greatest("_m", "_d").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    rep_edges = shared.unionByName(self_rep).distinct()
    # Small rep graphs (the common dedup case: #edges ~ #chained
    # buckets) pay ~10s of pure stage-scheduling latency in the
    # iterative propagation — a flat cost that wrecks core-scaling of
    # the whole job. Below the threshold, union-find the collected
    # edges on the driver instead (the same small-graph escape hatch
    # as the driver-side ontology BFS); past it, iterate distributed.
    # Either way rep_labels only covers edge-touched reps — edgeless
    # reps are their own component (they are the min of their bucket)
    # and are backfilled by the coalesce below / the universe union.
    # ONE action probes size AND fetches the edges: below the
    # threshold the probe rows ARE the edge list, so the separate
    # collect() (a second full pass) disappears.
    probe_rows = rep_edges.limit(driver_threshold + 1).collect()
    small = len(probe_rows) <= driver_threshold
    if small:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in probe_rows:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        spark = rep_edges.sparkSession
        schema = (
            "node "
            + rep_edges.schema["src"].dataType.simpleString()
            + ", component "
            + rep_edges.schema["src"].dataType.simpleString()
        )
        rep_labels = spark.createDataFrame(
            [(n, find(n)) for n in parent], schema
        )
    else:
        rep_labels = connected_components(rep_edges, max_iters=max_iters)
    doc_labels = (
        dm.select(F.col("_d").alias("node"), F.col("_m").alias("_rep"))
        .distinct()
        .join(
            F.broadcast(rep_labels.withColumnRenamed("node", "_rep"))
            if small
            else rep_labels.withColumnRenamed("node", "_rep"),
            on="_rep",
            how="left",
        )
        .select(
            "node", F.coalesce("component", F.col("_rep")).alias("component")
        )
    )
    # Finalize in ONE corpus-sized aggregate: hash-min labels satisfy
    # component <= node, so unioning doc labels, rep labels, and the
    # full node universe self-labeled and taking min() per node both
    # dedupes the doc/rep overlap (their labels are equal — connected)
    # AND backfills singletons — no separate left_anti pass.
    parts = [rep_labels, doc_labels]
    if nodes is not None:
        node_col = nodes.columns[0]
        parts.append(
            nodes.select(
                F.col(node_col).alias("node"),
                F.col(node_col).alias("component"),
            )
        )
    else:
        # edgeless reps are in neither rep_labels nor doc_labels;
        # without a universe they must self-label explicitly
        parts.append(reps.select("node", F.col("node").alias("component")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("node").agg(F.min("component").alias("component"))


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 60,
) -> DataFrame:
    """Single-source-set BFS over a directed edge table: minimum hop
    count from ANY source node to every reachable node. Returns
    (node, dist) with sources at dist 0 — the distributed form of the
    reference's ontology depth / hop-distance walks (reference
    ``util.py`` computes HPO depths driver-side on the in-memory DAG;
    this is the same semantics for graphs that don't fit a driver).

    Semi-naive frontier expansion: each round joins ONLY the frontier
    (nodes first reached last round) against the edge table, anti-joins
    the visited set, and tags survivors with ``dist = round``. BFS
    order guarantees the first visit is the minimum distance, so no
    per-node min-reduction is ever needed. Cost per round is one
    equi-join + one anti-join shuffled on the node key; the frontier
    is the only growing input, and ``localCheckpoint`` keeps the plan
    flat. Rounds = graph depth from the sources (the unavoidable
    sequential dimension of BFS).

    Raises RuntimeError if the frontier is still non-empty after
    ``max_iters`` — a silently truncated BFS would report missing
    nodes as unreachable, the same failure mode connected_components
    warns about.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for i in range(1, max_iters + 1):
        stepped = (
            frontier.join(e, frontier.node == e._s)
            .select(F.col("_t").alias("node"))
            .distinct()
        )
        new = stepped.join(dist, on="node", how="left_anti").select(
            "node", F.lit(i).cast("bigint").alias("dist")
        )
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            return dist
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select("node")
    raise RuntimeError(
        f"bfs_distances: frontier non-empty after max_iters={max_iters}; "
        "graph is deeper than the iteration budget"
    )


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iters: int = 60,
) -> DataFrame:
    """Weighted single-source-set shortest paths (non-negative edge
    weights): minimum total weight from ANY source to every reachable
    node. Returns (node, dist); sources at 0. The weighted sibling of
    :func:`bfs_distances` — frontier-driven Bellman-Ford relaxation,
    the distributed fixpoint for graphs too big for a driver-side heap
    (a Dijkstra PQ is inherently sequential; at cluster scale the
    per-round relax-join IS the standard formulation, cf. Pregel SSSP).

    Each round relaxes only edges leaving the CURRENT frontier (nodes
    whose distance improved last round): one equi-join + one keyed min
    — map-side combinable — then a min-merge against the running
    distances; a node re-enters the frontier only on strict
    improvement, so with non-negative weights the loop terminates in
    at most (longest shortest-path hop count) rounds.
    localCheckpoint flattens lineage per round. Raises RuntimeError if
    the frontier survives ``max_iters`` (same contract as
    bfs_distances — silent truncation would mislabel reachable nodes).
    """
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_t"),
        F.col(weight).cast("double").alias("_w"),
    )
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0.0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_iters):
        relaxed = (
            frontier.join(e, frontier.node == e._s)
            .groupBy(F.col("_t").alias("node"))
            .agg(F.min(F.col("dist") + F.col("_w")).alias("_cand"))
        )
        merged = (
            dist.join(relaxed, on="node", how="full")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(float("inf"))),
                    F.coalesce("_cand", F.lit(float("inf"))),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("_cand") < F.col("dist"))
                ).alias("_improved"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = merged.filter(
            F.coalesce("_improved", F.lit(False))
        ).select("node", "dist")
        dist = merged.select("node", "dist")
        if frontier.isEmpty():
            return dist
    raise RuntimeError(
        f"sssp_distances: frontier non-empty after max_iters={max_iters}"
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_trim_iters: int = 20,
    max_iters: int = 30,
) -> DataFrame:
    """Directed SCCs: (node, component) with component = the smallest
    node id in the strongly connected component — the directed
    counterpart of :func:`connected_components`, used to collapse
    mutually-entailing concept clusters (synonym rings extracted as
    is-a cycles) before trusting any DAG semantics, where
    :func:`cyclic_nodes` only *flags* them.

    Two phases, mirroring Trim + decomposition from the distributed
    SCC literature (FW-BW-Trim, McLendon et al. 2005; Multistep,
    Slota et al. 2014):

    * **Trim**: iteratively drop nodes with zero in-degree or zero
      out-degree in the remaining subgraph — they can't lie on a
      cycle, so they are singleton SCCs. On the graphs this engine
      targets (extracted is-a edges, dependency graphs) the
      overwhelming bulk is acyclic and trims away in a few rounds;
      each round is two distinct-projections + two left-semi joins,
      all node-keyed.
    * **Core**: on the surviving cyclic core, SCC(u) = min over
      {u} union {v : u ->* v and v ->* u}, computed as the semi-naive
      :func:`transitive_closure` of the core intersected with its
      transpose (one self-join on the pair key), then a keyed min.
      The closure is quadratic in core reachability — acceptable
      exactly BECAUSE trim shrank the core to the cycle-touching
      residue; for a core that is itself web-scale, the next step up
      is the FW-BW pivot recursion, which composes from the same
      bfs_distances primitives.

    Nodes that survive trim but sit on no cycle (bridges BETWEEN
    cycles) fall out correctly: they have no mutual pair, so the
    reflexive union leaves them as singletons. Output is exact and
    deterministic for any input.
    """
    e = (
        edges.select(
            F.col(src).cast("string").alias("a"),
            F.col(dst).cast("string").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    core = e
    n_edges = core.count()
    for _ in range(max_trim_iters):
        keep = (
            core.select(F.col("a").alias("node"))
            .distinct()
            .join(core.select(F.col("b").alias("node")).distinct(), "node")
        )
        nxt = (
            core.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        core = nxt
        if n_nxt == n_edges:
            break
        n_edges = n_nxt
    core_nodes = (
        core.select(F.col("a").alias("node"))
        .unionByName(core.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    clo = transitive_closure(
        core.select(F.col("a").alias("child"), F.col("b").alias("parent")),
        max_iters=max_iters,
    )
    mutual = clo.join(
        clo.select(F.col("anc").alias("node"), F.col("node").alias("anc")),
        ["node", "anc"],
    )
    partners = mutual.unionByName(
        core_nodes.select("node", F.col("node").alias("anc"))
    )
    scc_core = partners.groupBy("node").agg(F.min("anc").alias("component"))
    trimmed = all_nodes.join(core_nodes, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return scc_core.unionByName(trimmed)


def topo_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Longest-path topological layering of a DAG: (node, layer) with
    layer(v) = 0 for nodes with no incoming edge and otherwise
    1 + max(layer(u)) over edges u -> v — i.e. the length of the
    longest path reaching v from any source. This is the layering a
    dependency scheduler consumes (every node's inputs live in
    strictly lower layers, so layers execute as sequential waves with
    full parallelism inside each wave) and the ontology analog of
    "depth when every parent must be counted" (the reference computes
    driver-side HPO depths on the in-memory DAG; this is the
    distributed form for graphs that don't fit a driver).

    Fixed-point DP rather than Kahn peeling: start every node at the
    lower bound (0 for sources; 1 for anything with an in-edge) and
    repeat layer(v) <- max(layer(v), 1 + max incoming layer(u)) until
    unchanged. Each round is one edge equi-join + one dst-keyed max —
    both combiner-friendly — and the round count equals the DAG depth,
    the same bound every frontier op in this module pays
    (:func:`bfs_distances`, :func:`transitive_closure`);
    `localCheckpoint` keeps lineage flat. Layers only ever increase
    and are bounded by depth on a DAG, so non-convergence within
    ``max_iters`` means a cycle (or a deeper graph): raise and point
    at :func:`strongly_connected_components` / :func:`cyclic_nodes`.
    """
    e = (
        edges.select(
            F.col(src).cast("string").alias("u"),
            F.col(dst).cast("string").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    has_in = e.select(F.col("v").alias("node")).distinct()
    layer = (
        nodes.join(has_in.withColumn("_h", F.lit(1)), "node", "left")
        .select(
            "node",
            F.coalesce("_h", F.lit(0)).cast("bigint").alias("layer"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        bumped = (
            e.join(
                layer.select(F.col("node").alias("u"), F.col("layer").alias("_lu")),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg((F.max("_lu") + F.lit(1)).alias("_cand"))
        )
        nxt = (
            layer.join(bumped, "node", "left")
            .select(
                "node",
                F.greatest(
                    F.col("layer"), F.coalesce("_cand", F.lit(0))
                ).alias("layer"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.join(
                layer.select("node", F.col("layer").alias("_old")), "node"
            )
            .filter(F.col("layer") != F.col("_old"))
            .count()
        )
        layer = nxt
        if changed == 0:
            return layer
    raise RuntimeError(
        f"topo_layers did not converge in max_iters={max_iters}: the "
        "graph has a cycle or is deeper than the budget — run "
        "strongly_connected_components/cyclic_nodes to locate cycles"
    )
