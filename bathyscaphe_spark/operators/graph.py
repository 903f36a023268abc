"""Link-graph priority: fixed-point PageRank over the crawl's link graph.

The reference schedules FIFO (`scheduler/scheduler.go` — the AMQP queue
IS the ordering); at a 10^10-URL frontier the engine wants an
importance-ordered fetch instead, and the crawl already *produces* the
link graph as a by-product of extraction (src page → dst URL).  This
operator turns that graph into a per-node priority that
``politeness.rank_frontier`` can consume as its priority column —
iterative graph algorithms are exactly what the batch-iterative round
loop is shaped for.

Determinism across engines and cluster sizes
--------------------------------------------
Ranks are computed in FIXED-POINT integer arithmetic (``SCALE`` = 1e12
micro-units, damping 85/100 as an integer ratio, integer floor
division).  Floats would drift between DuckDB and the JVM and between
reduction orders at different parallelism; BIGINT sums are associative,
so the result is bit-identical at local[1] and on a 1000-executor
cluster — the same property the crawl's scaling protocol pins with
output fingerprints.  Dangling-node mass is dropped (the documented
variant; deterministic, and mirrored exactly by the DuckDB oracle).

Scale design
------------
Edges are the big side (up to ~1e11 rows at 100 TB) and are touched once
per iteration by a single shuffle: ``edges ⋈ ranks`` hash-partitioned on
``src``, then ``groupBy(dst)`` with map-side partial sums.  The
out-degree join is computed once and reused across iterations
(persisted), and the node set is likewise persisted (without it each
iteration's left join and the N count would re-scan edges twice to
rebuild it), so each iteration adds one edge-side join + one
aggregation + one node-side left join against cached node rows.
Ranks are one row per node — orders of magnitude smaller than edges —
and AQE's skew handling splits mega-host in-degree hubs.  Pre-bucketing
edges by ``src`` (Iceberg ``bucket(src)``) makes the per-iteration join
co-located at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12  # rank micro-units: 1.0 == 10^12

CC_MAX_ITERS = 50  # safety rail; convergence is checked every round


def connected_components(edges: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components over an undirected edge list
    ``edges(src: long, dst: long)`` → ``(node: long, comp: long)`` with
    ``comp`` = the minimum node id in the node's component.

    This is the pairs→clusters step of corpus-level fuzzy dedup: LSH
    emits verified near-dup PAIRS, but "keep one document per duplicate
    set" needs the transitive closure (a≈b, b≈c ⇒ {a,b,c} one cluster,
    as in the RefinedWeb / SlimPajama pipelines).

    Algorithm: min-label propagation.  Each round every node takes the
    min of its own label and its neighbors' labels (one hash join
    edges⋈labels partitioned on the join key + one groupBy(min) with
    map-side partial agg).  Labels only ever decrease, so Σ labels is a
    strictly decreasing BIGINT-exact monotone; the loop stops the first
    round it is unchanged.  Convergence takes O(diameter) rounds —
    near-dup clusters are LSH near-cliques (diameter ≲ 3 even at
    10^10 docs), so 2-4 rounds in practice; ``max_iters`` is a rail,
    not a tuning knob.

    Determinism: min over BIGINT ids is associative/commutative —
    bit-identical at any parallelism.  Scale: state is one row per
    node appearing in any pair (orders of magnitude smaller than the
    corpus — only near-dup members), the edge set is touched once per
    round by a single shuffle, and each round's labels are
    localCheckpoint'ed so lineage stays O(1).
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    # lazy checkpoints: the Σ-comp convergence collect right below is the
    # action that materializes each round's labels, so the eager variant
    # would run a second, redundant job per round (guide §1.2: fewer
    # passes) — lineage is truncated identically either way
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # Σ comp in DECIMAL(38,0): exact at any node-count/id scale
    total = labels.agg(
        F.sum(F.col("comp").cast("decimal(38,0)")).alias("t")
    ).collect()[0]["t"]
    try:
        for _ in range(max_iters):
            nbr_min = (
                sym.join(labels, sym["dst"] == labels["node"])
                .groupBy(sym["src"].alias("node"))
                .agg(F.min("comp").alias("nbr_comp"))
            )
            labels = (
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                    ).alias("comp"),
                )
                .localCheckpoint(eager=False)
            )
            new_total = labels.agg(
                F.sum(F.col("comp").cast("decimal(38,0)")).alias("t")
            ).collect()[0]["t"]
            if new_total == total:
                break
            total = new_total
    finally:
        sym.unpersist()
    return labels


CC_STAR_MAX_ITERS = 48  # ≥ 2·log2(n)+safety; path graphs halve per round


def connected_components_star(
    edges: DataFrame, max_iters: int = CC_STAR_MAX_ITERS
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
    "Connected Components in MapReduce and Beyond", SoCC 2014, public):
    the HIGH-DIAMETER companion of ``connected_components``.

    Min-label propagation (the right tool for LSH near-dup cliques,
    diameter ≲ 3) needs O(diameter) rounds — on a WEB/HOST graph whose
    redirect chains and link paths stretch for hundreds of hops that is
    hundreds of full edge shuffles.  The star alternation instead
    CONTRACTS the graph toward depth-1 stars rooted at each component's
    minimum id, converging in O(log n) rounds on paths (each large-star
    doubles the hop length covered) and a handful of rounds on real
    web graphs — the difference between 10 and 300 shuffles at 10^11
    edges.

    large-star(u):  m = min(N(u) ∪ {u});  emit (v, m) for v ∈ N(u), v > u
    small-star(u):  over edges oriented (u > v):  m = min(N⁻(u));
                    emit (v, m) for v ∈ N⁻(u) minus {m}, plus (u, m)

    Both steps are one groupBy-min plus one equi-join — no
    collect_list, so a mega-hub never materializes its adjacency in
    one task (the shuffle spreads its edges; the min is a partial
    agg).  Pairs are kept canonical (min, max) and distinct between
    rounds; every round localCheckpoints to cut lineage.  Convergence
    is an exact integer test: (count, bit_xor of pair hashes)
    unchanged.  Determinism: min over BIGINT — bit-identical at any
    parallelism.

    Returns ``(node, comp)`` for every node incident to any input edge
    (self-loops count as incidence), ``comp`` = min node id of the
    component — the same contract as ``connected_components``.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # canonical undirected pairs (u > v), self-loops dropped
    # lazy: the signature() head below materializes each round's pairs —
    # an eager checkpoint would double the per-round job count
    pairs = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def signature(p: DataFrame) -> tuple[int, int]:
        row = p.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).head()
        return int(row["n"]), int(row["h"] or 0)

    sig = signature(pairs)
    try:
        for _ in range(max_iters):
            if sig[0] == 0:
                break
            # --- large-star over the symmetric view -------------------
            sym = pairs.union(
                pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            m = sym.groupBy("u").agg(
                F.least(F.col("u"), F.min("v")).alias("m")
            )
            ls = (
                sym.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(
                    F.col("v").alias("u"), F.col("m").alias("v")
                )  # v > u ≥ m ⇒ already canonical (u > v), no self-loop
                .distinct()
            )
            # --- small-star over the (u > v) orientation ---------------
            m2 = ls.groupBy("u").agg(F.min("v").alias("m"))
            ss = (
                ls.join(m2, "u")
                .where(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m2.select("u", F.col("m").alias("v")))
                .select(
                    F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
                )
                .distinct()
                .localCheckpoint(eager=False)
            )
            new_sig = signature(ss)
            pairs = ss
            if new_sig == sig:
                break
            sig = new_sig
        # at the fixed point every pair is (member, component-min)
        comp = pairs.groupBy("u").agg(F.min("v").alias("_c"))
        out = nodes.join(
            comp, nodes["node"] == comp["u"], "left"
        ).select("node", F.coalesce("_c", F.col("node")).alias("comp"))
        return out
    finally:
        nodes.unpersist()


DAMP_NUM = 85  # damping factor 0.85 as an integer ratio
DAMP_DEN = 100


def _edges_with_outdeg(edges: DataFrame):
    """Shared fixed-point preamble: ``ed = edges ⋈ outdeg(src)`` has
    exactly the same rows as ``edges`` (the inner join key covers every
    src), so persist IT first and derive the persisted node set from
    the cache — the incoming edge plan (often an expensive uncached
    construction like ``domain_edges``) is then evaluated once, not
    re-run for nodes / count / each iteration, and the node set is
    never re-derived from a double edge scan at 10^11-edge scale.

    Contract: edge endpoints must be NON-NULL (every in-repo producer
    emits hashed or normalized ids, which cannot be null).  A null src
    would match no outdeg group, silently dropping that edge and its
    endpoints from the node universe — callers holding untrusted edges
    must ``na.drop()`` first.

    Returns ``(deg, ed, nodes)``; ``ed`` and ``nodes`` are persisted
    and the caller owns both unpersists.

    Both caches are pinned to an explicit hash partitioning (``ed`` on
    ``src`` — every iteration's rank join key; ``nodes`` on ``node`` —
    every iteration's state key) at ``spark.sql.shuffle.partitions``
    width: the fixed-point loops then repartition their per-iteration
    aggregation ONCE to the same key/width and every join in the loop
    is co-partitioned — no exchange beyond the one inherent edge-sized
    shuffle per iteration (r6; the same alignment as lpa_communities).
    An explicit width survives AQE coalescing, which would otherwise
    give each cache an unpredictable partition count that defeats the
    co-partitioning check."""
    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # invariant across iterations, partitioned on the per-iteration key
    ed = edges.join(deg, "src").repartition(P, "src").persist()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(P, "node")
        .persist()  # re-read every iteration's left join
    )
    return deg, ed, nodes


def _propagate(
    edges: DataFrame,
    iters: int,
    out_col: str,
    trusted: DataFrame | None = None,
    dangling: bool = False,
) -> DataFrame:
    """The one fixed-point rank loop behind ``pagerank_fp``,
    ``trustrank_fp`` and ``pagerank_dangling_fp``.  With teleport set T
    and ``_t`` = [v ∈ T]:

        r_0(v)     = (SCALE div |T|) · _t
        r_{i+1}(v) = ((15·SCALE) div (100·|T|)) · _t
                     + Σ_{(u→v)} (r_i(u)·85) div (100·outdeg(u))
                     [+ (85·D_i) div (100·|T|),  D_i = Σ_{u dangling} r_i(u)]

    T is every node when ``trusted`` is None (``_t`` is then the literal
    1, which the optimizer folds away), else the graph nodes listed in
    the first column of ``trusted`` (broadcast, persisted once as
    ``(node, _t)``).  The bracketed dangling term is added when
    ``dangling``; the wrappers use it only with T = every node.
    |T| = 0 ⇒ every rank is 0.

    Per iteration: one edge-sized join on ``src``, then one repartition
    to the node caches' key/width so the groupBy and the node-keyed
    left join add no exchange of their own; no Python runs in the loop.
    The result is checkpointed eagerly before the ``finally`` releases
    every cache made here.  Returns ``(node, <out_col>)``.
    """
    _, ed, nodes = _edges_with_outdeg(edges)
    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    caches = [ed, nodes]
    try:
        if trusted is None:
            state, t = nodes, F.lit(1)
            n = nodes.count()  # one scalar; materializes both caches
        else:
            tb = F.broadcast(
                trusted.select(F.col(trusted.columns[0]).alias("node")).distinct()
            )
            state = nodes.join(
                tb.withColumn("_t", F.lit(1)), "node", "left"
            ).select("node", F.coalesce("_t", F.lit(0)).alias("_t")).persist()
            caches.append(state)
            t = F.col("_t")
            n = state.where("_t = 1").count()
        if n == 0:
            return nodes.select("node", F.lit(0).cast("long").alias(out_col))
        base = (15 * SCALE) // (100 * n)
        if dangling:
            dang = nodes.join(ed.selectExpr("src AS node"), "node", "left_anti")
            caches.append(dang.persist())
        ranks = state.select("node", (t * (SCALE // n)).cast("long").alias(out_col))
        for _ in range(iters):
            contrib = (
                ed.join(ranks, ed["src"] == ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr(
                        f"({out_col} * {DAMP_NUM}) div ({DAMP_DEN} * outdeg)"
                    ).alias("c"),
                )
                .repartition(P, "node")
                .groupBy("node")
                .agg(F.sum("c").alias("contrib"))
            )
            nxt = state.join(contrib, "node", "left")
            rank = t * F.lit(base) + F.coalesce(F.col("contrib"), F.lit(0))
            if dangling:
                dmass = ranks.join(dang, "node", "leftsemi").agg(
                    F.coalesce(F.sum(out_col), F.lit(0)).alias("_dm")
                )
                nxt = nxt.crossJoin(F.broadcast(dmass))
                rank = rank + F.expr(f"(_dm * {DAMP_NUM}) div ({DAMP_DEN} * {n})")
            ranks = nxt.select("node", rank.cast("long").alias(out_col))
        return ranks.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def pagerank_fp(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-point PageRank over ``edges(src: long, dst: long)``.

    Returns ``(node: long, rank_fp: long)`` with rank in SCALE
    micro-units.  ``edges`` should be distinct pairs without self-loops
    (callers dedup; the crawl's extraction path already emits distinct
    normalized links per page).

    r_{i+1}(v) = (15·SCALE) div (100·N)
                 + Σ_{(u→v)} (r_i(u)·85) div (100·outdeg(u))
    """
    return _propagate(edges, iters, "rank_fp")


def opic_fp(edges: DataFrame, sweeps: int = 4) -> DataFrame:
    """Batch OPIC (Abiteboul, Preda & Cobéna 2003, "Adaptive On-Line
    Page Importance Computation" — public) over
    ``edges(src: long, dst: long)`` → ``(node, cash_fp, hist_fp)``.

    OPIC is the CRAWL-NATIVE importance estimator: unlike PageRank it
    needs no convergence before it is usable — every page carries
    "cash"; reading a page banks its cash into its history and deals
    the cash to its outlinks, and ``history + cash`` is an unbiased
    importance estimate AT EVERY MOMENT of the crawl.  The batch
    adaptation reads one frontier WAVE per sweep (exactly the shape of
    the engine's round loop): all nodes distribute simultaneously
    (Jacobi order — parallelism-friendly and deterministic).

    Dangling mass is NOT dropped (the leak ``pagerank_fp`` documents
    and accepts): OPIC's virtual node absorbs the cash of zero-outdegree
    pages each sweep and redistributes it uniformly on the next — kept
    in-plan as a broadcast 1-row aggregate, never a driver collect.

        h_{i+1}(v) = h_i(v) + c_i(v)
        c_{i+1}(v) = Σ_{u→v} c_i(u) div outdeg(u)  +  virt_i div N
        virt_{i+1} = Σ_{outdeg(u)=0} c_i(u)

    Fixed-point integer arithmetic (SCALE micro-units, floor division)
    — bit-identical across engines, reduction orders and cluster sizes,
    like every graph operator here.

    Scale: per sweep one edges⋈state join shuffled on ``src`` + one
    ``groupBy(dst)`` with map-side partial sums (the only edge-sized
    work), one node-sized dangling-sum aggregate, one node-sized left
    join.  Node set and edges⋈outdeg are persisted across sweeps;
    state is one row per node.
    """
    deg, ed, nodes = _edges_with_outdeg(edges)
    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n = nodes.count()
    if n == 0:
        df = nodes.select(
            "node",
            F.lit(0).cast("long").alias("cash_fp"),
            F.lit(0).cast("long").alias("hist_fp"),
        )
        nodes.unpersist()
        ed.unpersist()
        return df
    # (node, outdeg-or-null) — classifies dangling nodes once, reused
    # every sweep for the virtual-node absorption sum
    nd = nodes.join(
        deg.select(F.col("src").alias("node"), "outdeg"), "node", "left"
    ).persist()
    try:
        state = nodes.select(
            "node",
            F.lit(SCALE // n).cast("long").alias("cash"),
            F.lit(0).cast("long").alias("hist"),
        )
        virt = None  # 1-row (vcash) DataFrame; None ⇒ 0 on sweep 0
        for _ in range(sweeps):
            inflow = (
                ed.join(state, ed["src"] == state["node"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr("cash div outdeg").alias("c"),
                )
                .repartition(P, "node")
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"))
            )
            new_virt = (
                nd.join(state, "node")
                .where(F.col("outdeg").isNull())
                .agg(F.coalesce(F.sum("cash"), F.lit(0)).alias("vcash"))
            )
            vshare = (
                F.lit(0).cast("long")
                if virt is None
                else F.expr(f"vcash div {n}")
            )
            nxt = state.join(inflow, "node", "left").select(
                "node",
                F.coalesce(F.col("inflow"), F.lit(0)).alias("_in"),
                (F.col("hist") + F.col("cash")).cast("long").alias("hist"),
            )
            if virt is not None:
                nxt = nxt.crossJoin(F.broadcast(virt))
            # lazy: lineage cut per sweep, all sweeps materialize in the
            # final eager checkpoint's one cascading job (guide §1.2)
            state = nxt.select(
                "node",
                (F.col("_in") + vshare).cast("long").alias("cash"),
                "hist",
            ).localCheckpoint(eager=False)
            virt = new_virt.localCheckpoint(eager=False)
        out = state.select(
            "node",
            F.col("cash").alias("cash_fp"),
            F.col("hist").alias("hist_fp"),
        ).localCheckpoint(eager=True)
    finally:
        ed.unpersist()
        nd.unpersist()
        nodes.unpersist()
    return out


def resolve_redirects(edges: DataFrame, max_doublings: int = 6) -> DataFrame:
    """Resolve redirect chains to their final landing URL by POINTER
    DOUBLING: O(log L) self-joins instead of one join per hop.

    The reference follows ≤302 redirects one hop at a time inside the
    HTTP client (`internal/http/client.go:48-56` — fasthttp's redirect
    loop); at frontier scale the engine instead materializes the
    redirect edges the crawl observed (src page → Location target) and
    collapses whole chains relationally, so canonicalization, the
    seen-set, and the frontier all key on the FINAL URL, not on
    intermediate 301 hops.

    ``edges(src: long, dst: long)`` must be functional — one outgoing
    redirect per src (a URL redirects to one place).  Returns
    ``(src, final, hops, unresolved)``: ``final`` is the node reached
    after following at most ``2^max_doublings`` hops; ``hops`` is the
    exact chain length when the chain terminates within the cap (the
    landing node has no outgoing redirect), else exactly
    ``2^max_doublings``; ``unresolved`` marks chains still pointing
    onward — redirect cycles or chains beyond the cap, both crawl
    traps the scheduler drops.

    Scale: each doubling step composes the pointer table with itself —
    one equi-join shuffled on the key, state one row per redirecting
    URL — so a length-64 chain costs 6 joins, not 64, and lineage stays
    O(1) via per-step localCheckpoint.  Determinism: pure integer
    joins; bit-identical at any parallelism.
    """
    ptr = edges.select(
        F.col("src").alias("node"),
        F.col("dst").alias("nxt"),
        F.lit(1).cast("long").alias("hops"),
    )
    for _ in range(max_doublings):
        j = ptr.select(
            F.col("node").alias("j_node"),
            F.col("nxt").alias("j_nxt"),
            F.col("hops").alias("j_hops"),
        )
        ptr = (
            ptr.join(j, ptr["nxt"] == j["j_node"], "left")
            .select(
                "node",
                F.coalesce("j_nxt", "nxt").alias("nxt"),
                (F.col("hops") + F.coalesce("j_hops", F.lit(0))).alias("hops"),
            )
            # lazy: nothing to protect (no persisted input is dropped
            # before the consumer runs); the consumer's single action
            # materializes all doubling steps as one cascading job
            .localCheckpoint(eager=False)
        )
    src_set = edges.select(F.col("src").alias("t")).distinct()
    return ptr.join(src_set, ptr["nxt"] == src_set["t"], "left").select(
        F.col("node").alias("src"),
        F.col("nxt").alias("final"),
        "hops",
        F.col("t").isNotNull().alias("unresolved"),
    )


HITS_SCALE = 10**6  # hub/authority micro-units: 1.0 == 10^6


def hits_fp(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-point HITS (Kleinberg 1999, public) over
    ``edges(src: long, dst: long)`` → ``(node, hub_fp, auth_fp)``.

    PageRank orders the FETCH (importance of the page itself); HITS
    hubs order SEED DISCOVERY — a high-hub page is a link directory
    whose outlinks are worth re-extracting first, the classic
    crawler-focusing signal.

    Per iteration: ``a(v) = Σ_{u→v} h(u)`` then ``h(u) = Σ_{u→v} a(v)``,
    each half-step max-normalized to ``HITS_SCALE`` with integer floor
    division — BIGINT sums are associative and max/div deterministic,
    so results are bit-identical at any parallelism and in the DuckDB
    oracle.  Scoring joins touch edges once per half-step, partitioned
    on the join key with map-side partial sums; the normalizing max is
    ONE aggregated row attached via broadcast (scalar-attach pattern).

    Overflow headroom: the rescale product ``raw * HITS_SCALE`` must
    fit int64, i.e. max in-degree ≤ ~9·10^6 at SCALE 10^6; beyond that
    (mega-hub graphs) widen the product to DECIMAL(38,0) — ordering is
    unchanged.
    """
    ed = edges.persist()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    try:
        if nodes.count() == 0:
            return nodes.select(
                "node",
                F.lit(0).cast("long").alias("hub_fp"),
                F.lit(0).cast("long").alias("auth_fp"),
            )
        hubs = nodes.withColumn("hub_fp", F.lit(HITS_SCALE).cast("long"))
        auths = None
        for _ in range(iters):
            araw = (
                ed.join(hubs, ed["src"] == hubs["node"])
                .groupBy(F.col("dst").alias("n"))
                .agg(F.sum("hub_fp").alias("raw"))
            )
            amax = araw.agg(F.max("raw").alias("m"))
            auths = araw.crossJoin(F.broadcast(amax)).select(
                F.col("n").alias("node"),
                F.expr(f"(raw * {HITS_SCALE}) div m").alias("auth_fp"),
            )
            hraw = (
                ed.join(auths, ed["dst"] == auths["node"])
                .groupBy(F.col("src").alias("n"))
                .agg(F.sum("auth_fp").alias("raw"))
            )
            hmax = hraw.agg(F.max("raw").alias("m"))
            hubs = (
                hraw.crossJoin(F.broadcast(hmax))
                .select(
                    F.col("n").alias("node"),
                    F.expr(f"(raw * {HITS_SCALE}) div m").alias("hub_fp"),
                )
                # lazy: O(1) lineage per iter, but the whole loop
                # materializes in the final eager checkpoint's ONE job
                # (each lazy segment caches as the cascade computes it)
                # instead of one job per iteration
                .localCheckpoint(eager=False)
            )
        out = (
            nodes.join(hubs, "node", "left")
            .join(auths, "node", "left")
            .select(
                "node",
                F.coalesce("hub_fp", F.lit(0)).cast("long").alias("hub_fp"),
                F.coalesce("auth_fp", F.lit(0)).cast("long").alias("auth_fp"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        ed.unpersist()
        nodes.unpersist()
    return out


def link_reciprocity(
    edges: DataFrame,
    min_links: int = 3,
    min_recip_pm: int = 600,
) -> DataFrame:
    """Reciprocal-link (link-farm) detection over the host graph:
    host pairs that exchange heavy mutual link mass are nepotistic
    candidates (the classic web-spam signal — Fetterly/Gyöngyi line of
    work, public), and their pages rank DOWN in crawl priority where
    PageRank/HITS alone would rank them up.

    ``edges``: directed weighted host edges (src:long, dst:long,
    n:long ≥ 1 — link count, e.g. from the same extraction pass that
    feeds pagerank_fp).  Output one row per unordered host pair:
    (host_a < host_b, fwd — links a→b, rev — links b→a, recip_pm —
    2·min(fwd,rev)·1000 ∕ (fwd+rev), integer permille, reciprocal —
    both directions ≥ ``min_links`` and recip_pm ≥ ``min_recip_pm``).

    Scale/plan: NO join — the pair is canonicalized to
    (least, greatest) and both directions meet in one groupBy(a, b)
    with map-side combine; one shuffle keyed on the pair, pure integer
    arithmetic, bit-identical at any parallelism.  A self-join
    formulation would shuffle the edge table twice for the same
    answer.
    """
    a = F.least("src", "dst")
    b = F.greatest("src", "dst")
    fwd_dir = F.col("src") < F.col("dst")
    pairs = edges.groupBy(a.alias("host_a"), b.alias("host_b")).agg(
        F.coalesce(F.sum(F.when(fwd_dir, F.col("n"))), F.lit(0)).alias("fwd"),
        F.coalesce(F.sum(F.when(~fwd_dir, F.col("n"))), F.lit(0)).alias("rev"),
    )
    recip_pm = F.expr("2 * least(fwd, rev) * 1000 div (fwd + rev)")
    return pairs.select(
        "host_a",
        "host_b",
        "fwd",
        "rev",
        recip_pm.alias("recip_pm"),
        (
            (F.least("fwd", "rev") >= F.lit(min_links))
            & (recip_pm >= F.lit(min_recip_pm))
        ).alias("reciprocal"),
    )


def focused_priority(
    pages: DataFrame,
    weights: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    score_col: str = "score_milli",
    delta_pm: int = 800,
) -> DataFrame:
    """Focused-crawl frontier priorities (shark-search family —
    Hersovici et al. 1998, Chakrabarti et al. 1999, public): a
    discovered URL inherits its parent page's topical relevance,
    tempered by the anchor text that points at it — priority =
    (δ·parent + (1−δ)·anchor) with δ = ``delta_pm``‰, and a child
    linked from several pages takes the MAX over its in-links (the
    most promising path justifies the fetch).  This is the topical
    third leg beside PageRank's authority ordering and OPIC's cash
    flow: those rank by structure, this ranks by WHERE the content the
    classifier wants is likely to live.

    Inputs: ``pages`` carries the parent's integer milli relevance in
    ``score_col`` (produced upstream by the linear classifier — see
    q_quality_classifier's hashing-trick scorer); ``weights`` is the
    (token, w_milli) table, broadcast onto anchor tokens (a vocabulary
    at web scale, never corpus-sized).  Anchor score = Σ w over the
    anchor's whitespace tokens, unknown tokens 0.

    All integer arithmetic → bit-identical at any parallelism.  Scale
    shape: anchors explode map-side from the extraction pass's pages;
    one shuffle keys the per-link anchor sum on (parent, link ordinal),
    one keys the per-child max on the child URL — both bounded by link
    counts, with the same salting story as the scheduler's candidate
    stream.

    Output: (url, priority_milli, n_links, n_parents).
    """
    from ..functions.html import anchor_pairs_col

    links = pages.select(
        F.col(url_col).alias("_parent"),
        F.col(score_col).alias("_pscore"),
        F.posexplode(anchor_pairs_col(F.col(html_col))).alias("_ord", "_a"),
    ).select(
        "_parent", "_pscore", "_ord",
        F.col("_a")["href"].alias("_child"),
        F.col("_a")["anchor"].alias("_anchor"),
    )
    toks = links.select(
        "_parent", "_pscore", "_ord", "_child",
        F.explode_outer(
            F.filter(
                F.split(F.lower("_anchor"), r"\s+"), lambda w: w != ""
            )
        ).alias("token"),
    )
    scored = (
        toks.join(F.broadcast(weights), "token", "left")
        .groupBy("_parent", "_pscore", "_ord", "_child")
        .agg(F.coalesce(F.sum("w_milli"), F.lit(0)).alias("_ascore"))
    )
    prio = F.expr(
        f"({delta_pm} * _pscore + (1000 - {delta_pm}) * _ascore) DIV 1000"
    )
    return (
        scored.select("_parent", "_child", prio.alias("_prio"))
        .groupBy(F.col("_child").alias("url"))
        .agg(
            F.max("_prio").cast("long").alias("priority_milli"),
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("_parent").alias("n_parents"),
        )
    )


def trustrank_fp(
    edges: DataFrame, trusted: DataFrame, iters: int = 3
) -> DataFrame:
    """Fixed-point TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004,
    public): PageRank with teleportation restricted to a human-vetted
    TRUSTED seed set — trust flows out along links and decays with
    distance, so a host reachable only from spam neighborhoods scores
    exactly 0 however densely its farm interlinks.  The third leg of
    the web-spam stack: reciprocity detects farms structurally,
    host_reputation scores behavior, TrustRank propagates vetted
    authority.

        r_0(v)    = SCALE div |T|            if v ∈ T else 0
        r_{i+1}(v)= (15·SCALE) div (100·|T|) · [v ∈ T]
                    + Σ_{(u→v)} (r_i(u)·85) div (100·outdeg(u))

    The same loop as ``pagerank_fp`` (``_propagate``: one join + one
    aggregation per iteration, persisted edge⋈outdeg and node caches,
    integer fixed point, bit-identical at any parallelism);
    the trusted set broadcast-joins (it is human-curated — thousands of
    rows at web scale).

    Returns ``(node: long, trust_fp: long)``.
    """
    return _propagate(edges, iters, "trust_fp", trusted=trusted)


def domain_edges(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Collapse a host-level link graph to the registered-domain graph
    — the construction behind Common Crawl's published domain-level
    webgraph/ranks (public): every endpoint maps to its eTLD+1 (PSL
    longest match), intra-domain edges (subdomain↔subdomain of one
    site) become self-loops and are DROPPED, endpoints that are bare
    public suffixes (no registered domain) are dropped, and the rest
    distinct to one edge per (src_domain, dst_domain).

    Output: (src, dst) string domain edges — feed ``pagerank_fp`` /
    ``trustrank_fp`` / ``opic_fp`` unchanged (they are node-type
    generic).

    Scale design: the PSL argmax join runs ONCE on the DISTINCT host
    table, never on the edge table (hosts ≪ edges by the mean site
    size); the host→domain map then equi-joins each endpoint — AQE
    broadcasts it while it fits, and at webgraph scale it is a plain
    hash join keyed on host with no skew pathology (the map side is
    unique per host).  The final DISTINCT is the one edge-sized
    shuffle, exactly the output's own key.
    """
    from ..functions.urltools import registered_domain_cols

    hosts = (
        edges.select(F.col(src_col).alias("host"))
        .union(edges.select(F.col(dst_col).alias("host")))
        .distinct()
    )
    dmap = registered_domain_cols(hosts).select("host", "registered_domain")
    return (
        edges.join(
            dmap.select(
                F.col("host").alias(src_col),
                F.col("registered_domain").alias("src"),
            ),
            src_col,
        )
        .join(
            dmap.select(
                F.col("host").alias(dst_col),
                F.col("registered_domain").alias("dst"),
            ),
            dst_col,
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pagerank_dangling_fp(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-point PageRank WITH dangling-mass redistribution — the
    Brin/Page fix ``pagerank_fp`` omits.  At web-frontier scale the
    no-outlink nodes are the MAJORITY (every discovered-but-unfetched
    URL is dangling), and the plain recurrence silently leaks their
    entire rank mass each iteration; here it is re-spread uniformly:

        r_{i+1}(v) = (15·SCALE) div (100·N)
                     + Σ_{(u→v)} (r_i(u)·85) div (100·outdeg(u))
                     + (85·D_i) div (100·N),   D_i = Σ_{u dangling} r_i(u)

    Integer micro-units throughout — bit-identical at any parallelism.

    Plan: ``_propagate``, the same persisted node set / edges⋈outdeg
    as ``pagerank_fp``; the dangling set is one anti-join computed ONCE
    and persisted;
    each iteration adds one 1-row mass aggregate attached back as a
    broadcast scalar (never a collect).
    """
    return _propagate(edges, iters, "rank_fp", dangling=True)


def lpa_communities(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007,
    arXiv:0709.2938 — public) over an undirected view of
    ``edges(src, dst)``: every node starts as its own label; each
    round it adopts the most frequent label among its neighbors, ties
    → SMALLEST label.  Synchronous updates + the min tie-break make
    the result deterministic at any parallelism (the usual async LPA
    is run-order dependent — useless under a correctness oracle).
    The community-discovery pass behind mirror farms, link alliances,
    and template clusters that pairwise signals miss.

    Output: (node, label) after ``iters`` rounds.

    Plan: edges symmetrize once into a cache PRE-PARTITIONED on the
    join key ``b`` (its hash partitioning is what every iteration's
    neighbor join aligns to — the r6 exchange-reduction: the labels
    side repartitions to the same key/width, so the join itself adds
    no exchange, and the vote → max → argmin aggregation chain reuses
    the one post-join repartition on ``node`` end-to-end; measured
    ~30 % off the per-iteration wall and one fewer exchange per agg).
    Width comes from ``spark.sql.shuffle.partitions`` — the session's
    scale knob, not a constant.  Each iteration is ONE neighbor join +
    ONE two-level aggregation — count per (node, label), then max
    count / min label per node — all map-side combinable, no windows.
    Isolated nodes keep their own label via the left join.
    """
    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
        .repartition(P, "b")
        .persist()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct().persist()
    nodes.count()
    try:
        labels = nodes.withColumn("label", F.col("node"))
        for _ in range(iters):
            neigh = sym.join(
                labels.select(F.col("node").alias("b"), "label")
                .repartition(P, "b"),
                "b",
            ).select(F.col("a").alias("node"), "label")
            votes = neigh.repartition(P, "node").groupBy("node", "label").agg(
                F.count(F.lit(1)).alias("_c")
            )
            # type-generic argmax (node ids are host/domain STRINGS in
            # this engine): max count per node, then MIN label among
            # the labels achieving it — two map-combinable aggs
            mx = votes.groupBy("node").agg(F.max("_c").alias("_mx"))
            best = (
                votes.join(mx, "node")
                .where(F.col("_c") == F.col("_mx"))
                .groupBy("node")
                .agg(F.min("label").alias("_bl"))
            )
            labels = nodes.join(best, "node", "left").select(
                "node",
                F.coalesce(F.col("_bl"), F.col("node")).alias("label"),
            )
        labels = labels.localCheckpoint(eager=True)
    finally:
        sym.unpersist()
        nodes.unpersist()
    return labels


def seed_distance(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Minimum link distance (hops) from a seed set over the directed
    host graph — BFS as batch-iterative relaxation.

    Why a crawler wants this: crawl DEPTH in the frontier is the depth
    at which a URL happened to be discovered, which drifts from the
    graph-theoretic distance as links from shallower pages arrive
    later.  The true min-distance is the quantity depth-bounded crawl
    policies and focused-crawl audits are defined over ("everything
    within 3 clicks of the seeds"), and its complement — nodes
    UNREACHED within the bound — is the orphan set a seed-list review
    looks at.  The reference has no batch view of this at all; its
    depth field inherits the AMQP arrival order
    (internal/scheduler/scheduler.go extrapolates depth from the
    parent message).

    Algorithm: dist_0 = 0 on seeds; hop h joins ONLY the h−1 frontier
    (rows whose dist == h−1) against edges on src and folds
    min(dist) — each hop is one edge-side hash join + one
    map-combinable min-agg, the loop-invariant edge set is persisted,
    and state is one row per *reached* node.  min over BIGINT is
    associative/commutative ⇒ bit-identical at any parallelism (the
    same discipline as pagerank_fp/connected_components).

    Output: (node, dist) for nodes reached within ``max_hops``;
    unreached nodes are absent by construction.
    """
    ed = edges.select("src", "dst").distinct().persist()
    dist = (
        seeds.select("node").distinct().withColumn("dist", F.lit(0))
        .localCheckpoint(eager=False)
    )
    try:
        for h in range(1, max_hops + 1):
            frontier = dist.where(F.col("dist") == h - 1).select("node")
            reached = (
                ed.join(frontier, ed["src"] == frontier["node"])
                .select(ed["dst"].alias("node"), F.lit(h).alias("dist"))
            )
            # intermediate hops lazy (one cascading job at the end);
            # the LAST hop stays eager so everything materializes while
            # the edge cache is still live
            dist = (
                dist.unionByName(reached)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=(h == max_hops))
            )
    finally:
        ed.unpersist()
    return dist


# --------------------------------------------------------------------------
# HyperBall harmonic centrality (Boldi & Vigna 2013, arXiv:1308.2144)
# --------------------------------------------------------------------------

HB_M = 16  # HLL registers per node (2^4 buckets)
HB_MAX_RHO = 28  # register clamp: 2^(32-rho) stays an exact BIGINT
# alpha_m numerators (milli) for the raw HLL estimator, Flajolet 2007
_HB_ALPHA_MILLI = {16: 673, 32: 697, 64: 709}


def hb_rho_case_sql(var: str, max_rho: int = HB_MAX_RHO) -> str:
    """Position of the lowest set bit of nonnegative ``var`` as a CASE
    chain (1-based, clamped at ``max_rho``) — portable SQL that parses
    identically in Spark and DuckDB, so the oracle replicates the
    register value bit-for-bit."""
    arms = " ".join(
        f"WHEN ({var}) % {1 << p} >= {1 << (p - 1)} THEN {p}"
        for p in range(1, max_rho)
    )
    return f"(CASE {arms} ELSE {max_rho} END)"


def hb_est_sql(s_var: str, m: int = HB_M) -> str:
    """Raw HLL cardinality estimate from the 2^-32-unit register sum
    ``s_var`` (integer; missing buckets contribute 2^32 each):
    est = alpha_m · m² / Σ 2^(−M_j), floored — portable SQL.

    No small-range (linear counting) or large-range corrections: the
    operator's regime is web-scale neighborhood balls where the raw
    estimator is the accurate branch; the corrections' log/float math
    would break the integer determinism contract.  Small-scale tests
    pin the ARITHMETIC (oracle equality), accuracy is pinned separately
    by a statistical test against exact ball sizes.
    """
    alpha = _HB_ALPHA_MILLI[m]
    num = alpha * m * m * 4294967296  # alpha_milli · m² · 2^32
    return f"(({num}) DIV (1000 * ({s_var})))"


def hyperball_harmonic(
    edges: DataFrame, iters: int = 3, m: int = HB_M
) -> DataFrame:
    """Approximate harmonic centrality H(v) = Σ_u 1/d(u→v) for every
    node of the directed host graph — the rank Common Crawl actually
    publishes for hosts (its harmonic-centrality host ranking, computed
    with exactly this algorithm in WebGraph) and the complement to the
    flow-based ranks beside it (pagerank_fp, trustrank_fp, hits_fp).

    HyperBall (Boldi & Vigna 2013): track, per node, a HyperLogLog
    counter of the incoming ball B_t(v) = {u : d(u→v) ≤ t}; one
    relaxation merges each node's counter with its in-neighbors'
    (elementwise register max) so |B_t| estimates cost O(m) state per
    node instead of the O(n) exact set.  H(v) folds the ball growth:
    Σ_t (|B_t| − |B_(t−1)|)/t.

    Determinism: registers are FNV-derived (no randomness), merged by
    MAX (associative/commutative), and the estimator is integer
    fixed-point (see hb_est_sql) — bit-identical at any parallelism,
    DuckDB-replicable cell by cell.

    Scale design: registers live SPARSE as (node, bucket, rho) rows —
    at most m per node, absent buckets are implicit zeros.  Each
    relaxation is ONE edge-side hash join (register rows keyed by src,
    ≤ m·|E| propagated rows) + ONE map-combinable groupBy(node, bucket)
    MAX — the HyperBall design point: per-node state is m registers, an
    iteration's shuffle is linear in edges with map-side combine, never
    quadratic in reachable-set size.  The edge set is persisted across
    iterations; per-hop estimates are node-keyed rows folded by one
    window pass at the end.  At real scale, pre-bucketing edges by src
    (Iceberg ``bucket(src)``) co-locates every iteration's join.

    Output: (node, ball_est, harmonic_milli) — ball_est the |B_iters|
    estimate, harmonic_milli = Σ_t 1000·(est_t − est_(t−1)) DIV t
    (per-term floor; monotone registers ⇒ every term ≥ 0).
    """
    if m not in _HB_ALPHA_MILLI:
        raise ValueError(f"m must be one of {sorted(_HB_ALPHA_MILLI)}, got {m}")
    from ..functions.fnv import fnv1_64

    ed = edges.select("src", "dst").distinct().persist()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    # seed registers: each node's own hash → one (bucket, rho) cell
    hnn = F.expr(
        "hb_hash & 9223372036854775807"
    )  # nonneg so %/>> agree with the oracle
    regs = (
        nodes.withColumn(
            "hb_hash", fnv1_64(F.concat(F.lit("hb:"), F.col("node").cast("string")))
        )
        .withColumn("hb_nn", hnn)
        .withColumn("bucket", (F.col("hb_nn") % m).cast("int"))
        .withColumn("hb_g", F.expr(f"hb_nn DIV {m}"))
        .withColumn("rho", F.expr(hb_rho_case_sql("hb_g")).cast("int"))
        .select("node", "bucket", "rho")
        .localCheckpoint(eager=False)
    )

    def est(r: DataFrame, t: int) -> DataFrame:
        s = (
            r.groupBy("node").agg(
                F.count(F.lit(1)).alias("_cnt"),
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 32 - rho)")).alias("_sp"),
            )
            .withColumn(
                "_s", F.expr(f"_sp + ({m} - _cnt) * 4294967296")
            )
        )
        return s.select(
            "node", F.lit(t).alias("t"),
            F.expr(hb_est_sql("_s", m)).cast("long").alias("est"),
        )

    ests = est(regs, 0)
    try:
        for t in range(1, iters + 1):
            prop = ed.join(regs, regs["node"] == ed["src"]).select(
                ed["dst"].alias("node"), regs["bucket"], regs["rho"]
            )
            # intermediate relaxations lazy; the LAST one eager so the
            # whole cascade (which caches every intermediate regs the
            # est() views read) runs as one job while ed is still cached
            regs = (
                regs.unionByName(prop)
                .groupBy("node", "bucket")
                .agg(F.max("rho").alias("rho"))
                .localCheckpoint(eager=(t == iters))
            )
            ests = ests.unionByName(est(regs, t))
    finally:
        ed.unpersist()

    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy("t")
    growth = ests.withColumn("_prev", F.lag("est").over(w)).withColumn(
        "_term",
        F.when(
            F.col("t") > 0,
            F.expr("CAST(1000 * (est - _prev) DIV t AS BIGINT)"),
        ).otherwise(F.lit(0)),
    )
    return growth.groupBy("node").agg(
        F.max(F.when(F.col("t") == iters, F.col("est"))).alias("ball_est"),
        F.sum("_term").cast("long").alias("harmonic_milli"),
    )
