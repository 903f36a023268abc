"""Fixed-point PageRank operator (operators/graph.py)."""

import pytest

from bathyscaphe_spark.operators.graph import SCALE, pagerank_fp

EDGES = [
    (1, 2), (2, 1), (1, 3),  # 3 is dangling (no out-edges)
    (4, 1), (4, 2), (4, 3),
]


def _reference_pagerank(edges, iters):
    """Pure-python replica of the integer recurrence (same variant:
    dangling mass dropped)."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (15 * SCALE) // (100 * n)
    rank = {v: SCALE // n for v in nodes}
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += (rank[s] * 85) // (100 * outdeg[s])
        rank = nxt
    return rank


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("iters", [1, 3])
def test_pagerank_matches_reference(spark, iters):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fp(edges, iters=iters).collect()
    }
    assert got == _reference_pagerank(EDGES, iters)


def test_pagerank_partitioning_invariant(spark):
    """BIGINT sums are associative: the result is bit-identical no
    matter how the edges are partitioned (the cluster-size-invariance
    property the scaling protocol pins for the crawl)."""
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    a = sorted(map(tuple, pagerank_fp(edges, iters=3).collect()))
    b = sorted(
        map(tuple, pagerank_fp(edges.repartition(7), iters=3).collect())
    )
    assert a == b


def test_pagerank_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank_fp(edges, iters=2).count() == 0


# --- connected components ---------------------------------------------------

from bathyscaphe_spark.operators.graph import connected_components


def _uf_components(edges):
    """Pure-python union-find reference: {node: min id in component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["comp"] for r in connected_components(df).collect()}


def test_cc_two_triangles_bridged(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (3, 10), (20, 21)]
    assert _cc_spark(spark, edges) == _uf_components(edges)


def test_cc_long_chain_needs_iterations(spark):
    # a 12-node chain has diameter 11: exercises the convergence loop
    # well past one round of min-propagation
    edges = [(i, i + 1) for i in range(100, 112)]
    got = _cc_spark(spark, edges)
    assert got == _uf_components(edges)
    assert set(got.values()) == {100}


def test_cc_random_vs_union_find(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc_spark(spark, edges) == _uf_components(edges)


def test_cc_partitioning_invariant(spark):
    edges = [(i % 17, (i * 7) % 23 + 17) for i in range(60)]
    df1 = spark.createDataFrame(edges, "src long, dst long")
    df2 = df1.repartition(9)
    a = sorted(map(tuple, connected_components(df1).collect()))
    b = sorted(map(tuple, connected_components(df2).collect()))
    assert a == b


class TestHits:
    def _run(self, spark, edges, iters=3):
        from bathyscaphe_spark.operators.graph import hits_fp

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: (r["hub_fp"], r["auth_fp"])
            for r in hits_fp(df, iters=iters).collect()
        }

    def test_star_graph_hand_computed(self, spark):
        from bathyscaphe_spark.operators.graph import HITS_SCALE as S

        # 1,2,3 all point at 4; 4 points nowhere
        got = self._run(spark, [(1, 4), (2, 4), (3, 4)], iters=1)
        # a(4) = 3S -> normalized S; h(1..3) = S each -> normalized S
        assert got[4] == (0, S)
        assert got[1] == got[2] == got[3] == (S, 0)

    def test_hub_vs_authority_separation(self, spark):
        # 10 is a pure hub (links to 1..4); 1..4 also chain to 5
        edges = [(10, i) for i in range(1, 5)] + [(i, 5) for i in range(1, 5)]
        got = self._run(spark, edges)
        from bathyscaphe_spark.operators.graph import HITS_SCALE as S

        # 5 is the unique top authority (everyone's target); 10 sits at
        # the hub maximum (1..4 tie it — each links to the top authority)
        assert got[5][1] == S and all(v[1] < S for n, v in got.items() if n != 5)
        assert got[10][0] == S == max(v[0] for v in got.values())
        assert got[10][1] == 0  # nothing links TO the hub
        assert got[5][0] == 0  # the sink links to nothing

    def test_partition_invariance(self, spark):
        edges = [((i * 7 + 1) % 23, (i * 5 + 2) % 23) for i in range(60)]
        edges = [(s, d) for s, d in set(edges) if s != d]
        df = spark.createDataFrame(edges, "src long, dst long")
        from bathyscaphe_spark.operators.graph import hits_fp

        a = sorted(map(tuple, hits_fp(df.repartition(1)).collect()))
        b = sorted(map(tuple, hits_fp(df.repartition(7)).collect()))
        assert a == b and len(a) > 0

    def test_empty_graph(self, spark):
        assert self._run(spark, []) == {}


class TestResolveRedirects:
    def _run(self, spark, edges, **kw):
        from bathyscaphe_spark.operators.graph import resolve_redirects

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["src"]: (r["final"], r["hops"], r["unresolved"])
            for r in resolve_redirects(df, **kw).collect()
        }

    def test_simple_chain_exact_hops(self, spark):
        # 5 -> 4 -> 3 -> 2 -> 1 -> 0 (terminal)
        got = self._run(spark, [(i, i - 1) for i in range(1, 6)])
        assert got[5] == (0, 5, False)
        assert got[1] == (0, 1, False)

    def test_pure_cycle_unresolved(self, spark):
        got = self._run(spark, [(1, 2), (2, 3), (3, 1)])
        # every member walks exactly 64 hops and is still pointing onward
        assert all(h == 64 and unres for (_f, h, unres) in got.values())
        # 64 ≡ 1 (mod 3): each node lands one step past itself
        assert got[1][0] == 2 and got[2][0] == 3 and got[3][0] == 1

    def test_chain_into_cycle(self, spark):
        # 10 -> 1 -> 2 -> 3 -> 1 ... : feeder is unresolved too
        got = self._run(spark, [(10, 1), (1, 2), (2, 3), (3, 1)])
        assert got[10][1] == 64 and got[10][2] is True

    def test_long_chain_within_cap(self, spark):
        n = 60  # < 64-hop cap: resolves exactly
        got = self._run(spark, [(i, i - 1) for i in range(1, n + 1)])
        assert got[n] == (0, n, False)

    def test_chain_beyond_cap_unresolved(self, spark):
        n = 70  # > 64-hop cap: still pointing onward after 64 hops
        got = self._run(spark, [(i, i - 1) for i in range(1, n + 1)])
        assert got[n] == (n - 64, 64, True)
        assert got[64] == (0, 64, False)  # exactly-at-cap resolves

    def test_partition_invariance(self, spark):
        from bathyscaphe_spark.operators.graph import resolve_redirects

        edges = [(i, i - 1) for i in range(1, 40) if i % 16 != 0]
        edges += [(0, 5), (16, 21), (32, 37)]
        df = spark.createDataFrame(edges, "src long, dst long")
        a = sorted(map(tuple, resolve_redirects(df.repartition(1)).collect()))
        b = sorted(map(tuple, resolve_redirects(df.repartition(7)).collect()))
        assert a == b and len(a) == len(edges)


class TestLinkReciprocity:
    def _run(self, spark, edges, **kw):
        from bathyscaphe_spark.operators.graph import link_reciprocity

        df = spark.createDataFrame(edges, "src long, dst long, n long")
        return {
            (r["host_a"], r["host_b"]): (
                r["fwd"], r["rev"], r["recip_pm"], r["reciprocal"]
            )
            for r in link_reciprocity(df, **kw).collect()
        }

    def test_planted_farm_flags_one_way_does_not(self, spark):
        got = self._run(spark, [
            (1, 2, 10), (2, 1, 8),    # farm: heavy both ways
            (3, 4, 50),               # one-way: popular link target
            (5, 6, 10), (6, 5, 1),    # asymmetric: min below min_links=3
        ])
        assert got[(1, 2)] == (10, 8, 2 * 8 * 1000 // 18, True)
        assert got[(3, 4)] == (50, 0, 0, False)
        assert got[(5, 6)] == (10, 1, 2 * 1 * 1000 // 11, False)

    def test_threshold_knobs(self, spark):
        edges = [(1, 2, 10), (2, 1, 2)]
        # recip_pm = 2*2*1000//12 = 333
        assert self._run(spark, edges)[(1, 2)][3] is False
        assert self._run(spark, edges, min_links=2, min_recip_pm=300)[(1, 2)][3] is True

    def test_multi_edge_rows_accumulate(self, spark):
        got = self._run(spark, [(1, 2, 3), (1, 2, 4), (2, 1, 5)])
        assert got[(1, 2)][:2] == (7, 5)

    def test_partition_invariance(self, spark):
        from bathyscaphe_spark.operators.graph import link_reciprocity

        edges = [(i % 9, (i * 5 + 1) % 9, i % 4 + 1) for i in range(80)
                 if i % 9 != (i * 5 + 1) % 9]
        df = spark.createDataFrame(edges, "src long, dst long, n long")
        a = sorted(map(tuple, link_reciprocity(df.repartition(1)).collect()))
        b = sorted(map(tuple, link_reciprocity(df.repartition(7)).collect()))
        assert a == b


class TestOpic:
    """Batch OPIC (opic_fp): hand-computed sweeps, virtual-node
    conservation, partition invariance."""

    def _reference(self, edges, sweeps):
        nodes = sorted({n for e in edges for n in e})
        n = len(nodes)
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        cash = {v: SCALE // n for v in nodes}
        hist = {v: 0 for v in nodes}
        virt = 0
        for _ in range(sweeps):
            inflow = {v: 0 for v in nodes}
            for s, d in edges:
                inflow[d] += cash[s] // outdeg[s]
            new_virt = sum(c for v, c in cash.items() if v not in outdeg)
            vshare = virt // n
            for v in nodes:
                hist[v] += cash[v]
                cash[v] = inflow[v] + vshare
            virt = new_virt
        return cash, hist

    def _run(self, spark, edges, sweeps, parts=3):
        from bathyscaphe_spark.operators.graph import opic_fp

        df = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
        return {
            r["node"]: (r["cash_fp"], r["hist_fp"])
            for r in opic_fp(df, sweeps=sweeps).collect()
        }

    def test_hand_computed_with_dangling(self, spark):
        # 1→2, 2→{1,3}; 3 is dangling — its cash must re-enter via the
        # virtual node one sweep later (v1 // 3 lands in sweep 2's cash)
        edges = [(1, 2), (2, 1), (2, 3)]
        got = self._run(spark, edges, sweeps=2)
        c0 = SCALE // 3
        assert got[1] == (c0 // 2 + (c0 // 3), c0 + c0 // 2)
        assert got[2] == (c0 // 2 + (c0 // 3), c0 + c0)
        assert got[3] == ((c0 // 2) // 1 + (c0 // 3), c0 + c0 // 2)

    @pytest.mark.parametrize("sweeps", [1, 3, 5])
    def test_matches_reference(self, spark, sweeps):
        got = self._run(spark, EDGES, sweeps)
        cash, hist = self._reference(EDGES, sweeps)
        assert got == {v: (cash[v], hist[v]) for v in cash}

    def test_mass_nearly_conserved(self, spark):
        # unlike pagerank_fp's documented dangling leak, OPIC recycles
        # dangling cash: per-sweep loss is only floor-division dust
        # (< outdeg per distributing node, < 1 per virtual share)
        sweeps = 4
        got = self._run(spark, EDGES, sweeps)
        total = sum(c + h for c, h in got.values())
        n = len({x for e in EDGES for x in e})
        start = (SCALE // n) * n
        expected = start * (sweeps + 1)  # hist banks one copy per sweep
        # dangling cash spends one sweep parked in the virtual node
        # (not visible in node state), so allow that plus floor dust
        assert expected * 0.7 < total <= expected

    def test_partition_invariance(self, spark):
        edges = [(i % 23, (i * 7 + 3) % 29) for i in range(300)
                 if i % 23 != (i * 7 + 3) % 29]
        a = self._run(spark, edges, sweeps=3, parts=1)
        b = self._run(spark, edges, sweeps=3, parts=8)
        assert a == b

    def test_empty(self, spark):
        from bathyscaphe_spark.operators.graph import opic_fp

        df = spark.createDataFrame([], "src long, dst long")
        assert opic_fp(df, sweeps=2).collect() == []


class TestFocusedPriority:
    def _run(self, spark, pages, weights, parts=3, **kw):
        from bathyscaphe_spark.operators.graph import focused_priority

        p = spark.createDataFrame(
            pages, "url string, score_milli long, html string"
        )
        w = spark.createDataFrame(weights, "token string, w_milli long")
        out = focused_priority(p.repartition(parts), w, **kw).collect()
        return {r.url: (r.priority_milli, r.n_links, r.n_parents) for r in out}

    def test_hand_computed_blend_and_max(self, spark):
        pages = [
            ("p1", 900, '<a href="c1">great topic</a><a href="c2">junk</a>'),
            ("p2", -500, '<a href="c1">great topic</a>'),
            ("p3", 100, '<a href="c3"></a>'),
        ]
        w = [("great", 400), ("topic", 300), ("junk", -800)]
        got = self._run(spark, pages, w)
        # c1 via p1: (800*900 + 200*700)/1000 = 860; via p2: -260 → max 860
        assert got["c1"] == (860, 2, 2)
        # c2: (800*900 + 200*(-800))/1000 = 560
        assert got["c2"] == (560, 1, 1)
        # c3: empty anchor → anchor score 0 → 80
        assert got["c3"] == (80, 1, 1)

    def test_unknown_tokens_score_zero_and_repeat_tokens_sum(self, spark):
        pages = [("p", 0, '<a href="c">topic topic unseen</a>')]
        got = self._run(spark, pages, [("topic", 300)])
        # 2×300 + 0, parent 0: (0 + 200*600)/1000 = 120
        assert got["c"] == (120, 1, 1)

    def test_duplicate_link_counts_links_but_one_parent(self, spark):
        pages = [("p", 500, '<a href="c">x</a><a href="c">x</a>')]
        got = self._run(spark, pages, [("x", 100)])
        assert got["c"] == (420, 2, 1)

    def test_negative_truncation_toward_zero(self, spark):
        # (800*(-501) + 0) = -400800 → Spark DIV truncates to -400
        pages = [("p", -501, '<a href="c"></a>')]
        got = self._run(spark, pages, [("x", 1)])
        assert got["c"] == (-400, 1, 1)

    def test_partition_invariance(self, spark):
        pages = [
            (f"p{i}", (i * 37) % 2001 - 1000,
             f'<a href="c{i % 9}">kw{i % 5} kw{i % 3}</a>')
            for i in range(40)
        ]
        w = [(f"kw{i}", i * 97 - 200) for i in range(5)]
        assert self._run(spark, pages, w, parts=1) == self._run(
            spark, pages, w, parts=11
        )


class TestTrustRank:
    def _run(self, spark, edges, trusted, iters=3, parts=3):
        from bathyscaphe_spark.operators.graph import trustrank_fp

        e = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
        t = spark.createDataFrame([(x,) for x in trusted], "node long")
        spark.catalog.clearCache()
        out = trustrank_fp(e, t, iters=iters)
        assert _cache_empty(spark)  # every case releases its caches, |T| = 0 too
        return {r.node: r.trust_fp for r in out.collect()}

    def test_trust_decays_and_spam_scores_zero(self, spark):
        # trusted chain 1→2→3; farm 10↔11 also links INTO 2 but gets
        # nothing back — the farm itself must score exactly 0
        got = self._run(spark, [(1, 2), (2, 3), (10, 11), (11, 10), (10, 2)], [1])
        assert got[1] > got[2] > got[3] > 0
        assert got[10] == 0 and got[11] == 0
        # node 1 holds the full teleport share: (15*SCALE)//(100*1)
        from bathyscaphe_spark.operators.graph import SCALE

        assert got[1] == (15 * SCALE) // 100

    def test_empty_trusted_set_all_zero(self, spark):
        got = self._run(spark, [(1, 2), (2, 3)], [])
        assert set(got.values()) == {0}

    def test_trusted_outside_graph_ignored_in_base_but_counted(self, spark):
        # a trusted node absent from the graph still dilutes |T| only if
        # it intersects nodes — distinct+join means it does NOT appear
        got = self._run(spark, [(1, 2)], [1, 99])
        assert 99 not in got  # not a graph node → no row
        assert got[1] > 0

    def test_partition_invariance_bit_identical(self, spark):
        edges = [((i * 7) % 23, (i * 5 + 1) % 23) for i in range(60)]
        edges = [(a, b) for a, b in edges if a != b]
        a = self._run(spark, edges, [0, 7, 14], parts=1)
        b = self._run(spark, edges, [0, 7, 14], parts=13)
        assert a == b

    def test_all_nodes_trusted_equals_pagerank(self, spark):
        # T = every node turns the teleport term into PageRank's: the
        # two public functions must agree row for row
        edges = EDGES + [(5, 6), (6, 7), (7, 5), (8, 9), (10, 11)]
        nodes = sorted({n for e in edges for n in e})
        got = self._run(spark, edges, nodes, iters=3)
        e = spark.createDataFrame(edges, "src long, dst long")
        want = {r.node: r.rank_fp for r in pagerank_fp(e, iters=3).collect()}
        assert got == want and len(got) == 11


class TestDomainEdges:
    """Host graph → registered-domain graph collapse."""

    def _run(self, spark, rows):
        from bathyscaphe_spark.operators.graph import domain_edges

        df = spark.createDataFrame(rows, "src_host string, dst_host string")
        return sorted(map(tuple, domain_edges(df).collect()))

    def test_subdomains_collapse_and_self_loops_drop(self, spark):
        rows = [
            ("www.a.co.uk", "blog.b.co.uk"),
            ("cdn.a.co.uk", "b.co.uk"),        # same domain edge → dedup
            ("www.a.co.uk", "blog.a.co.uk"),   # intra-domain → dropped
        ]
        assert self._run(spark, rows) == [("a.co.uk", "b.co.uk")]

    def test_private_registry_users_stay_distinct(self, spark):
        rows = [("u1.github.io", "u2.github.io")]
        assert self._run(spark, rows) == [("u1.github.io", "u2.github.io")]

    def test_bare_suffix_endpoint_dropped(self, spark):
        rows = [("www.a.com", "co.uk"), ("www.a.com", "b.net")]
        assert self._run(spark, rows) == [("a.com", "b.net")]

    def test_partition_invariance_through_pagerank(self, spark):
        from bathyscaphe_spark.operators.graph import domain_edges, pagerank_fp

        rows = [
            (f"s{i % 4}.site{i % 6}.com", f"w.site{(i * 3 + 1) % 6}.com")
            for i in range(48)
        ]
        df = spark.createDataFrame(rows, "src_host string, dst_host string")
        a = sorted(map(tuple, pagerank_fp(domain_edges(df.repartition(1)), iters=2).collect()))
        b = sorted(map(tuple, pagerank_fp(domain_edges(df.repartition(7)), iters=2).collect()))
        assert a == b and len(a) > 0


class TestPagerankDangling:
    """Dangling-mass redistribution vs the plain recurrence."""

    def test_mass_conserved_with_redistribution(self, spark):
        from bathyscaphe_spark.operators.graph import (
            SCALE,
            pagerank_dangling_fp,
            pagerank_fp,
        )

        # star into a sink: node 9 has no outlinks (dangling)
        edges = spark.createDataFrame(
            [(1, 9), (2, 9), (3, 9), (1, 2)], "src long, dst long"
        )
        plain = sum(r["rank_fp"] for r in pagerank_fp(edges, iters=3).collect())
        fixed = sum(
            r["rank_fp"] for r in pagerank_dangling_fp(edges, iters=3).collect()
        )
        # plain leaks the sink's mass; the fix keeps total ≈ SCALE
        # (floor-div truncation only — bounded by iterations × nodes)
        assert fixed > plain
        assert abs(fixed - SCALE) < SCALE * 0.01

    def test_no_dangling_means_identical(self, spark):
        from bathyscaphe_spark.operators.graph import (
            pagerank_dangling_fp,
            pagerank_fp,
        )

        # a cycle: every node has outdeg ≥ 1 → dangling mass is 0
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        a = sorted(map(tuple, pagerank_fp(edges, iters=3).collect()))
        b = sorted(map(tuple, pagerank_dangling_fp(edges, iters=3).collect()))
        assert a == b

    def test_partition_bit_identity(self, spark):
        from bathyscaphe_spark.operators.graph import pagerank_dangling_fp

        edges = spark.createDataFrame(
            [(i % 7, (i * 3 + 1) % 11) for i in range(40) if i % 7 != (i * 3 + 1) % 11],
            "src long, dst long",
        ).distinct()
        a = sorted(map(tuple, pagerank_dangling_fp(edges.repartition(1), iters=2).collect()))
        b = sorted(map(tuple, pagerank_dangling_fp(edges.repartition(7), iters=2).collect()))
        assert a == b


class TestLpaCommunities:
    """Synchronous min-tie-break label propagation."""

    def _run(self, spark, edges, iters=3):
        from bathyscaphe_spark.operators.graph import lpa_communities

        df = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["label"]
                for r in lpa_communities(df, iters=iters).collect()}

    def test_two_cliques_one_bridge(self, spark):
        clique1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
        clique2 = [(a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a < b]
        got = self._run(spark, clique1 + clique2 + [(3, 10)])
        assert got[1] == got[2] == got[3] == 1
        assert got[11] == got[12]
        assert got[1] != got[11]

    def test_isolated_pair_converges_to_min(self, spark):
        got = self._run(spark, [(5, 9)], iters=2)
        # sync LPA on a 2-node graph oscillates without the tie-break
        # settling: after swap rounds both see only the other's label;
        # iters=2 brings both back... assert determinism + valid labels
        assert set(got) == {5, 9} and set(got.values()) <= {5, 9}

    def test_partition_bit_identity(self, spark):
        from bathyscaphe_spark.operators.graph import lpa_communities

        edges = [(i % 13, (i * 5 + 2) % 13 + 13 * (i % 2)) for i in range(60)]
        df = spark.createDataFrame(edges, "src long, dst long").distinct()
        a = sorted(map(tuple, lpa_communities(df.repartition(1), iters=3).collect()))
        b = sorted(map(tuple, lpa_communities(df.repartition(7), iters=3).collect()))
        assert a == b


def test_lpa_string_nodes(spark):
    """LPA over string host ids — the engine's actual graph keys."""
    from bathyscaphe_spark.operators.graph import lpa_communities

    edges = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "c.com"), ("a.com", "c.com"),
         ("x.org", "y.org"), ("y.org", "z.org"), ("x.org", "z.org")],
        "src string, dst string",
    )
    got = {r["node"]: r["label"] for r in lpa_communities(edges, iters=3).collect()}
    assert got["x.org"] == got["y.org"] == got["z.org"]
    assert got["a.com"] == got["b.com"] == got["c.com"]
    assert got["a.com"] != got["x.org"]


class TestSeedDistance:
    def _run(self, spark, edges, seeds, hops=3, parts=1):
        from bathyscaphe_spark.operators.graph import seed_distance

        e = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {
            r["node"]: r["dist"]
            for r in seed_distance(e, s, max_hops=hops).collect()
        }

    def test_chain_and_unreached(self, spark):
        # 0→1→2→3→4: within 3 hops node 4 is unreached
        edges = [(i, i + 1) for i in range(4)]
        got = self._run(spark, edges, [0])
        assert got == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_min_over_paths_and_multi_seed(self, spark):
        # 0→1→2 and 5→2: node 2 is 1 hop from seed 5, not 2 from seed 0
        got = self._run(spark, [(0, 1), (1, 2), (5, 2)], [0, 5])
        assert got == {0: 0, 5: 0, 1: 1, 2: 1}

    def test_seed_wins_over_incoming_edge(self, spark):
        # an edge INTO a seed never raises its distance above 0
        got = self._run(spark, [(0, 1), (1, 0)], [0])
        assert got[0] == 0 and got[1] == 1

    def test_partition_invariance(self, spark):
        edges = [((i * 7) % 23, (i * 11 + 3) % 23) for i in range(60)]
        a = self._run(spark, edges, [0, 7], parts=1)
        b = self._run(spark, edges, [0, 7], parts=9)
        assert a == b


class TestHyperballHarmonic:
    def _run(self, spark, edges, iters=3, m=16, parts=4):
        from bathyscaphe_spark.operators.graph import hyperball_harmonic

        e = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
        return {
            r["node"]: (r["ball_est"], r["harmonic_milli"])
            for r in hyperball_harmonic(e, iters=iters, m=m).collect()
        }

    @staticmethod
    def _exact_reference(edges, iters, m):
        """Pure-Python replication of the operator's arithmetic —
        registers, estimator, harmonic fold — on exact BFS balls."""
        from bathyscaphe_spark.functions.fnv import fnv1_64_py
        from bathyscaphe_spark.operators.graph import _HB_ALPHA_MILLI

        nodes = sorted({u for e in edges for u in e})
        inn = {v: [] for v in nodes}
        for s, d in set(edges):
            inn[d].append(s)

        def cell(v):
            h = fnv1_64_py(f"hb:{v}") & 0x7FFFFFFFFFFFFFFF
            bucket, g = h % m, h // m
            rho = 1
            while rho < 28 and not (g >> (rho - 1)) & 1:
                rho += 1
            return bucket, rho

        def est(regs):
            s = sum(1 << (32 - r) for r in regs.values())
            s += (m - len(regs)) * (1 << 32)
            return (_HB_ALPHA_MILLI[m] * m * m * 4294967296) // (1000 * s)

        # ball via exact BFS (registers over exact member sets must
        # equal the operator's iterated max-merge — max is idempotent)
        balls = {v: {v} for v in nodes}
        out = {}
        ests = {v: [None] * (iters + 1) for v in nodes}
        for v in nodes:
            ests[v][0] = est(dict([cell(v)]))
        for t in range(1, iters + 1):
            balls = {
                v: balls[v] | set().union(*(balls[u] for u in inn[v]))
                if inn[v] else balls[v]
                for v in nodes
            }
            for v in nodes:
                regs = {}
                for u in balls[v]:
                    b, r = cell(u)
                    regs[b] = max(regs.get(b, 0), r)
                ests[v][t] = est(regs)
        for v in nodes:
            h = sum(
                (1000 * (ests[v][t] - ests[v][t - 1])) // t
                for t in range(1, iters + 1)
            )
            out[v] = (ests[v][iters], h)
        return out

    def test_matches_exact_ball_registers(self, spark):
        # iterated register max-merge == registers over the exact BFS
        # ball (max is idempotent/associative), estimator replicated
        edges = [((i * 7) % 23, (i * 11 + 3) % 23) for i in range(60)]
        edges = [e for e in edges if e[0] != e[1]]
        got = self._run(spark, edges)
        want = self._exact_reference(edges, 3, 16)
        assert got == want

    def test_no_inlinks_zero_harmonic(self, spark):
        got = self._run(spark, [(5, 0), (0, 1)])
        assert got[5][1] == 0  # nothing reaches node 5: ball never grows

    def test_partition_invariance(self, spark):
        edges = [((i * 13) % 31, (i * 5 + 2) % 31) for i in range(80)]
        a = self._run(spark, edges, parts=1)
        b = self._run(spark, edges, parts=9)
        assert a == b

    def test_estimate_accuracy_m64(self, spark):
        # statistical contract: with m=64 (sigma ~13%) the ball estimate
        # tracks the exact reachable-set size on a 200-node graph
        import statistics

        n = 200
        edges = [
            (i, (i * mult + off) % n)
            for i in range(n)
            for mult, off in [(3, 1), (7, 2), (11, 5), (17, 3)]
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = self._run(spark, edges, iters=4, m=64)
        # exact in-balls at radius 4
        inn = {v: set() for v in range(n)}
        for s, d in set(edges):
            inn[d].add(s)
        balls = {v: {v} for v in range(n)}
        for _ in range(4):
            balls = {v: balls[v] | set().union(*(balls[u] for u in inn[v]))
                     if inn[v] else balls[v] for v in range(n)}
        errs = [abs(got[v][0] - len(balls[v])) / len(balls[v])
                for v in got if len(balls[v]) >= 16]
        assert errs and statistics.median(errs) < 0.25

    def test_m_validated(self, spark):
        import pytest as _pytest
        from bathyscaphe_spark.operators.graph import hyperball_harmonic

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        with _pytest.raises(ValueError):
            hyperball_harmonic(e, m=17)


# --- large-star/small-star connected components --------------------------------

from bathyscaphe_spark.operators.graph import (
    connected_components,
    connected_components_star,
)


def _cc_map(df):
    return {r["node"]: r["comp"] for r in df.collect()}


class TestStarCC:
    def test_matches_label_propagation_on_mixed_graph(self, spark):
        # deterministic pseudo-random graph: components of varied shape
        edges = []
        for i in range(200):
            a = (i * 7919) % 120
            b = (i * 104729 + 13) % 120
            if a != b:
                edges.append((a, b))
        edges += [(500, 501), (502, 502)]  # pair + self-loop isolate
        df = spark.createDataFrame(edges, "src long, dst long")
        got = _cc_map(connected_components_star(df))
        want = _cc_map(connected_components(df))
        assert got == want

    def test_high_diameter_converges_in_log_rounds(self, spark):
        # a 400-node path needs ~400 label-prop rounds but only
        # O(log n) star rounds — max_iters=16 must suffice
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(399)], "src long, dst long"
        )
        got = _cc_map(connected_components_star(df, max_iters=16))
        assert got == {i: 0 for i in range(400)}

    def test_component_min_is_label(self, spark):
        df = spark.createDataFrame(
            [(9, 4), (4, 7), (3, 8)], "src long, dst long"
        )
        got = _cc_map(connected_components_star(df))
        assert got == {9: 4, 4: 4, 7: 4, 3: 3, 8: 3}

    def test_partition_invariance(self, spark):
        edges = [(i, (i * 31 + 5) % 97) for i in range(150) if i != (i * 31 + 5) % 97]
        a = _cc_map(connected_components_star(
            spark.createDataFrame(edges, "src long, dst long").repartition(1)))
        b = _cc_map(connected_components_star(
            spark.createDataFrame(edges, "src long, dst long").repartition(17)))
        assert a == b

    def test_empty_edges(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        assert connected_components_star(df).count() == 0


# --- cache lifetime of the rank family ---------------------------------------


@pytest.mark.parametrize("fn", ["pagerank_fp", "trustrank_fp", "pagerank_dangling_fp"])
@pytest.mark.parametrize("rows", [EDGES, []], ids=["graph", "empty"])
def test_rank_family_releases_caches(spark, fn, rows):
    from bathyscaphe_spark.operators import graph

    spark.catalog.clearCache()
    edges = spark.createDataFrame(rows, "src long, dst long")
    args = (spark.createDataFrame([(1,)], "node long"),) if fn == "trustrank_fp" else ()
    out = getattr(graph, fn)(edges, *args, iters=2)
    assert _cache_empty(spark)
    assert out.count() == len({n for e in rows for n in e})
