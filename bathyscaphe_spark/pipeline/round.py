"""One crawl round — the engine's core DAG.

Replaces the reference's always-on queue consumers (crawler + scheduler +
indexer + blacklister, SURVEY.md §3) with one declarative batch round:

  frontier Δ → O1 two-phase salted rank/budget → S4 fetch join (reusing
  the url-bucketed universe partitioning — O2)
  → [O4 timeouts → F7/F8/A1 blacklister] → F5 content filter
  → X1-X3 extract/normalize/hash → F1-F4 + robots → D2 dedup → D1 anti-join seen
  → writes: resources, seen Δ, frontier(round+1) Δ, host_failures,
    blacklist, metrics → atomic round commit

Everything is one Catalyst-optimized DAG per output; ``fetched_ok`` is
cached and reused by the scheduler and indexer branches — the same
fan-out the reference gets from its RabbitMQ fanout exchange
(indexer.go:83-87) without computing the fetch twice.

Determinism: round_ts is a pure function of the round number; candidate
depth is aggregated with min() so the output is identical at any
parallelism level.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators import blacklister as bl
from ..operators.bloom import ShardedBloom, bloom_anti_join
from ..operators.indexer import build_resources
from ..operators.politeness import rank_frontier
from ..operators.scheduler import (
    apply_hostname_blacklist,
    extract_filtered_candidates,
)
from ..state.tables import TableCatalog
from .synth import BASE_TS

ROUND_INTERVAL_S = 3600  # one deterministic "hour" per round


def round_ts_col(round_n: int):
    return F.timestamp_seconds(F.lit(BASE_TS + round_n * ROUND_INTERVAL_S))


@dataclass
class RoundStats:
    round: int
    scheduled: int
    fetched: int
    timeouts: int
    discovered: int


def discover_new_urls(
    fetched_ok: DataFrame,
    config: CrawlConfig,
    seen: DataFrame | None,
    blacklist,
    round_n: int,
    bloom: ShardedBloom | None = None,
    robots: DataFrame | None = None,
    emit_edges: bool = False,
    seen_tail: DataFrame | None = None,
):
    """Scheduler stage with depth propagation.

    Runs the same extraction kernel as
    ``operators.scheduler.schedule_candidates`` (the parity-exact
    single-shot API), ``extract_filtered_candidates``, but carries the
    parent's depth instead of its url: the kernel emits per-batch
    partial min(depth) rows, and a deterministic min() aggregation gives
    depth = min(parent depth) + 1.  It also applies robots
    disallow-prefix filtering (north-rule addition) so a disallowed URL
    never enters the frontier.
    Output: (url, url_hash, host, depth) — or, with ``emit_edges``,
    the tuple (new_urls, edges(src,dst), cand_cache): the host-level
    link-graph delta for PageRank priority, sharing ONE persisted
    extraction pass (the caller unpersists ``cand_cache`` after its
    writes).
    """
    # X1-X3 + F1-F4 in ONE narrow python stage: bodies in, only
    # (depth, url, url_hash, host) out — rejected candidates and all
    # derived strings stay inside the kernel (r2 scaling fix; the r1
    # path's Arrow traffic was the N→4N bandwidth ceiling).  The
    # link-graph edge harvest widens the carry by one short host string
    # ONLY when enabled — the default hot path stays narrow.
    bad = tuple(blacklist) if isinstance(blacklist, (list, tuple)) else ()
    carry = ("depth", "src_host") if emit_edges else ("depth",)
    src_df = (
        fetched_ok.withColumn("src_host", F.col("host"))
        if emit_edges
        else fetched_ok
    )
    cand = extract_filtered_candidates(
        src_df, config, forbidden=bad, body_col="html",
        carry_cols=carry,
    )
    if blacklist is not None and not isinstance(blacklist, (list, tuple)):
        cand = apply_hostname_blacklist(cand, blacklist)  # large-DF form
    if robots is not None:
        from ..operators.robots import apply_robots

        cand = cand.withColumn(
            "path",
            F.regexp_extract(F.col("url"), r"^[a-z0-9+.-]+://[^/?#]*([^?#]*)", 1),
        )
        cand = apply_robots(cand, robots).drop("path")

    if config.trap_guard_enabled:
        from ..operators.scheduler import trap_filter_col

        u = F.col("url")
        cand = cand.where(
            ~trap_filter_col(
                F.regexp_extract(u, r"^[a-z0-9+.-]+://[^/?#]*([^?#]*)", 1),
                F.regexp_extract(u, r"\?([^#]*)", 1),
            )
        )

    edges = cand_cache = None
    if emit_edges:
        cand_cache = cand.persist()
        edges = (
            cand_cache.select(
                F.col("src_host").alias("src"), F.col("host").alias("dst")
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        cand = cand_cache.drop("src_host")

    # D2 with deterministic attributes: url/host are functions of the
    # hash; depth aggregates with min() (parent depth rode through the
    # explode — no self-join)
    cand = cand.groupBy("url_hash").agg(
        F.min("url").alias("url"),
        F.min("host").alias("host"),
        (F.min("depth") + 1).alias("depth"),
    )
    cand = cand.where(F.col("depth") <= config.max_depth)

    if seen is not None:
        rts = round_ts_col(round_n)

        def _live(s: DataFrame) -> DataFrame:
            return s.where(
                F.col("expires_ts").isNull() | (F.col("expires_ts") > rts)
            ).select("url_hash")

        # D1: x is new ⟺ x ∉ live(seen) ∧ x ∉ live(seen_tail).  When
        # ``seen`` is the bucketed store's base (state/seenstore.py) and
        # ``seen_tail`` the post-compaction Δs, the two-join form keeps
        # the base scan exchange-free (the TTL filter preserves its
        # bucket partitioning; a union would erase it).
        live_seen = _live(seen)
        live_tail = _live(seen_tail) if seen_tail is not None else None
        if bloom is not None:
            cand = bloom_anti_join(
                cand, live_seen, "url_hash", bloom, tail=live_tail
            )
        else:
            cand = cand.join(live_seen, "url_hash", "left_anti")
            if live_tail is not None:
                cand = cand.join(live_tail, "url_hash", "left_anti")
    out = cand.select("url", "url_hash", "host", "depth")
    return (out, edges, cand_cache) if emit_edges else out


def _with_base_priority(frontier: DataFrame) -> DataFrame:
    """Save the pre-modifier priority ONCE (idempotent across the
    rank-time boosts/demotions below): each modifier mutates
    ``priority``, but a deferred leftover must requeue at its BASE
    priority or a waiting row compounds its boost across rounds.  The
    single save/restore pair is the contract every new priority
    modifier inherits for free — see :func:`_restore_base_priority`."""
    if "_base_priority" not in frontier.columns:
        frontier = frontier.withColumn("_base_priority", F.col("priority"))
    return frontier


def _restore_base_priority(df: DataFrame) -> DataFrame:
    """Undo every rank-time priority modifier on a deferred row (no-op
    when no modifier ran this round)."""
    if "_base_priority" in df.columns:
        df = df.withColumn(
            "priority", F.col("_base_priority").cast("int")
        ).drop("_base_priority")
    return df


def _frontier_delta(new_urls: DataFrame, round_n: int) -> DataFrame:
    """Attach frontier bookkeeping for round round_n+1."""
    rts = round_ts_col(round_n)
    return new_urls.select(
        "url",
        "url_hash",
        "host",
        "depth",
        (F.lit(1000) - F.col("depth") * 10).cast("int").alias("priority"),
        rts.alias("discovered_ts"),
        F.lit(round_n + 1).alias("round"),
    )


def _seen_delta(new_urls: DataFrame, config: CrawlConfig, round_n: int) -> DataFrame:
    """D3: only URLs that were actually scheduled are marked seen
    (scheduler_test.go:242-245); TTL = refresh-delay, 0 ⇒ NULL = forever."""
    if config.refresh_delay_s > 0:
        expires = F.timestamp_seconds(
            F.lit(BASE_TS + round_n * ROUND_INTERVAL_S + config.refresh_delay_s)
        )
    else:
        expires = F.lit(None).cast("timestamp")
    return new_urls.select(
        "url_hash",
        F.lit(round_n).alias("first_seen_round"),
        expires.alias("expires_ts"),
    )


def run_round(
    catalog: TableCatalog,
    pages: DataFrame,
    host_status: DataFrame,
    config: CrawlConfig,
    round_n: int,
    seen_count_hint: int | None = None,
    seen_bloom: "ShardedBloom | None" = None,
    seen_store=None,
    seen_store_round: int = -1,
) -> RoundStats:
    """Execute round ``round_n``: read frontier Δ, produce all round outputs,
    commit atomically.

    ``seen_bloom`` — an optional caller-maintained ``ShardedBloom`` over the
    current seen set (the driver folds each round's seen Δ into it with
    ``or_delta`` instead of rebuilding from the full table — O(Δ) per round
    instead of O(|seen|), the difference that matters at a 10^10-URL seen
    set).  Stale bits from TTL-expired entries are harmless: the filter is
    only a router and every hit is re-verified by the exact anti-join.

    ``seen_store``/``seen_store_round`` — an optional
    ``state.seenstore.BucketedSeenStore`` compacted through round
    ``seen_store_round``: the D1 exact verification then reads the
    bucketed base (no seen-side exchange) plus only the Δ rounds >
    ``seen_store_round`` as a small tail, instead of shuffling the whole
    delta union.  Output-identical to the plain path; auxiliary seen
    consumers (recrawl pump, robots seeding) keep the delta union.
    """
    spark = catalog.spark
    rts = round_ts_col(round_n)

    frontier = catalog.read_round("frontier", round_n)
    if frontier is None:
        raise ValueError(f"no committed frontier delta for round {round_n}")
    blacklist_df = catalog.read_state("blacklist")
    if blacklist_df is None:
        blacklist_df = bl.empty_blacklist(spark)
    # collect the (tiny) blacklist ONCE per round: every F4 call site
    # then compiles it into a codegen'd OR-chain instead of re-collecting
    # (falls back to the broadcast anti-join DataFrame form when large)
    from ..operators.scheduler import _F4_EXPR_MAX

    # F4 source = the blacklister's promoted state UNION the config's
    # forbidden-hostnames (S11: mutable at round boundaries via
    # state/configstore.set_config — mirrors the reference where both
    # the blacklister and operators PUT into the same ConfigAPI key)
    # (None = no committed state: blacklist_df is the empty frame)
    _bl_head = catalog.head_of_state(
        "blacklist", "hostname", _F4_EXPR_MAX + 1
    ) or []
    _conf_bl = list(config.forbidden_hostnames)
    if len(_bl_head) <= _F4_EXPR_MAX:
        blacklist_pred = tuple(sorted(set(_bl_head) | set(_conf_bl)))
    elif _conf_bl:
        blacklist_pred = blacklist_df.unionByName(
            spark.createDataFrame([(h,) for h in _conf_bl], "hostname string")
        )
    else:
        blacklist_pred = blacklist_df
    host_failures = catalog.read_state("host_failures")
    if host_failures is None:
        host_failures = bl.empty_host_failures(spark)
    seen = catalog.read_deltas("seen")
    # D1 verification inputs: bucketed base + Δ tail when a compacted
    # store is provided, else the plain delta union (seen, no tail)
    seen_verify, seen_tail = seen, None
    if seen_store is not None and seen is not None:
        # base covers Δs ≤ seen_store_round (the bootstrap Δ commits at
        # round -1, so a store compacted through -1 is valid); the tail
        # is every committed Δ after it
        seen_verify = seen_store.df()
        seen_tail = catalog.read_deltas("seen", since=seen_store_round)

    # recrawl generator (adaptive refresh): re-enqueue up to
    # recrawl_budget previously-fetched URLs whose seen TTL has fully
    # expired — oldest fetch first, deterministic url_hash tie-break.
    # Without the pump an expired URL is only refetched if some fetched
    # page happens to link to it again; with it, expiry-driven
    # refreshing is continuous.  Runs before the link-rank boost so
    # pumped rows rank under the same policy as fresh ones.
    prior_meta = (
        catalog.read_deltas("fetch_meta") if config.adaptive_refresh else None
    )
    if config.adaptive_refresh and config.recrawl_budget > 0 and seen is not None:
        meta_hist = prior_meta
        if meta_hist is not None:
            from ..operators.recrawl import recrawl_due

            pump = recrawl_due(
                meta_hist, seen, frontier, rts,
                budget=config.recrawl_budget,
                priority_v=config.recrawl_priority,
                round_n=round_n,
            )
            frontier = frontier.unionByName(pump)

    # O1 — two-phase salted rank (skew-proof politeness budget).  O2 for
    # the fetch stage is the universe's url-hash partitioning: the fetch
    # join reuses the pages table's bucketing, so only this (small)
    # frontier side shuffles — salting the fetch itself is unnecessary
    # because url-hash partitioning is inherently uniform.
    # robots state feeds two consumers: Crawl-delay → per-host budgets
    # for the politeness rank, and disallow prefixes → the scheduler
    robots_df = catalog.read_state("robots")
    host_budgets = None
    if robots_df is not None:
        from ..operators.robots import budgets_from_robots

        host_budgets = budgets_from_robots(robots_df, config)
    # link-graph priority: boost each frontier row by its host's
    # fixed-point PageRank (per-mille of total mass — integer, so the
    # ordering stays bit-identical at any parallelism).  The rank table
    # is one row per host; AQE picks the join strategy (broadcast while
    # hosts are small, shuffled hash at web scale).
    if config.link_rank_enabled:
        edges_state = catalog.read_deltas("link_edges")
        if edges_state is not None:
            from ..operators.graph import SCALE, pagerank_fp

            ranks = pagerank_fp(
                edges_state.select("src", "dst").distinct(),
                iters=config.link_rank_iters,
            )
            boost = ranks.select(
                F.col("node").alias("host"),
                F.expr(f"rank_fp div {SCALE // 1000}")
                .cast("int")
                .alias("_lr_boost"),
            )
            frontier = (
                _with_base_priority(frontier)
                .join(boost, "host", "left")
                .withColumn(
                    "priority",
                    (
                        F.col("priority")
                        + F.coalesce(F.col("_lr_boost"), F.lit(0))
                    ).cast("int"),
                )
                .drop("_lr_boost")
            )
    # host-reputation demotion: prior rounds' capture evidence (dup
    # content / errors / soft-404 templates, plus link-farm membership
    # when the link graph is on) lowers a host's WHOLE frontier before
    # any per-URL rank — rank-time only, same _base_priority
    # save/restore contract as the link boost above.
    if config.reputation_enabled:
        rep_hist = catalog.read_deltas("host_repute")
        if rep_hist is not None:
            from ..operators.blacklister import host_reputation

            recip = None
            if config.link_rank_enabled:
                rep_edges = catalog.read_deltas("link_edges")
                if rep_edges is not None:
                    from ..operators.graph import link_reciprocity

                    recip = link_reciprocity(rep_edges.select("src", "dst"))
            rep = host_reputation(
                rep_hist.selectExpr(
                    "host", "url", "status",
                    "content_fnv AS content_hash", "soft404",
                ),
                recip,
            )
            dem = rep.select(
                "host",
                F.expr(
                    f"((1000 - reputation_pm) * {config.reputation_weight})"
                    " DIV 1000"
                ).cast("int").alias("_rep_dem"),
            )
            frontier = (
                _with_base_priority(frontier).join(dem, "host", "left")
                .withColumn(
                    "priority",
                    (
                        F.col("priority")
                        - F.coalesce(F.col("_rep_dem"), F.lit(0))
                    ).cast("int"),
                )
                .drop("_rep_dem")
            )
    # starvation guard: rank-time priority grows with full rounds
    # waited since discovery (discovered_ts survives every requeue —
    # the `round` column does not), so budget-deferred rows cannot
    # starve.  Same _base_priority contract as the boosts above.
    if config.age_boost_per_round:
        from ..operators.politeness import aged_priority_col

        frontier = _with_base_priority(frontier).withColumn(
            "priority",
            aged_priority_col(
                BASE_TS + round_n * ROUND_INTERVAL_S,
                config.age_boost_per_round,
                ROUND_INTERVAL_S,
            ),
        )
    # domain host-explosion containment (IRLbot-style): hosts beyond the
    # per-eTLD+1 cardinality budget sit this round out — their rows go
    # straight to the deferred leftover (defer-never-drop, exactly the
    # politeness contract), so a spam farm's minted subdomains can never
    # monopolize the round while honest domains starve.  The verdict
    # table is host-cardinality-sized → broadcast semi/anti joins.
    explosion_deferred = None
    if config.host_explosion_max:
        from ..operators.politeness import host_explosion_guard

        _cut = (
            host_explosion_guard(frontier, config.host_explosion_max)
            .where(~F.col("kept"))
            .select("host")
        )
        explosion_deferred = frontier.join(
            F.broadcast(_cut), "host", "left_semi"
        )
        frontier = frontier.join(F.broadcast(_cut), "host", "left_anti")
    n_frontier_rows = catalog.rows_in_round("frontier", round_n)
    # the salted two-phase rank exists for mega-host skew; when the
    # frontier delta is provably small (footer row count + the bounded
    # recrawl pump), the single per-host window is output-identical and
    # one exchange + one sort cheaper (guide §2.4)
    small_frontier = (
        n_frontier_rows + config.recrawl_budget < config.leftover_split_threshold
    )
    if config.round_fetch_budget:
        # global cross-host cap: the TakeOrdered cut is not a per-row
        # predicate, so the leftover falls back to the anti-join below
        from ..operators.politeness import global_fetch_cap

        scheduled = global_fetch_cap(
            rank_frontier(
                frontier, config, host_budgets, two_phase=not small_frontier
            ),
            config.round_fetch_budget,
        ).persist()
        leftover_df, rank_caches = None, [scheduled]
    elif n_frontier_rows >= config.leftover_split_threshold:
        # big frontier: scheduled AND the politeness leftovers come from
        # the same two window passes — no frontier-sized anti-join
        # (measured best ≥ ~0.5M delta rows; identical output either way)
        from ..operators.politeness import rank_frontier_split

        scheduled, leftover_df, rank_caches = rank_frontier_split(
            frontier, config, host_budgets
        )
    else:
        # small frontier: plain anti-join leftover (AQE broadcasts the
        # scheduled side; avoids materializing the two window caches)
        scheduled = rank_frontier(
            frontier, config, host_budgets, two_phase=not small_frontier
        ).persist()
        leftover_df, rank_caches = None, [scheduled]
    if "_base_priority" in scheduled.columns:  # rank-time-only column
        scheduled = scheduled.drop("_base_priority")

    # S4/F5/O4 — crawl.  The raw join is persisted ONCE; both the ok and
    # timeout branches filter the cache (the join never runs twice).
    from ..operators.crawler import fetch_join, split_fetched

    fetched = fetch_join(scheduled, pages, blacklist_pred).persist()
    fetched_ok, timeouts = split_fetched(fetched, config)

    # reputation evidence: one (host, url, status, content_fnv, soft404)
    # row per capture THIS round, from the same persisted fetch cache —
    # errors included (the error share is a signal), soft-404 flags via
    # the relational template+phrase detector.
    repute_delta = None
    if config.reputation_enabled:
        from ..operators.crawler import soft404_flags

        repute_delta = soft404_flags(
            fetched.select(
                "url", "host", "status",
                F.col("html").cast("string").alias("text"),
            )
        ).select(
            "host", "url", "status",
            F.xxhash64("text").alias("content_fnv"),
            "soft404",
            F.lit(round_n).alias("round"),
        )

    # optional membership router over the current seen set (bloom or
    # the deletable cuckoo variant — identical exactness contract)
    bloom = None
    if (
        seen_bloom is not None
        and config.bloom_enabled
        and seen is not None
        and config.seen_filter != "cuckoo"
    ):
        bloom = seen_bloom  # driver-maintained incremental filter
    elif config.bloom_enabled and seen is not None and seen_count_hint:
        if config.seen_filter == "cuckoo":
            from ..operators.cuckoo import CuckooFilter

            bloom = CuckooFilter.build(
                seen.select("url_hash"), "url_hash",
                capacity=max(seen_count_hint, 1024),
            )
        else:
            bloom = ShardedBloom.build(
                seen.select("url_hash"),
                "url_hash",
                expected_items=seen_count_hint,
                fpp=config.bloom_fpp,
                num_shards=config.bloom_shards,
            )

    # page-level robots directives (REP meta tag ∪ X-Robots-Tag):
    # nofollow gates the extract input, noindex gates the index input.
    # Flag-gated — the default path is byte-identical (no extra columns,
    # no extra scan: both branches filter the SAME persisted fetch cache)
    extract_src = index_src = fetched_ok
    if config.robots_meta_enabled:
        from ..functions.html import robots_meta_cols

        rm = robots_meta_cols(
            F.col("html").cast("string"),
            F.expr(
                "element_at(transform_keys(headers, (k, v) -> lower(k)),"
                " 'x-robots-tag')"
            ),
        )
        extract_src = fetched_ok.where(~rm["nofollow"])
        index_src = fetched_ok.where(~rm["noindex"])

    # scheduler — discover next frontier (robots state is optional: a
    # committed `robots` table gates candidates by disallow prefix)
    link_edges = cand_cache = None
    if config.link_rank_enabled:
        new_urls, link_edges, cand_cache = discover_new_urls(
            extract_src, config, seen_verify, blacklist_pred, round_n,
            bloom=bloom, robots=robots_df, emit_edges=True,
            seen_tail=seen_tail,
        )
    else:
        new_urls = discover_new_urls(
            extract_src, config, seen_verify, blacklist_pred, round_n,
            bloom=bloom, robots=robots_df, seen_tail=seen_tail,
        )
    if config.fetch_robots:
        # proactive robots: schedule /robots.txt (depth 0 ⇒ top priority)
        # for hosts discovered this round that have no robots state yet
        from ..operators.robots import robots_seed_urls

        new_urls = new_urls.unionByName(
            robots_seed_urls(new_urls, robots_df, seen, rts)
        )
    new_urls = new_urls.persist()

    # indexer — resources output
    resources = build_resources(
        index_src.select("url", "host", "html", "headers", "warc_ts"),
        blacklist_pred,
    )

    # adaptive refresh: one tiny (url_hash, round, content_fnv) row per
    # fetch — the change-detection history adaptive_seen_delta reads.
    # xxhash64 is the JVM-side digest (engine-internal change signal;
    # the reference-parity FNV stays on urls only).
    fetch_meta_delta = None
    if config.adaptive_refresh:
        fetch_meta_delta = fetched_ok.select(
            "url",
            "url_hash",
            "host",
            F.lit(round_n).alias("round"),
            F.xxhash64("html").alias("content_fnv"),
        ).dropDuplicates(["url_hash"])

    # ---- stage writes (invisible until commit); row counts come from the
    # written parquet footers — zero extra Spark jobs ----------------------
    # Phase A (sequential): the two writes that MATERIALIZE the caches —
    # timeouts warms scheduled+fetched, frontier warms new_urls.
    # state-table deltas are small relative to cluster width — cap their
    # file count (scales with the configured width, so a 1000-executor
    # run still spreads them; see stage_round docstring)
    small_files = max(
        1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 16
    )
    catalog.stage_round(
        "timeouts",
        timeouts.withColumn("round", F.lit(round_n)),
        round_n,
        files=small_files,
    )
    n_timeouts = catalog.rows_in_round("timeouts", round_n)
    # politeness DEFERS, it must not DROP: frontier rows the budget rank
    # left unscheduled this round requeue into the next delta with their
    # original bookkeeping (the reference, which has no budget, fetches
    # every published URL eventually — completeness parity requires the
    # carry-over).  A leftover can collide with a re-discovery only when
    # its seen TTL expired mid-flight; the anti-join keeps the leftover
    # (older discovered_ts) and drops the duplicate discovery.
    if leftover_df is None:
        leftover = frontier.join(
            scheduled.select("url_hash"), "url_hash", "left_anti"
        ).withColumn("round", F.lit(round_n + 1))
    else:
        leftover = leftover_df.withColumn("round", F.lit(round_n + 1))
    leftover = _restore_base_priority(leftover)
    if explosion_deferred is not None:
        leftover = leftover.unionByName(
            _restore_base_priority(
                explosion_deferred.withColumn("round", F.lit(round_n + 1))
            )
        )
    new_delta = _frontier_delta(new_urls, round_n)
    if (
        config.refresh_delay_s
        or config.round_fetch_budget
        or config.host_explosion_max
    ):
        # a leftover can collide with a re-discovery only when its seen
        # TTL expired mid-flight (without expiry every frontier row has
        # a live seen entry, so the seen anti-join already dropped the
        # duplicate discovery) — keep the guard exactly when TTLs are
        # live, or when the global-cap fallback / explosion deferral
        # computed leftovers by anti-join or host cut (conservative)
        new_delta = new_delta.join(
            leftover.select("url_hash"), "url_hash", "left_anti"
        )
    next_delta = leftover.unionByName(new_delta)
    catalog.stage_round("frontier", next_delta, round_n + 1)

    committed_tables = ["seen", "resources", "timeouts", "metrics"]

    # blacklister reads the tiny staged timeouts back from parquet —
    # avoids recomputing the fetch join for the timeout branch.  When the
    # round produced no timeouts and there is no live counter state, the
    # host_failures/blacklist states are unchanged — skip their rewrites
    # entirely (read_state falls back to the latest committed round).
    hf_rounds = catalog._committed_rounds("host_failures", None)
    prev_hf_rows = (
        catalog.rows_in_round("host_failures", hf_rounds[-1]) if hf_rounds else 0
    )

    # Phase B (concurrent): the remaining writes only read warm caches /
    # tiny staged files — independent Spark jobs, overlapped via threads
    # (the scheduler interleaves their tasks; wall ≈ max, not sum).
    from concurrent.futures import ThreadPoolExecutor

    def _write_seen():
        if config.adaptive_refresh:
            from ..operators.recrawl import adaptive_seen_delta

            meta_all = fetch_meta_delta
            if prior_meta is not None:
                meta_all = prior_meta.select(*fetch_meta_delta.columns).unionByName(
                    fetch_meta_delta
                )
            # seen rows are (re)written for this round's discoveries AND
            # for every SCHEDULED url that no longer had a live seen row
            # (a refetch — the pump path, or a TTL that lapsed in-flight):
            # the refetch is the moment the change history grows, so it
            # is when the adapted TTL must be (re)armed
            targets = new_urls.select("url_hash")
            if seen is not None:
                refetched = scheduled.select("url_hash").join(
                    seen.where(
                        F.col("expires_ts").isNull() | (F.col("expires_ts") > rts)
                    ).select("url_hash"),
                    "url_hash",
                    "left_anti",
                )
                targets = targets.unionByName(refetched).dropDuplicates(["url_hash"])
            delta = adaptive_seen_delta(
                targets,
                seen,
                meta_all,
                now_s=BASE_TS + round_n * ROUND_INTERVAL_S,
                base_s=config.refresh_delay_s,
                min_s=config.refresh_min_s,
                max_s=config.refresh_max_s,
                round_n=round_n,
            )
        else:
            delta = _seen_delta(new_urls, config, round_n)
        catalog.stage_round("seen", delta, round_n)

    def _write_fetch_meta():
        if fetch_meta_delta is None:
            return False
        catalog.stage_round(
            "fetch_meta", fetch_meta_delta, round_n, files=small_files
        )
        return True

    def _write_resources():
        catalog.stage_round("resources", resources, round_n)

    def _write_robots():
        """Harvest fetched robots.txt bodies into the robots state
        (disallow prefixes + Crawl-delay); hosts re-advertising replace
        their previous entry."""
        if not config.fetch_robots:
            return False
        from ..operators.robots import empty_robots, robots_table_from_fetch

        new_rob = robots_table_from_fetch(
            fetched_ok.where(F.col("url").endswith("/robots.txt")).select(
                "host", "html"
            )
        )
        if not new_rob.limit(1).count():
            return False
        old = robots_df if robots_df is not None else empty_robots(spark)
        if "crawl_delay_s" not in old.columns:  # pre-delay state dirs
            old = old.withColumn(
                "crawl_delay_s", F.lit(None).cast("double")
            )
        merged = old.join(
            F.broadcast(new_rob.select("host")), "host", "left_anti"
        ).unionByName(new_rob)
        catalog.stage_round("robots", merged, round_n, files=small_files)
        return True

    # blacklister plans are built in the main thread (plan-only, no job)
    # so the two state writes can overlap as independent pool tasks
    # instead of running back-to-back in one thread
    do_blacklister = bool(n_timeouts or prev_hf_rows)
    if do_blacklister:
        timeouts_df = (
            spark.read.parquet(catalog._round_dir("timeouts", round_n)).select(
                "url", "host"
            )
            if n_timeouts
            else timeouts.limit(0)
        )
        new_hf, new_bl = bl.process_timeouts(
            timeouts_df, host_failures, blacklist_df, host_status, config, rts
        )

    def _write_host_failures():
        if not do_blacklister:
            return False
        catalog.stage_round("host_failures", new_hf, round_n, files=small_files)
        return True

    def _write_blacklist():
        if not do_blacklister:
            return False
        catalog.stage_round("blacklist", new_bl, round_n, files=small_files)
        return True

    def _write_repute():
        if repute_delta is None:
            return False
        catalog.stage_round(
            "host_repute", repute_delta, round_n, files=small_files
        )
        return True

    def _write_edges():
        if link_edges is None:
            return False
        catalog.stage_round(
            "link_edges",
            link_edges.withColumn("round", F.lit(round_n)),
            round_n,
            files=small_files,
        )
        return True

    stats = RoundStats(
        round=round_n,
        scheduled=0,  # filled from lineage below
        fetched=0,  # filled after the resources write lands
        timeouts=n_timeouts,
        discovered=catalog.rows_in_round("frontier", round_n + 1),
    )

    def _write_metrics():
        # per-partition lineage for the fetch and schedule stages (north
        # rule: per-partition lineage + metrics per round) — one write
        # job, inputs are cached.  The fetched total comes from the
        # resources write's parquet footers, so the caller submits this
        # task only after the resources future resolves (everything
        # else it reads is already staged or cached).
        stats.fetched = catalog.rows_in_round("resources", round_n)
        lineage = (
            scheduled.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .select(
                F.lit(round_n).alias("round"),
                F.lit("scheduled").alias("stage"),
                "partition_id",
                "rows",
            )
            .unionByName(
                fetched_ok.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .select(
                    F.lit(round_n).alias("round"),
                    F.lit("fetch").alias("stage"),
                    "partition_id",
                    "rows",
                )
            )
        )
        stage_rows = [
            (round_n, s, -1, int(v))
            for s, v in (
                ("fetched", stats.fetched),
                ("timeouts", stats.timeouts),
                ("discovered", stats.discovered),
            )
        ]
        metrics = lineage.unionByName(
            spark.createDataFrame(stage_rows, "round int, stage string, partition_id int, rows bigint")
        )
        catalog.stage_round("metrics", metrics, round_n, files=small_files)

    # No task ever blocks on another task's future inside a worker
    # (that shape deadlocks the round forever the first time a submit
    # is added without resizing the pool): _write_metrics' one
    # dependency is expressed by submitting it from the main thread
    # AFTER f_res resolves, so pool sizing is a throughput knob only.
    with ThreadPoolExecutor(max_workers=8) as pool:
        # fetch_meta first: _write_seen reads the staged delta's plan
        # inputs (both derive from the fetched cache, so ordering only
        # affects warm-cache reuse, not correctness)
        f_meta = pool.submit(_write_fetch_meta)
        f_seen = pool.submit(_write_seen)
        f_res = pool.submit(_write_resources)
        f_hf = pool.submit(_write_host_failures)
        f_blk = pool.submit(_write_blacklist)
        f_rob = pool.submit(_write_robots)
        f_edges = pool.submit(_write_edges)
        f_rep = pool.submit(_write_repute)
        f_res.result()
        f_metrics = pool.submit(_write_metrics)  # overlaps the rest
        f_seen.result()
        f_metrics.result()
        if f_meta.result():
            committed_tables += ["fetch_meta"]
        if f_hf.result() and f_blk.result():
            committed_tables += ["host_failures", "blacklist"]
        if f_rob.result():
            committed_tables += ["robots"]
        if f_edges.result():
            committed_tables += ["link_edges"]
        if f_rep.result():
            committed_tables += ["host_repute"]
    # scheduled count from the just-written lineage parquet (no job)
    import pyarrow.parquet as pq
    import glob as _glob
    import os as _os

    sched = 0
    for f in _glob.glob(_os.path.join(catalog._round_dir("metrics", round_n), "*.parquet")):
        t = pq.read_table(f, columns=["stage", "rows"])
        for s, r in zip(t["stage"].to_pylist(), t["rows"].to_pylist()):
            if s == "scheduled":
                sched += r
    stats.scheduled = sched
    # discovered = NEW urls only: next-delta rows minus the requeued
    # leftovers (frontier_rows - scheduled), all from footers/lineage —
    # no extra jobs
    n_frontier = catalog.rows_in_round("frontier", round_n)
    stats.discovered = max(0, stats.discovered - (n_frontier - sched))

    # ---- atomic publish: the round's tables AND the produced frontier Δ
    # (keyed under round_n+1 so read_round finds it) go out in ONE manifest
    # replace — no crash window between them (ADVICE r1)
    catalog.commit_rounds(
        [
            (round_n, committed_tables, {"stats": stats.__dict__}),
            (round_n + 1, ["frontier"], {"produced_by_round": round_n}),
        ]
    )

    for c in rank_caches:
        c.unpersist()
    fetched.unpersist()
    new_urls.unpersist()
    if cand_cache is not None:
        cand_cache.unpersist()
    return stats
