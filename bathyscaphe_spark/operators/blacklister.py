"""Blacklister — host-timeout accounting and blacklist promotion.

Re-creates the reference blacklister (internal/blacklister/blacklister.go:
88-190) as an end-of-round aggregation instead of per-event handling:

* F7 guard: timeouts for already-blacklisted hosts are dropped
  (exact-equality here, not contains — blacklister.go:99-116).
* F8 liveness recheck: the reference re-GETs ``scheme://host``; success ⇒
  the failure counter is REMOVED (blacklister.go:118-137).  Simulated via
  a ``host_status(host, up)`` table derived from the pages universe.
* A1 counter: confirmed timeouts increment a per-host counter with TTL;
  reaching ``threshold`` promotes the host to the blacklist
  (blacklister.go:143-186) after D4 dedup-on-append.

Batch semantics: one round processes each host's timeout events as a
group — ``count_new = number of confirmed timeout events`` (the reference
would increment one by one; the totals agree).  Counters carry
``expires_ts``; an expired counter restarts from zero, matching Redis TTL
expiry (cache/redis.go SetInt64 TTL).

Scale notes: timeout volume per round is small relative to fetches; the
groupBy is partial-aggregated map-side, and host_failures/blacklist are
tiny full-state tables (broadcast on every use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import CrawlConfig

HOST_FAILURES_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("count", LongType()),
        StructField("expires_ts", TimestampType()),
    ]
)

BLACKLIST_SCHEMA = StructType([StructField("hostname", StringType())])


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame the optimizer can SEE is empty: ``limit(0)`` folds
    to an empty ``LocalRelation`` (``OptimizeLimitZero``), so
    ``PropagateEmptyRelation`` drops the joins and unions over it at plan
    time.  ``createDataFrame([])`` alone is an RDD scan that every
    consumer ran as a job just to find it empty."""
    return spark.createDataFrame([], schema).limit(0)


def empty_host_failures(spark: SparkSession) -> DataFrame:
    return _empty(spark, HOST_FAILURES_SCHEMA)


def empty_blacklist(spark: SparkSession) -> DataFrame:
    return _empty(spark, BLACKLIST_SCHEMA)


def process_timeouts(
    timeouts: DataFrame,
    host_failures: DataFrame,
    blacklist: DataFrame,
    host_status: DataFrame,
    config: CrawlConfig,
    round_ts,
) -> tuple[DataFrame, DataFrame]:
    """One round of blacklisting.

    Inputs:
      timeouts       (url, host)            — this round's timeout events
      host_failures  (host, count, expires_ts) — full state
      blacklist      (hostname)             — full state
      host_status    (host, up:boolean)     — liveness fixture (F8)

    Returns ``(new_host_failures, new_blacklist)`` — the next full states.
    """
    # F7 (anti-join blacklisted) + F8 (liveness tag) + A1 (per-host
    # count) fold into ONE aggregation over the round's timeout events:
    # new_count counts the confirmed events (host down or unknown) and
    # any_up records whether the host answered the liveness recheck.
    # The r6 restructure replaces the former
    # up_hosts-distinct → confirmed-groupBy → full_outer → prev_exp-join
    # chain (≈7 exchanges/broadcasts) with one broadcast-joined groupBy
    # plus one small full_outer — output-identical (pinned by the
    # blacklister parity oracles), ~3 exchanges fewer per round
    # (guide §2.4: remove shuffles outright).
    per_host = (
        timeouts.join(
            F.broadcast(blacklist.withColumnRenamed("hostname", "host")),
            "host",
            "left_anti",
        )
        .join(F.broadcast(host_status), "host", "left")
        .groupBy("host")
        .agg(
            F.count(
                F.when(F.col("up").isNull() | (F.col("up") == F.lit(False)), 1)
            ).alias("new_count"),
            F.max("up").alias("any_up"),
        )
    )

    # previous live counters (expired ones restart from zero by absence)
    prev = host_failures.where(
        F.col("expires_ts").isNull() | (F.col("expires_ts") > round_ts)
    ).select(
        "host",
        F.col("count").alias("prev_count"),
        F.col("expires_ts").alias("_prev_exp"),
    )
    merged = per_host.join(prev, "host", "full_outer")
    up = F.coalesce(F.col("any_up"), F.lit(False))
    new_events = F.coalesce(F.col("new_count"), F.lit(0))
    new_host_failures = (
        # an up host sheds its counter entirely; it reappears only with
        # confirmed events this round (then counting from zero)
        merged.where((new_events > 0) | ~up)
        .select(
            "host",
            (
                F.when(up, F.lit(0)).otherwise(
                    F.coalesce(F.col("prev_count"), F.lit(0))
                )
                + new_events
            ).alias("count"),
            F.when(
                new_events > 0,
                F.timestamp_seconds(
                    F.unix_timestamp(round_ts) + F.lit(config.blacklist_ttl_s)
                ),
            ).otherwise(F.col("_prev_exp")).alias("expires_ts"),
        )
    )

    # threshold crossing ⇒ blacklist (D4: dedup on append)
    crossed = (
        new_host_failures.where(F.col("count") >= config.blacklist_threshold)
        .select(F.col("host").alias("hostname"))
        .join(F.broadcast(blacklist), "hostname", "left_anti")
    )
    new_blacklist = blacklist.unionByName(crossed)
    return new_host_failures, new_blacklist


def host_reputation(
    pages: DataFrame,
    reciprocity: DataFrame | None = None,
    w_dup: int = 400,
    w_err: int = 300,
    w_soft404: int = 300,
    farm_penalty: int = 300,
) -> DataFrame:
    """Composite per-host reputation — the domain-level down-rank that
    sits between the binary blacklist (A1: dead hosts out) and the
    per-URL priority queue (O1): a host serving mostly duplicated
    content, hard errors, or soft-404 templates, or caught in a
    reciprocal link farm, should have its WHOLE frontier demoted
    before any single URL is judged.  Production crawlers all keep
    such a score (the public spam/quality literature:
    Fetterly/Gyöngyi); the reference's blacklister only knows
    dead-or-alive.

    Inputs: ``pages`` = one row per fetched capture with (host, url,
    status, content_hash, soft404) — the flag comes from
    ``crawler.soft404_flags`` in the pipeline; ``reciprocity`` =
    ``graph.link_reciprocity`` output (or None to skip the farm
    signal).  Demerits are integer permille shares, blended by the
    ``w_*`` weights (themselves summing to ≤1000 by convention) and a
    flat ``farm_penalty`` for link-farm membership:

        reputation_pm = max(0, 1000 − (w_dup·dup_pm + w_err·err_pm
                            + w_soft404·s404_pm) DIV 1000
                            − farm_penalty·farm)

    Scale shape: one groupBy(host) over captures (map-side combined);
    the farm-host table is tiny (pairs of flagged hosts) and
    broadcast; all integer arithmetic, bit-identical at any
    parallelism.

    Output: (host, n_urls, n_captures, dup_pm, err_pm, soft404_pm,
    farm, reputation_pm).
    """
    agg = pages.groupBy("host").agg(
        F.countDistinct("url").alias("n_urls"),
        F.count(F.lit(1)).alias("n_captures"),
        F.countDistinct("content_hash").alias("_n_content"),
        F.sum(F.when(F.col("status") >= 400, 1).otherwise(0)).alias("_n_err"),
        F.sum(F.when(F.col("soft404"), 1).otherwise(0)).alias("_n_s404"),
    )
    scored = agg.select(
        "host",
        "n_urls",
        "n_captures",
        # clamp at 0: a recrawled/churning host can carry MORE distinct
        # content hashes than distinct URLs (adaptive-refresh captures
        # of changing pages), which would drive this negative and flip
        # the downstream demotion into an unbounded priority BOOST —
        # churn is not duplication, so it earns zero dup demerit
        F.expr("greatest(0, 1000 - (_n_content * 1000) DIV n_urls)")
        .cast("long")
        .alias("dup_pm"),
        F.expr("(_n_err * 1000) DIV n_captures").cast("long")
        .alias("err_pm"),
        F.expr("(_n_s404 * 1000) DIV n_captures").cast("long")
        .alias("soft404_pm"),
    )
    if reciprocity is not None:
        farms = (
            reciprocity.where("reciprocal")
            .select(F.col("host_a").alias("host"))
            .union(reciprocity.where("reciprocal").select("host_b"))
            .distinct()
            .withColumn("farm", F.lit(True))
        )
        scored = scored.join(F.broadcast(farms), "host", "left").withColumn(
            "farm", F.coalesce("farm", F.lit(False))
        )
    else:
        scored = scored.withColumn("farm", F.lit(False))
    rep = F.greatest(
        F.lit(0),
        F.lit(1000)
        - F.expr(
            f"({w_dup} * dup_pm + {w_err} * err_pm"
            f" + {w_soft404} * soft404_pm) DIV 1000"
        )
        - F.when(F.col("farm"), F.lit(int(farm_penalty))).otherwise(0),
    )
    return scored.withColumn("reputation_pm", rep.cast("long"))
