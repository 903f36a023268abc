"""Blacklister scenarios (blacklister_test.go:52-180)."""

import datetime

from pyspark.sql import functions as F

from bathyscaphe_spark.config import CrawlConfig
from bathyscaphe_spark.operators.blacklister import (
    empty_blacklist,
    empty_host_failures,
    process_timeouts,
)

def RTS():
    return F.timestamp_seconds(F.lit(1603973049))


def _timeouts(spark, hosts):
    return spark.createDataFrame(
        [(f"https://{h}/x", h) for h in hosts], "url string, host string"
    )


def _status(spark, rows):
    return spark.createDataFrame(rows, "host string, up boolean")


def _failures(spark, rows):
    return spark.createDataFrame(
        rows, "host string, count long, expires_ts timestamp"
    )


def test_empty_states_are_empty_local_relations(spark):
    """The empty states must be visibly empty to the optimizer (an empty
    ``LocalRelation``), not an RDD scan that a job has to run to find
    nothing in."""
    for df in (empty_blacklist(spark), empty_host_failures(spark)):
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
        assert plan.data().isEmpty()
    assert empty_blacklist(spark).collect() == []
    assert empty_host_failures(spark).columns == ["host", "count", "expires_ts"]


def test_process_timeouts_over_empty_states_scans_no_rdd(spark):
    """Over empty states the anti-join, the full-outer join and the union
    fold away at plan time: neither output plan scans an RDD, and the
    outputs are unchanged (one confirmed timeout below threshold)."""
    timeouts = spark.sql(
        "SELECT * FROM VALUES ('https://down.onion/x', 'down.onion') AS t(url, host)"
    )
    status = spark.sql(
        "SELECT * FROM VALUES ('down.onion', false) AS t(host, up)"
    )
    hf, bl = process_timeouts(
        timeouts, empty_host_failures(spark), empty_blacklist(spark),
        status, CrawlConfig(), RTS(),
    )
    assert [(r["host"], r["count"]) for r in hf.collect()] == [("down.onion", 1)]
    assert bl.collect() == []
    for df in (hf, bl):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan


def test_host_up_removes_counter(spark):
    # blacklister_test.go:52-78: response received ⇒ counter removed
    cfg = CrawlConfig()
    hf, bl = process_timeouts(
        _timeouts(spark, ["down.onion"]),
        _failures(spark, [("down.onion", 3, None)]),
        empty_blacklist(spark),
        _status(spark, [("down.onion", True)]),
        cfg,
        RTS(),
    )
    assert hf.where(F.col("host") == "down.onion").count() == 0
    assert bl.count() == 0


def test_below_threshold_counts_only(spark):
    # blacklister_test.go:80-111: 0 → 1, no blacklisting
    cfg = CrawlConfig(blacklist_threshold=10)
    hf, bl = process_timeouts(
        _timeouts(spark, ["down.onion"]),
        empty_host_failures(spark),
        empty_blacklist(spark),
        _status(spark, [("down.onion", False)]),
        cfg,
        RTS(),
    )
    row = hf.head()
    assert (row["host"], row["count"]) == ("down.onion", 1)
    assert row["expires_ts"] is not None  # TTL set (blacklister.go:184-186)
    assert bl.count() == 0


def test_threshold_crossing_blacklists(spark):
    # blacklister_test.go:113-157: 9 + 1 ⇒ blacklist at threshold 10
    cfg = CrawlConfig(blacklist_threshold=10)
    hf, bl = process_timeouts(
        _timeouts(spark, ["down.onion"]),
        _failures(spark, [("down.onion", 9, None)]),
        empty_blacklist(spark),
        _status(spark, [("down.onion", False)]),
        cfg,
        RTS(),
    )
    assert hf.head()["count"] == 10
    assert [r["hostname"] for r in bl.collect()] == ["down.onion"]


def test_already_blacklisted_skipped(spark):
    # blacklister_test.go:159-180 / F7: exact-equality guard
    cfg = CrawlConfig(blacklist_threshold=1)
    blacklist = spark.createDataFrame([("down.onion",)], "hostname string")
    hf, bl = process_timeouts(
        _timeouts(spark, ["down.onion"]),
        empty_host_failures(spark),
        blacklist,
        _status(spark, [("down.onion", False)]),
        cfg,
        RTS(),
    )
    assert hf.count() == 0  # event dropped before counting
    assert bl.count() == 1  # unchanged


def test_expired_counter_restarts(spark):
    # Redis TTL expiry: counter past expires_ts resets to zero first
    cfg = CrawlConfig(blacklist_threshold=10)
    expired = datetime.datetime(2019, 1, 1)
    hf, bl = process_timeouts(
        _timeouts(spark, ["down.onion"]),
        _failures(spark, [("down.onion", 9, expired)]),
        empty_blacklist(spark),
        _status(spark, [("down.onion", False)]),
        cfg,
        RTS(),
    )
    assert hf.head()["count"] == 1
    assert bl.count() == 0


def test_batch_counts_per_round(spark):
    # batch semantics: 5 confirmed timeout events in one round count 5
    cfg = CrawlConfig(blacklist_threshold=5)
    hf, bl = process_timeouts(
        _timeouts(spark, ["down.onion"] * 5),
        empty_host_failures(spark),
        empty_blacklist(spark),
        _status(spark, [("down.onion", False)]),
        cfg,
        RTS(),
    )
    assert hf.head()["count"] == 5
    assert [r["hostname"] for r in bl.collect()] == ["down.onion"]


class TestHostReputation:
    SCHEMA = (
        "host string, url string, status int,"
        " content_hash string, soft404 boolean"
    )

    def _run(self, spark, pages, recip=None, parts=3, **kw):
        from bathyscaphe_spark.operators.blacklister import host_reputation

        df = spark.createDataFrame(pages, self.SCHEMA).repartition(parts)
        r = (
            spark.createDataFrame(
                recip, "host_a string, host_b string, reciprocal boolean"
            )
            if recip is not None
            else None
        )
        return {
            x.host: x.asDict()
            for x in host_reputation(df, r, **kw).collect()
        }

    def test_signal_isolation(self, spark):
        pages = [
            ("good", "u1", 200, "a", False), ("good", "u2", 200, "b", False),
            ("dup", "u1", 200, "s", False), ("dup", "u2", 200, "s", False),
            ("err", "u1", 500, "a", False), ("err", "u2", 200, "b", False),
            ("s404", "u1", 200, "a", True), ("s404", "u2", 200, "b", False),
            ("farm", "u1", 200, "a", False),
        ]
        recip = [("farm", "other", True), ("x", "y", False)]
        got = self._run(spark, pages, recip)
        assert got["good"]["reputation_pm"] == 1000
        # dup: dup_pm 500 → 1000 - 400*500//1000 = 800
        assert (got["dup"]["dup_pm"], got["dup"]["reputation_pm"]) == (500, 800)
        # err: err_pm 500 → 1000 - 300*500//1000 = 850
        assert (got["err"]["err_pm"], got["err"]["reputation_pm"]) == (500, 850)
        assert got["s404"]["reputation_pm"] == 850
        assert got["farm"]["farm"] is True
        assert got["farm"]["reputation_pm"] == 700
        # non-reciprocal pair must NOT mark its hosts
        assert got["good"]["farm"] is False

    def test_floor_at_zero_and_no_recip_table(self, spark):
        pages = [("bad", f"u{i}", 500, "s", True) for i in range(4)]
        got = self._run(spark, pages)  # reciprocity=None path
        b = got["bad"]
        # dup_pm = 1000-250 = 750, err = 1000, s404 = 1000
        # 1000 - (400*750 + 300*1000 + 300*1000)//1000 = 1000-900 = 100
        assert b["reputation_pm"] == 100
        got2 = self._run(
            spark, pages, recip=[("bad", "z", True)], farm_penalty=300
        )
        assert got2["bad"]["reputation_pm"] == 0  # clamped, not negative

    def test_revisits_count_captures_not_urls(self, spark):
        pages = [
            ("h", "u1", 200, "a", False),
            ("h", "u1", 200, "a", False),  # revisit, same content
            ("h", "u2", 200, "b", False),
        ]
        got = self._run(spark, pages)
        assert got["h"]["n_urls"] == 2 and got["h"]["n_captures"] == 3
        assert got["h"]["dup_pm"] == 0  # 2 contents / 2 urls

    def test_partition_invariance(self, spark):
        pages = [
            (f"h{i % 6}", f"u{i}", 500 if i % 7 == 0 else 200,
             f"c{i % 4}", i % 5 == 0)
            for i in range(60)
        ]
        assert self._run(spark, pages, parts=1) == self._run(
            spark, pages, parts=13
        )
