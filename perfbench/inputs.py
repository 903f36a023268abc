"""Seeded input generation for the benchmark workloads.

Every input is made here, from ``--seed``; the engine only receives
DataFrames and staged state.  ``pipeline.synth`` provides the crawl
universe (its own ``SEED`` constant stays fixed); the benchmark's seed
picks which pages start the crawl, which URLs the resumed state has
already seen and what the query corpus says.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def universe(spark: SparkSession, n_pages: int, cores: int):
    """(pages, host_status), both persisted and materialized, shaped like
    bench.py's headline universe: Zipf hosts, 8 links per page, every
    13th host down, bucketed by url for the fetch join."""
    from bathyscaphe_spark.pipeline.synth import build_host_status, build_pages

    pages = (
        build_pages(
            spark, n_pages=n_pages, n_hosts=max(40, n_pages // 200),
            links_per_page=8, parallelism=cores,
        )
        .repartition(cores * 2, "url")
        .persist()
    )
    pages.count()
    host_status = build_host_status(pages).persist()
    host_status.count()
    return pages, host_status


def _seed_rank(seed: int) -> "F.Column":
    return F.xxhash64(F.col("page_id"), F.lit(seed))


def seed_pages(spark: SparkSession, pages: DataFrame, seed: int) -> DataFrame:
    """One seed URL per host; the seed chooses which page of the host.
    Collected to the driver so every crawl starts from the same small
    local relation instead of re-running a window over the universe."""
    rows = (
        pages.select("url", "host", _seed_rank(seed).alias("k"))
        .groupBy("host")
        .agg(F.min_by("url", F.struct("k", "url")).alias("url"))
        .select("url", "host")
        .orderBy("host")
        .collect()
    )
    return spark.createDataFrame([tuple(r) for r in rows], "url string, host string")


def stage_history(
    spark: SparkSession,
    pages: DataFrame,
    state_root: str,
    seed: int,
    *,
    history_rounds: int,
    off_universe_rows: int,
    universe_seen_share: float,
    frontier_rows: int,
) -> int:
    """Write a resumable crawl state: ``history_rounds`` committed seen
    deltas holding a share of the universe's URL hashes plus
    ``off_universe_rows`` hashes of URLs outside it, and a frontier Δ of
    ``frontier_rows`` other universe pages for the next round (marked
    seen in the last history round, as discovery marks them).  Staged
    through ``TableCatalog.stage_round``/``commit_rounds`` exactly as the
    driver stages its own rounds.  Returns the round the crawl resumes
    at."""
    from bathyscaphe_spark.functions.fnv import fnv1_64
    from bathyscaphe_spark.pipeline.round import round_ts_col
    from bathyscaphe_spark.state.tables import TableCatalog

    catalog = TableCatalog(spark, state_root)
    resume_at = history_rounds - 1  # history occupies rounds -1 .. resume_at-1
    u = F.pmod(_seed_rank(seed), F.lit(1_000_000)) / 1_000_000.0
    ranked = pages.select(
        "page_id", "url", "host", fnv1_64(F.col("url")).alias("url_hash"), u.alias("u")
    ).persist()
    # the frontier: the lowest-ranked pages the history has not seen
    frontier = (
        ranked.where(F.col("u") >= universe_seen_share)
        .orderBy("u", "page_id")
        .limit(frontier_rows)
        .select(
            "url",
            "url_hash",
            "host",
            F.lit(1).alias("depth"),
            F.lit(990).alias("priority"),
            round_ts_col(resume_at - 1).alias("discovered_ts"),
            F.lit(resume_at).alias("round"),
        )
        .persist()
    )
    seen_univ = ranked.where(F.col("u") < universe_seen_share)
    off = spark.range(0, off_universe_rows, 1, 8).select(
        F.xxhash64(F.col("id"), F.lit(seed), F.lit("off-universe")).alias("url_hash"),
        F.col("id"),
    )
    entries = []
    for i, r in enumerate(range(-1, resume_at)):
        hashes = seen_univ.where(
            F.pmod(F.col("page_id"), F.lit(history_rounds)) == i
        ).select("url_hash").unionByName(
            off.where(F.pmod(F.col("id"), F.lit(history_rounds)) == i).select("url_hash")
        )
        if r == resume_at - 1:
            hashes = hashes.unionByName(frontier.select("url_hash"))
        delta = hashes.select(
            "url_hash",
            F.lit(r).alias("first_seen_round"),
            F.lit(None).cast("timestamp").alias("expires_ts"),
        )
        catalog.stage_round("seen", delta, r)
        entries.append((r, ["seen"], {"preloaded": True}))
    catalog.stage_round("frontier", frontier, resume_at)
    entries.append((resume_at, ["frontier"], {"preloaded": True}))
    catalog.commit_rounds(entries)
    frontier.unpersist()
    ranked.unpersist()
    return resume_at


# -- query corpus ------------------------------------------------------------

_VOCAB = (
    "a the data spark window merge table column vector stream value small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """The contract queries' ``documents`` table, shaped like the shared
    testdata (doc_id, text, lang, source, n_chars): bag-of-words texts
    over a 30-word vocabulary with a sprinkle of exact duplicates."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    lengths = rng.integers(8, 90, size=n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=n)]) for n in lengths]
    dup_of = rng.integers(0, n_docs, size=max(1, n_docs // 500))
    for j, src in enumerate(dup_of):
        texts[(src + 1 + j) % n_docs] = texts[src]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), size=n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
