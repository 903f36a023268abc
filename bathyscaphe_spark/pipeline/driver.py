"""Crawl driver — the batch-iterative loop replacing the reference's five
always-on processes (SURVEY.md §3.4).

``crawl()`` bootstraps the seed frontier (S13: the operator's hand-published
seed event, README.md:22-33), then runs rounds until exhaustion or the
round limit, committing an atomic snapshot per round.  ``resume`` picks up
from the last committed round barrier — the exactly-from-any-round-boundary
resumability the north rule requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.fnv import fnv1_64
from ..operators.bloom import ShardedBloom
from ..state.tables import TableCatalog
from .round import RoundStats, round_ts_col, run_round
from .synth import build_host_status


def bootstrap(
    catalog: TableCatalog, seeds: DataFrame, config: CrawlConfig
) -> None:
    """Install the seed frontier as round 0's delta + initial seen set.

    Seeds are marked seen at injection so a page linking back to a seed
    does not schedule it twice (the engine's choice; the reference's
    hand-injected seeds are unknown to the cache until re-discovered).
    """
    delta = seeds.select(
        "url",
        fnv1_64(F.col("url")).alias("url_hash"),
        "host",
        F.lit(0).alias("depth"),
        F.lit(1000).alias("priority"),
        round_ts_col(0).alias("discovered_ts"),
        F.lit(0).alias("round"),
    )
    catalog.stage_round("frontier", delta, 0)
    # derive seen0 from the JUST-STAGED frontier parquet instead of the
    # seeds plan: the seeds expression (a window over the pages universe
    # in the bench) would otherwise be evaluated a second time for the
    # same rows (guide §1.2: don't compute things twice)
    seen0 = catalog.spark.read.parquet(
        catalog._round_dir("frontier", 0)
    ).select(
        "url_hash",
        F.lit(-1).alias("first_seen_round"),
        F.lit(None).cast("timestamp").alias("expires_ts"),
    )
    if config.adaptive_refresh:
        # keep every seen delta schema-identical (read_deltas unions the
        # round files in one parquet read): seeds carry a null ttl_s —
        # they never expire, so no TTL ever applies to them
        seen0 = seen0.withColumn("ttl_s", F.lit(None).cast("long"))
    catalog.stage_round("seen", seen0, -1)
    # ONE atomic publish for both entries: a crash between separate
    # commits would leave the frontier installed but the seeds never
    # marked seen, so pages linking back to a seed would re-fetch it —
    # exactly the window commit_rounds exists to close (same discipline
    # as run_round's round-N + frontier-N+1 pair)
    catalog.commit_rounds([
        (0, ["frontier"], {"bootstrap": True}),
        (-1, ["seen"], {"bootstrap": True}),
    ])


def _bloom_dir(catalog: TableCatalog) -> str:
    import os

    return os.path.join(catalog.root, "filters", "seen_bloom")


def _save_persisted_bloom(
    catalog: TableCatalog,
    bloom: ShardedBloom,
    capacity: int,
    config: CrawlConfig,
    covers_through: int,
) -> None:
    """Persist the filter shards + a meta sidecar.  Written to a temp dir
    then atomically renamed into place, so a crash mid-save leaves the
    previous snapshot (or none) — the loader validates meta before use.
    ``covers_through``: the highest round whose seen Δ is folded in."""
    import json
    import os
    import shutil
    import tempfile

    from ..operators.bloom import save_shards

    final = _bloom_dir(catalog)
    parent = os.path.dirname(final)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".seen_bloom_", dir=parent)
    try:
        save_shards(bloom, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(
                {
                    "covers_through": covers_through,
                    "capacity": capacity,
                    "fpp": config.bloom_fpp,
                    "num_shards": config.bloom_shards,
                },
                fh,
            )
        old = final + ".old"
        if os.path.exists(final):
            # a crash between the two renames below can leave a stale
            # non-empty .old behind; os.rename cannot replace it, so
            # clear it first or every later rebuild dies with ENOTEMPTY
            shutil.rmtree(old, ignore_errors=True)
            os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def _load_persisted_bloom(
    catalog: TableCatalog, config: CrawlConfig, next_round: int
) -> tuple[ShardedBloom | None, int]:
    """(filter, capacity) from the saved snapshot + the seen Δs committed
    after it, or (None, 0) when absent/incompatible.  Exactness: the
    router must cover EVERY committed seen Δ < ``next_round`` — a missed
    Δ would wave a seen URL through as definitely-new — so every round
    in (covers_through, next_round) is folded before use."""
    import json
    import os

    from ..operators.bloom import load_shards

    d = _bloom_dir(catalog)
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        return None, 0
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
        if (
            meta.get("fpp") != config.bloom_fpp
            or meta.get("num_shards") != config.bloom_shards
        ):
            return None, 0  # config changed since save: rebuild
        bloom = load_shards(d)
    except Exception:
        return None, 0  # unreadable snapshot: rebuild from the table
    bloom = _fold_seen_rounds(
        catalog, bloom, range(int(meta["covers_through"]) + 1, next_round)
    )
    return bloom, int(meta["capacity"])


def _fold_seen_rounds(
    catalog: TableCatalog, bloom: ShardedBloom, rounds
) -> ShardedBloom:
    """``bloom`` ∪ the committed seen Δs of ``rounds`` in ONE or_delta
    (bit-identical to folding them one at a time: insertion is an OR)."""
    deltas = [
        df for r in rounds if (df := catalog.read_round("seen", r)) is not None
    ]
    if not deltas:
        return bloom
    fold = deltas[0]
    for df in deltas[1:]:
        fold = fold.unionByName(df)
    return bloom.or_delta(fold.select("url_hash"), "url_hash")


def _seen_store_meta(catalog: TableCatalog) -> str:
    import os

    return os.path.join(catalog.root, "seen_bucketed", "meta.json")


def _load_seen_store(catalog: TableCatalog, config: CrawlConfig):
    """(store, compact_round) from the sidecar, or (None, -1).  The
    store table is re-registered metadata-only (attach) — bucket ids
    live in the file names, so resume never rewrites data."""
    import hashlib
    import json
    import os

    from ..state.seenstore import BucketedSeenStore

    meta_path = _seen_store_meta(catalog)
    if not os.path.exists(meta_path):
        return None, -1
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
    except Exception:
        return None, -1
    path = os.path.join(catalog.root, "seen_bucketed", f"r{meta['round']}")
    if not os.path.isdir(path):
        return None, -1
    h = hashlib.md5(os.path.abspath(catalog.root).encode()).hexdigest()[:8]
    store = BucketedSeenStore(
        catalog.spark, path,
        name=f"seen_b_{h}_r{meta['round']}".replace("-", "m"),
        num_buckets=int(meta["buckets"]),
    )
    store.attach()
    return store, int(meta["round"])


def _compact_seen_store(
    catalog: TableCatalog, config: CrawlConfig, through_round: int, old=None
):
    """Rewrite the bucketed base covering all seen Δs ≤ ``through_round``.
    Crash-safe: the new compaction writes to its own ``r<N>`` directory,
    the sidecar is replaced atomically, then the superseded directory is
    dropped — a crash at any point leaves a loadable snapshot."""
    import hashlib
    import json
    import os
    import shutil
    import uuid

    from ..state.seenstore import BucketedSeenStore, consolidate_seen

    base_dir = os.path.join(catalog.root, "seen_bucketed")
    os.makedirs(base_dir, exist_ok=True)
    path = os.path.join(base_dir, f"r{through_round}")
    h = hashlib.md5(os.path.abspath(catalog.root).encode()).hexdigest()[:8]
    store = BucketedSeenStore(
        catalog.spark, path,
        name=f"seen_b_{h}_r{through_round}".replace("-", "m"),
        num_buckets=config.seen_buckets,
    )
    seen = catalog.read_deltas("seen", upto=through_round)
    if seen is None:
        return None, -1
    store.drop()
    shutil.rmtree(path, ignore_errors=True)  # re-run after crash mid-write
    store.compact(consolidate_seen(seen))
    meta_path = _seen_store_meta(catalog)
    tmp = meta_path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"round": through_round, "buckets": config.seen_buckets}, fh)
    os.replace(tmp, meta_path)
    if old is not None and os.path.abspath(old.path) != os.path.abspath(path):
        old.drop()
        shutil.rmtree(old.path, ignore_errors=True)
    return store, through_round


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame | None,
    state_root: str,
    config: CrawlConfig | None = None,
    max_rounds: int = 10,
    host_status: DataFrame | None = None,
) -> list[RoundStats]:
    """Run (or resume) a crawl.  Returns per-round stats.

    If ``state_root`` already holds committed rounds, ``seeds`` may be
    None and the crawl resumes from the last round barrier.
    """
    config = config or CrawlConfig()
    catalog = TableCatalog(spark, state_root)
    catalog.cleanup_uncommitted()

    own_host_status = host_status is None
    if own_host_status:
        host_status = build_host_status(pages).persist()

    # bootstrap iff no frontier delta was ever committed — NOT
    # last_committed_round() < 0: a pre-crawl set_config() commits a
    # config-only round, and keying on the round counter would silently
    # skip seed installation (the crawl would return [] with no error)
    if not catalog._committed_rounds("frontier", None):
        if seeds is None:
            raise ValueError("fresh state dir requires seeds")
        bootstrap(catalog, seeds, config)
        start = 0
        seen_count = None
    else:
        # resume: the next round to run is the first whose own tables are
        # not committed (its frontier Δ was committed by its predecessor)
        rounds = catalog.manifest["rounds"]
        start = max(
            (int(r) for r, e in rounds.items() if "seen" in e["tables"]),
            default=-1,
        ) + 1
        seen_count = None

    from ..state.configstore import load_config

    stats: list[RoundStats] = []
    seen_bloom = None  # incrementally folded across rounds (O(Δ)/round)
    bloom_capacity = 0
    # rounds whose committed seen Δ is not folded into seen_bloom yet:
    # folded at the top of the next round that reads the filter, so the
    # last round's Δ (which nothing in this call reads — resume re-folds
    # from the snapshot) and Δs a rebuild covers cost no Spark job
    unfolded: list[int] = []
    seen_store, seen_store_round = (
        _load_seen_store(catalog, config) if config.seen_bucketed else (None, -1)
    )
    for round_n in range(start, max_rounds):
        frontier = catalog.read_round("frontier", round_n)
        if frontier is None or catalog.rows_in_round("frontier", round_n) == 0:
            break  # frontier exhausted (row count from footers — no job)
        if config.bloom_enabled and seen_count is None:
            # the rows read_deltas("seen") would scan, from the parquet
            # footers — no Spark job
            seen_count = sum(
                catalog.rows_in_round("seen", r)
                for r in catalog._committed_rounds("seen", None)
            )
        # S11: overlay any runtime config mutation (set_config) published
        # since the last boundary — the reference's ConfigAPI pub/sub
        # reload, at round granularity
        round_config = load_config(catalog, config)
        use_inc = (
            round_config.bloom_enabled
            and round_config.bloom_incremental
            and round_config.seen_filter != "cuckoo"
            and bool(seen_count)
        )
        if use_inc and seen_bloom is None and round_config.bloom_persist:
            # resume path: a snapshot saved at the last capacity rebuild
            # plus the seen Δs committed after it reconstruct the exact
            # running filter without rescanning the full seen table
            seen_bloom, bloom_capacity = _load_persisted_bloom(
                catalog, round_config, round_n
            )
        if use_inc and (seen_bloom is None or seen_count > bloom_capacity):
            # (re)build from the full seen set with headroom; each rebuild
            # at least doubles capacity, so full-table scans are amortized
            # O(1) per round even as the seen set grows without bound
            seen_df = catalog.read_deltas("seen")
            if seen_df is not None:
                bloom_capacity = max(
                    int(seen_count * round_config.bloom_capacity_slack),
                    2 * bloom_capacity,
                    64,
                )
                seen_bloom = ShardedBloom.build(
                    seen_df.select("url_hash"),
                    "url_hash",
                    expected_items=bloom_capacity,
                    fpp=round_config.bloom_fpp,
                    num_shards=round_config.bloom_shards,
                )
                unfolded = []  # the rebuild read every committed Δ
                if round_config.bloom_persist:
                    _save_persisted_bloom(
                        catalog, seen_bloom, bloom_capacity,
                        round_config, round_n - 1,
                    )
        elif use_inc and unfolded:
            seen_bloom = _fold_seen_rounds(catalog, seen_bloom, unfolded)
            unfolded = []
        s = run_round(
            catalog,
            pages,
            host_status,
            round_config,
            round_n,
            seen_count_hint=seen_count,
            seen_bloom=seen_bloom if use_inc else None,
            seen_store=seen_store if round_config.seen_bucketed else None,
            seen_store_round=seen_store_round,
        )
        stats.append(s)
        if (
            round_config.seen_bucketed
            and round_config.seen_bucket_every > 0
            and (round_n + 1) % round_config.seen_bucket_every == 0
        ):
            seen_store, seen_store_round = _compact_seen_store(
                catalog, round_config, round_n, old=seen_store
            )
        if seen_count is not None:
            seen_count += s.discovered
        if seen_bloom is not None and s.discovered:
            # this round's seen Δ is folded lazily (see ``unfolded``) —
            # bit-identical to a from-scratch rebuild of the same keys
            # at the same capacity
            unfolded.append(round_n)
    if own_host_status:
        host_status.unpersist()
    return stats
