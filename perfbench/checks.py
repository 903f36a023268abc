"""Output checks, run outside the timed region.

Crawls: an order-insensitive fingerprint of the committed frontier and
seen deltas, the tables each round committed and the ``RoundStats``, and
invariants that hold for any correct crawl (every round commits its
state tables; no URL is marked seen twice, so none of a resumed crawl's
new URLs was in its history).  Queries: an order-insensitive hash of
each output, compared with the same hash of the query's DuckDB oracle
over the same parquet input.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint(df: DataFrame) -> str:
    """count:sum:xor of a row hash over every column — independent of row
    order and partitioning."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("h")
    r = df.select(h).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x"),
    ).collect()[0]
    return f"{r['n']}:{r['s']}:{r['x']}"


# tables every crawled round commits; a round with timeouts also runs
# the blacklister and commits its two tables
ROUND_TABLES = {"seen", "resources", "timeouts", "metrics"}
BLACKLISTER_TABLES = {"host_failures", "blacklist"}


def crawl_outputs(spark, state_root: str, since: int, stats) -> dict:
    """Fingerprints of the frontier and seen deltas committed after round
    ``since`` (the crawl's own output) and the tables each round
    committed, plus the invariant checks."""
    from bathyscaphe_spark.state.tables import TableCatalog

    cat = TableCatalog(spark, state_root)
    frontier = cat.read_deltas("frontier", since=since)
    new_seen = cat.read_deltas("seen", since=since)
    rounds = cat.manifest["rounds"]
    out = {
        "frontier": fingerprint(frontier) if frontier is not None else "none",
        "seen": fingerprint(new_seen) if new_seen is not None else "none",
        "tables": {r: sorted(e["tables"]) for r, e in rounds.items() if int(r) > since},
        "problems": [],
    }
    for s in stats:
        want = ROUND_TABLES | (BLACKLISTER_TABLES if s.timeouts else set())
        missing = want - set(rounds.get(str(s.round), {}).get("tables", ()))
        if "frontier" not in rounds.get(str(s.round + 1), {}).get("tables", ()):
            missing.add(f"frontier of round {s.round + 1}")
        if missing:
            out["problems"].append(f"round {s.round} committed no {sorted(missing)}")
    all_seen = cat.read_deltas("seen")
    n, distinct = all_seen.agg(F.count(F.lit(1)), F.countDistinct("url_hash")).collect()[0]
    if n != distinct:
        out["problems"].append(f"{n - distinct} url_hash rows marked seen twice")
    return out


def canonical_hash(df: pd.DataFrame) -> str:
    """The oracle-parity canonical form (sorted columns, values as text,
    rows sorted) hashed: the same rows in any order hash the same."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: "∅" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
        )
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    md5 = hashlib.md5("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        md5.update(("\x1e" + "\x1f".join(row)).encode())
    return f"{len(df)}:{md5.hexdigest()}"


def oracle_hashes(sql: dict[str, str], tables: dict[str, str]) -> dict[str, str]:
    """canonical_hash of each oracle query, run in DuckDB over ``tables``
    (view name -> parquet path)."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return {q: canonical_hash(con.execute(s).df()) for q, s in sql.items()}
    finally:
        con.close()
