"""Driver-gate rehearsal: every queries() entry vs its DuckDB oracle twin.

Mirrors CORRECTNESS_r{N}.json: row count + schema width + order-insensitive
exact value comparison, at sf0.001 (the driver runs sf0.01).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from ms_ocr_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"
# sf-pinned golden oracles (keep-first dedup) must be built at THIS scale
os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


ORACLE_NAMES = sorted(Q.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    spark_df = Q.queries()[name](spark, SF_DIR).toPandas()
    duck_df = duck.execute(Q.oracle_sql()[name]).fetchdf()
    assert len(spark_df) == len(duck_df), (
        f"{name}: rows {len(spark_df)} vs oracle {len(duck_df)}"
    )
    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: cols {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    )
    a, b = _canon(spark_df), _canon(duck_df)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        diff = a.compare(b) if a.shape == b.shape else None
        raise AssertionError(f"{name}: value mismatch\n{diff}\n{e}") from e


def test_every_query_has_an_oracle():
    assert set(Q.queries()) == set(Q.oracle_sql())
