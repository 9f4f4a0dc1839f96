"""Local replica of the driver's Spark-vs-DuckDB compare: row count, column
names, and an order-insensitive value hash over name-sorted columns."""

from __future__ import annotations

import duckdb
import pandas as pd

from data_sync_tool_spark.sources.registry import TPCH_TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    if df.empty:  # apply(axis=1) on an empty frame returns a DataFrame,
        return pd.Series([], dtype=str)  # whose sort_values needs `by`
    return df.astype(str).apply(lambda r: "\x1f".join(r), axis=1).sort_values().reset_index(drop=True)


def assert_matches_oracle(spark_df, sql: str, sf_dir: str) -> None:
    assert_matches_frame(spark_df, run_oracle(sql, sf_dir))


def assert_matches_frame(spark_df, oracle_df: pd.DataFrame) -> None:
    """The compare of ``assert_matches_oracle`` against an oracle result
    computed beforehand (e.g. on a side thread)."""
    got = _canon(spark_df.toPandas())
    want = _canon(oracle_df)
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    mism = (got != want).sum()
    assert mism == 0, f"{mism} mismatching rows; first spark={got[got != want].head(3).tolist()} oracle={want[got != want].head(3).tolist()}"
