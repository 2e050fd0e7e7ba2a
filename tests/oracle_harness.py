"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side, then compares
row count, column-name set, and order-insensitive values (floats with
tight tolerance — the declared queries round on both sides, so any
residual difference is a bug, not noise).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = (
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
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            # Normalize unit (Spark→ns, DuckDB→us) before int conversion.
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_class(dt) -> str:
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    return "other"


def _dtype_mismatch(a, b) -> bool:
    """The driver hashes typed values, so int vs float vs bool is a
    mismatch even when the values agree; an int column also mismatches
    any non-int one."""
    ca, cb = _dtype_class(a), _dtype_class(b)
    return ca != cb and ("int" in (ca, cb) or "other" not in (ca, cb))


def compare(spark_df, oracle_df: pd.DataFrame, rel_tol: float = 1e-9) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass). `spark_df`
    is a Spark DataFrame or its already-fetched pandas frame."""
    issues: list[str] = []
    sp = spark_df if isinstance(spark_df, pd.DataFrame) else spark_df.toPandas()
    if len(sp) != len(oracle_df):
        issues.append(f"row count: spark={len(sp)} oracle={len(oracle_df)}")
    if sorted(sp.columns) != sorted(oracle_df.columns):
        issues.append(
            f"columns: spark={sorted(sp.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return issues
    if issues:
        return issues
    a = _normalize(sp)
    b = _normalize(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver compares SCHEMAS strictly: an int64 Spark column
        # against a float64 oracle column (e.g. an uncast DuckDB
        # HUGEINT sum) is a driver-visible mismatch even when every
        # value agrees — flag it here so it never reaches the driver
        # (caught for real in r7: q_length_buckets pad_tokens).
        if _dtype_mismatch(av.dtype, bv.dtype):
            issues.append(
                f"col {c}: dtype class mismatch spark={av.dtype} "
                f"oracle={bv.dtype} (cast the oracle side: DuckDB "
                "sum(BIGINT) is HUGEINT -> float64 in pandas)"
            )
            continue
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce").astype(float)
            bv = pd.to_numeric(bv, errors="coerce").astype(float)
            for i, (x, y) in enumerate(zip(av, bv)):
                ok = (
                    (math.isnan(x) and math.isnan(y))
                    or x == y
                    or math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9)
                )
                if not ok:
                    issues.append(f"col {c} row {i}: spark={x!r} oracle={y!r}")
                    break
        else:
            neq = av.astype(str) != bv.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                issues.append(
                    f"col {c} row {i}: spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
                )
    return issues
