"""Local twin of the driver's DuckDB-oracle correctness compare.

Runs a registered Spark query and its oracle SQL side-by-side and compares
row count, sorted column names, and the order-insensitive sorted rows — so
mismatches are caught (with per-column diagnostics) before the driver runs.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from iceberg_table_generator_spark.sources.tables import TABLE_NAMES, table_path


def _canon_value(v) -> str:
    """Canonical string form of one cell, engine-agnostic.

    Floating-point cells carry an explicit ``f:`` tag so an integer ``7``
    and a float ``7.0`` can NEVER collide — the driver's value hash is
    dtype-sensitive (r6 verdict #2: DuckDB's HUGEINT sum materializes as
    float64 in pandas while Spark's LongType stays int64, and the old
    untagged canon masked exactly that divergence in q12_late_shipments).
    The local twin must be at least as strict as the driver's gate.
    """
    if v is None:
        return "∅"
    if isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, np.floating) and not isinstance(v, float):
        v = float(v)  # np.float32 does not inherit from float
    elif isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        # Queries round their float outputs, so both engines should produce
        # bit-identical doubles; 12 significant digits tolerates only
        # last-ulp representation noise while still catching real drift.
        return f"f:{v + 0.0:.12g}"
    if isinstance(v, Decimal):
        # A Decimal reaching pandas means a query failed to cast its
        # aggregate to DOUBLE/BIGINT — tag as float so it can't silently
        # alias an int column, and the 3-SF sweep will surface it.
        return f"f:{float(v):.12g}"
    if isinstance(v, (pd.Timestamp, datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or (hasattr(v, "tolist") and not isinstance(v, str)):
        items = v.tolist() if hasattr(v, "tolist") else list(v)
        return "[" + ",".join(_canon_value(x) for x in items) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted canonical row strings)."""
    cols = sorted(df.columns)
    rows = [
        "|".join(_canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: list[str] = field(default_factory=list)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def compare_query(name: str, spark, sf_dir: str, query_fn, oracle_sql: str) -> CompareResult:
    spark_pd = query_fn(spark, sf_dir).toPandas()
    with duckdb_conn(sf_dir) as con:
        oracle_pd = con.execute(oracle_sql).fetchdf()

    detail: list[str] = []
    s_cols, s_rows = canonical_rows(spark_pd)
    o_cols, o_rows = canonical_rows(oracle_pd)
    if s_cols != o_cols:
        detail.append(f"columns differ: spark={s_cols} oracle={o_cols}")
    if len(s_rows) != len(o_rows):
        detail.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")
    if not detail and s_rows != o_rows:
        # Show first few differing rows for debugging.
        s_only = [r for r in s_rows if r not in set(o_rows)][:3]
        o_only = [r for r in o_rows if r not in set(s_rows)][:3]
        detail.append(f"value mismatch; spark-only={s_only} oracle-only={o_only}")
    return CompareResult(
        name=name,
        ok=not detail,
        spark_rows=len(s_rows),
        oracle_rows=len(o_rows),
        detail=detail,
    )
