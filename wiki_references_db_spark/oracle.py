"""Local mirror of the driver's DuckDB oracle harness.

Runs a registered Spark query and its oracle SQL side-by-side on the same
parquet tables, then compares row count, column names, and the
order-insensitive multiset of values (columns sorted by name) — the same
contract the driver's CORRECTNESS check applies.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from wiki_references_db_spark.tables import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            # Spark-written layout: a DIRECTORY of part files (used by
            # the degenerate-corpus sweeps and tools/stress_scale.py).
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    """Canonical string form of one cell, at DRIVER strictness.

    Round-3 lesson: the driver canonicalizes through pandas frames and
    hashes full-precision values; this mirror's old 10-significant-digit
    float rounding (and raw collect()/fetchall() row fetch) certified
    two queries the driver then rejected.  Both sides now travel
    through pandas (``_frame_rows``) so engine-specific frame dtypes
    (DuckDB HUGEINT -> float64, nullable BIGINT -> float64) show up
    locally exactly as the driver sees them, and floats compare at full
    repr precision."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat(sep=" ")
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "time") else str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, dict, np.ndarray)):
        # The driver's canonicalizer hard-errors on non-scalar cells
        # (round-3 `multimodal_feature_extract`); fail identically here.
        raise TypeError(
            f"non-scalar cell of type {type(v).__name__} — registered "
            "queries must emit scalar columns only"
        )
    return str(v)


def _frame_rows(df: pd.DataFrame):
    """(columns, row tuples) from a pandas frame, NaN/NaT surfaced as
    the raw float('nan')/NaT objects pandas stores (handled by
    ``_norm_cell``), None kept as None."""
    cols = list(df.columns)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(
            tuple(None if v is pd.NaT else v for v in tup)
        )
    return cols, rows


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """The driver's canonical form of a result frame: one tuple of
    ``_norm_cell`` strings per row, columns in name order, rows sorted.
    Two frames hold the same result iff their canonical rows are equal
    (row order ignored, duplicate rows counted, floats at full repr
    precision)."""
    return _rows_multiset(*_frame_rows(pdf))


def frame_difference(
    left: pd.DataFrame, right: pd.DataFrame, sides: tuple[str, str]
) -> str | None:
    """None when the two frames hold the same result by
    ``canonical_rows``, else the first difference: the column names,
    the row count, or the first differing sorted row, each side
    labelled by its name in ``sides``."""
    a, b = sides
    l_cols, r_cols = sorted(left.columns), sorted(right.columns)
    if l_cols != r_cols:
        return f"column mismatch: {a}={l_cols} {b}={r_cols}"
    if len(left) != len(right):
        return f"row count mismatch: {a}={len(left)} {b}={len(right)}"
    lm, rm = canonical_rows(left), canonical_rows(right)
    for i, (x, y) in enumerate(zip(lm, rm)):
        if x != y:
            return f"value mismatch at sorted row {i}: {a}={x} {b}={y}"
    return None


@dataclass
class OracleResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def check_query(
    spark: SparkSession, name: str, fn, sql: str, sf_dir: str
) -> OracleResult:
    s_pdf = fn(spark, sf_dir).toPandas()
    # Queries that persist() an intermediate (corpus_dup_span_stats's
    # span stream) would otherwise accumulate cached blocks across the
    # 123-query suite; the result is already materialized here.
    spark.catalog.clearCache()

    con = duckdb_connection(sf_dir)
    try:
        o_pdf = con.execute(sql).df()
    finally:
        con.close()

    detail = frame_difference(s_pdf, o_pdf, ("spark", "oracle"))
    return OracleResult(name, detail is None, len(s_pdf), len(o_pdf), detail or "")
