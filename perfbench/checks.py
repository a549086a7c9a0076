"""Untimed correctness checks.  Each returns a list of problems; an
empty list means the outputs are right.

The tier check recomputes ``cnt/sum_tok/min_tok/max_tok`` of every
tier bucket with a DuckDB group-by over the raw input files, so it
shares no code with the engine it checks.
"""

from __future__ import annotations

import os
import sys

import duckdb

#: doc_id grammar and event-time rule of the engine's input contract
_SEQ_RE = r"^[^/]+/(\d+)(?:#\d+)?$"
EPOCH0 = "2026-01-01 00:00:00"
_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
_CHUNK_FMT = {"day": "%Y-%m-%d", "month": "%Y-%m"}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    return con


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}/*.parquet'" for p in paths) + "]"


def latest_status(manifest_dir: str) -> str:
    """SQL for (tier, chunk, status) with the newest manifest row winning."""
    return f"""
        SELECT tier, chunk, status FROM (
          SELECT tier, chunk, status, row_number() OVER (
            PARTITION BY tier, chunk ORDER BY checkpoint_ts DESC, status DESC) rn
          FROM read_parquet('{manifest_dir}/*.parquet', union_by_name=true))
        WHERE rn = 1"""


def valid_rows(inputs: list[str], step_s: int) -> str:
    """SQL for (source, n_tok, et) of the input rows the engine's
    validity rule keeps, with their event time."""
    return f"""
      SELECT source, n_tok, TIMESTAMP '{EPOCH0}' + to_seconds(
        CAST(regexp_extract(doc_id, '{_SEQ_RE}', 1) AS BIGINT) * {step_s}) et
      FROM read_parquet({_files(inputs)}, union_by_name=true)
      WHERE regexp_matches(doc_id, '{_SEQ_RE}') AND source IS NOT NULL
        AND n_tok = len(tokens)"""


def tier_mismatches(con, inputs: list[str], out_dir: str, step_s: int,
                    chunk_grain: str) -> list[str]:
    """Non-filled tier rows vs a group-by over the valid input rows,
    restricted to (tier, chunk) units whose latest status is ``done``."""
    fmt = _CHUNK_FMT[chunk_grain]
    expected = " UNION ALL ".join(
        f"SELECT '{t}' tier, source, date_trunc('{u}', et) bucket_start, n_tok"
        f" FROM src" for t, u in _TRUNC.items()
    )
    sql = f"""
    WITH src AS ({valid_rows(inputs, step_s)}),
    live AS ({latest_status(out_dir + '/manifest')}),
    exp AS (
      SELECT tier, source, bucket_start, count(*) cnt, sum(n_tok) sum_tok,
             min(n_tok) min_tok, max(n_tok) max_tok
      FROM ({expected}) e
      SEMI JOIN live l ON l.tier = e.tier AND l.status = 'done'
        AND l.chunk = strftime(e.bucket_start, '{fmt}')
      GROUP BY ALL),
    act AS (
      SELECT tier, source, bucket_start::TIMESTAMP bucket_start,
             cnt::BIGINT cnt, sum_tok::BIGINT sum_tok,
             min_tok::BIGINT min_tok, max_tok::BIGINT max_tok
      FROM read_parquet('{out_dir}/tiers/*/*/*.parquet', hive_partitioning=true,
                        hive_types_autocast=false, union_by_name=true)
      WHERE NOT coalesce(filled, false))
    SELECT 'missing' side, * FROM (FROM exp EXCEPT ALL FROM act)
    UNION ALL
    SELECT 'extra' side, * FROM (FROM act EXCEPT ALL FROM exp)
    LIMIT 5"""
    rows = con.sql(sql).fetchall()
    return [f"tier row {r}" for r in rows]


def unfinished_chunks(con, manifest_dir: str) -> list[str]:
    """(tier, chunk) units whose latest status is still stale/increment."""
    rows = con.sql(
        f"SELECT tier, chunk, status FROM ({latest_status(manifest_dir)})"
        " WHERE status IN ('stale', 'increment') ORDER BY ALL LIMIT 5"
    ).fetchall()
    return [f"unfinished unit {r}" for r in rows]


def count_rows(con, path: str) -> int:
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return 0
    return con.sql(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]


#: decimals the battery queries round their float results to
ROUND_DIGITS = 6


def same_value(x, y) -> bool:
    """Cell equality of two normalised rows or values.

    Floats must be equal, except that two ``ROUND_DIGITS``-decimal floats
    one unit apart are the same result rounded from a half-way value: the
    engines round such a tie in different directions.  Spark's ``round``
    takes ``BigDecimal(double)`` half-up, i.e. the shortest decimal form,
    while DuckDB rounds the binary double.  Example: level 28.76625 plus
    trend 3.6359375 is exactly 32.4021875 in decimal, whose double is
    32.40218749999999659..., so Spark gives 32.402188 and DuckDB
    32.402187.  Any other difference is a mismatch."""
    if isinstance(x, tuple) and isinstance(y, tuple):
        return len(x) == len(y) and all(map(same_value, x, y))
    if isinstance(x, float) and isinstance(y, float) and x != y:
        unit = 10.0 ** -ROUND_DIGITS
        return (round(x, ROUND_DIGITS) == x and round(y, ROUND_DIGITS) == y
                and abs(x - y) < 1.5 * unit)
    return x == y


def oracle_problems(name: str, spark_tab, con, oracle_sql: str) -> list[str]:
    """One query's Spark result against its DuckDB twin, compared the way
    ``tools/check_oracles.py`` does: column names, row count, Arrow type
    families and sorted normalised values, with cells compared by
    ``same_value``."""
    from tools.check_oracles import arrow_types, canon

    try:
        rel = con.sql(oracle_sql)
        dcols, dtab = rel.columns, rel.arrow()
    except duckdb.Error as e:
        return [f"{name}: oracle failed: {e}"]
    if hasattr(dtab, "read_all"):
        dtab = dtab.read_all()
    scols = spark_tab.column_names
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return [f"{name}: columns {sorted(scols)} vs {sorted(dcols)}"]
    if spark_tab.num_rows != dtab.num_rows:
        return [f"{name}: rows {spark_tab.num_rows} vs {dtab.num_rows}"]
    if arrow_types(spark_tab.schema) != arrow_types(dtab.schema):
        return [f"{name}: arrow types differ"]
    a = canon([tuple(r.values()) for r in spark_tab.to_pylist()],
              [c.lower() for c in scols])
    b = canon([tuple(r.values()) for r in dtab.to_pylist()],
              [c.lower() for c in dcols])
    for i, (x, y) in enumerate(zip(a, b)):
        if not same_value(x, y):
            return [f"{name}: values differ at sorted row {i}: {x} vs {y}"]
        if x != y:
            print(f"perfbench: {name} row {i}: half-way tie rounded "
                  f"differently, {x} vs {y}", file=sys.stderr)
    return []
