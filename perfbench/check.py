"""DuckDB side of the benchmark's correctness check.

The JVM hands over each checked result as canonical rows (columns in
name order, rows sorted, values rendered by `Rows.value` in
Rows.scala). This module runs the matching oracle SQL on DuckDB over the
same fixture parquet and renders its rows the same way.
"""
import datetime
import decimal
import json

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_NINE = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_UP)


def _num(x):
    x = float(x)
    if x != x:
        return "nan"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    d = _NINE.plus(decimal.Decimal(x)).normalize()
    return "0" if d == 0 else format(d, "f")


def value(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, datetime.datetime):
        return str(v.replace(tzinfo=None))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "[" + ",".join(value(x) for x in v.values()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return json.dumps(str(v))


def against_duckdb(data_dir, oracle):
    """Return one failure string per result that differs from DuckDB."""
    if not oracle:
        return []
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = []
    for item in oracle:
        try:
            rel = con.sql(item["sql"])
            order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
            want = sorted("[" + ",".join(value(r[i]) for i in order) + "]" for r in rel.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{item['id']}: DuckDB oracle failed: {e}")
            continue
        got = item["rows"]
        if got != want:
            if len(got) != len(want):
                why = f"{len(got)} rows vs DuckDB {len(want)}"
            else:
                why = next(f"{g[:160]} vs DuckDB {w[:160]}" for g, w in zip(got, want) if g != w)
            failures.append(f"{item['id']}: DuckDB mismatch: {why}")
    return failures
