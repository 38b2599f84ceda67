#!/usr/bin/env python3
"""Derive analytics_mix's check values from the queries' DuckDB oracle SQL.

Run from the root of the repository:

    python3 perfbench/expected.py

Builds the harness, has it write the mix's oracle SQL, runs each query
with DuckDB over perfbench/data/sf0.01 and writes, per query, the row
count and the sum of row hashes to perfbench/data/expected_sf0.01.tsv.
A row hash renders each cell as text (columns in name order, NULL for
null, booleans as true/false, floating-point values rounded half-up to
six decimals), joins the cells with U+0001, takes the md5 and reads its
first 15 hex digits as an integer; the harness computes the same sum
inside Spark (`Analytics.hashSum`). A query whose output has timestamp
or nested columns is refused, since their text differs between engines.
"""
import datetime
import decimal
import hashlib
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


MICRO = decimal.Decimal("0.000001")


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return "NULL"
        q = decimal.Decimal(repr(v)).quantize(MICRO, rounding=decimal.ROUND_HALF_UP)
        return str(q.copy_abs() if q == 0 else q)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, str, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat()
    raise TypeError(f"timestamp or nested value {v!r} ({type(v).__name__})")


def check_values(con, sql):
    rel = con.sql(sql)
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = rel.fetchall()
    total = 0
    for r in rows:
        text = "\x01".join(cell(r[i]) for i in order)
        total += int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)
    return len(rows), total


def main():
    spec, _ = run.launch()
    out = run.BUILD / "oracle"
    out.mkdir(parents=True, exist_ok=True)
    code, _ = run.java(spec, "perfbench.Oracle", [str(out / "oracle.json")], 120, out / "stderr.log")
    if code != 0:
        run.fail(f"oracle dump failed (log: {out / 'stderr.log'})")
    oracle = json.loads((out / "oracle.json").read_text())

    data = run.BENCH / "data" / "sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
    lines = ["# query\trows\thash_sum  (perfbench/expected.py, DuckDB "
             f"{duckdb.__version__}, data/sf0.01)"]
    refused = []
    for name, sql in oracle.items():
        try:
            rows, total = check_values(con, sql)
        except TypeError as e:
            refused.append(f"{name}: {e}")
            continue
        lines.append(f"{name}\t{rows}\t{total}")
    if refused:
        run.fail("queries whose result has no engine-neutral text:\n  " + "\n  ".join(refused))
    (run.BENCH / "data" / "expected_sf0.01.tsv").write_text("\n".join(lines) + "\n")
    print(f"wrote {len(lines) - 1} queries")


if __name__ == "__main__":
    main()
