"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a given sf against its ``oracle_sql()``
via DuckDB and reports row-count / schema / order-insensitive value-hash
agreement. Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def value_hash(rows, columns):
    cols = sorted(columns)
    digests = []
    for row in rows:
        d = row if isinstance(row, dict) else row.asDict()
        key = "|".join(_norm(d[c]) for c in cols)
        digests.append(key)
    digests.sort()
    return hashlib.sha256("\n".join(digests).encode()).hexdigest()[:16]


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def check_queries(spark, sf_dir, only=(), out=print):
    """Run each ``queries()`` entry (every one, or those named in
    ``only``) on ``spark`` at ``sf_dir`` and compare it with its
    ``oracle_sql()`` in DuckDB over the same tables. Writes one report
    line per query (plus up to two differing rows a side on a value
    mismatch) to ``out``; returns ``{name: "OK" | "FAIL" | "rows"}``,
    where "rows" marks a query with no oracle."""
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    oracles = entry.oracle_sql()
    result = {}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        result[name] = "FAIL"
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:
            out(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            out(f"rows  {name}: {len(srows)} rows (no oracle)")
            result[name] = "rows"
            continue
        try:
            o = con.sql(oracles[name])
            ocols = [c.lower() for c in o.columns]
            orows = [dict(zip(o.columns, r)) for r in o.fetchall()]
        except Exception as exc:
            out(f"FAIL  {name}: duckdb error {exc}")
            continue
        ok_count = len(srows) == len(orows)
        ok_schema = sorted(c.lower() for c in scols) == sorted(ocols)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, o.columns)
        ok_hash = sh == oh
        if ok_count and ok_schema and ok_hash:
            result[name] = "OK"
        out(
            f"{result[name]:<4}  {name}: rows {len(srows)}/{len(orows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)}!={sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else f'{sh}!={oh}'}"
        )
        if not ok_hash and ok_count and ok_schema:
            sset = {tuple(_norm(r.asDict()[c]) for c in sorted(scols)) for r in srows}
            oset = {tuple(_norm(r[c]) for c in sorted(o.columns)) for r in orows}
            for x in list(sset - oset)[:2]:
                out(f"      spark-only: {x}")
            for x in list(oset - sset)[:2]:
                out(f"      oracle-only: {x}")
    return result


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from sparkhtml.spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cpus=8, shuffle_partitions=8)
    result = check_queries(spark, sf_dir, set(sys.argv[2:]))
    spark.stop()
    sys.exit(1 if "FAIL" in result.values() else 0)


if __name__ == "__main__":
    main()
