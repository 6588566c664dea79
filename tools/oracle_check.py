"""Differential correctness gate for the query registry.

Runs every registered query through Spark AND its DuckDB oracle SQL
over the same parquet, then compares row count, column names, and an
order-insensitive value hash (rows stringified, per-row, sorted).
Usage:
    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trafik_etl_modular_spark import get_spark  # noqa: E402
from trafik_etl_modular_spark.constants import FIXTURE_TABLES  # noqa: E402
from trafik_etl_modular_spark.registry import REGISTRY, _load_all  # noqa: E402


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # normalize -0.0 and format with repr (shortest round-trip)
        if v == 0:
            v = 0.0
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    _load_all()
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def release_storage() -> None:
        """Queries are independent — drop cached/localCheckpoint'd
        blocks between them (same hygiene as bench.py) so a 120-query
        sweep doesn't accumulate storage."""
        try:
            spark.catalog.clearCache()
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                jmap.get(rid).unpersist(False)
        except Exception:  # noqa: BLE001 — hygiene only
            pass

    n_pass = n_fail = n_rowsonly = 0
    for name, q in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        release_storage()
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if q.sql is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(q.render_sql(sf_dir))
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        else:
            sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            # show a small diff sample
            sset = {
                "|".join(_norm_cell(c) for c in r) for r in srows
            }
            dset = {
                "|".join(_norm_cell(c) for c in r) for r in drows
            }
            for x in list(sset - dset)[:3]:
                print(f"        spark-only: {x[:200]}")
            for x in list(dset - sset)[:3]:
                print(f"        duck-only:  {x[:200]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
