"""Dump a query's Spark and DuckDB-oracle outputs side-by-side to
CSV for cell-level diffing — the forensic companion to
oracle_check.py when a hash mismatch needs explaining.

Usage:
    python tools/dump_query.py NAME [sf_dir] [outdir]

Writes <outdir>/<NAME>.spark.csv and <outdir>/<NAME>.duck.csv with
columns sorted by name and rows sorted by their normalized string
form (the exact ordering oracle_check hashes), so `diff` of the two
files points at the first deviating cell.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_check import _norm_cell  # noqa: E402
from trafik_etl_modular_spark import get_spark  # noqa: E402
from trafik_etl_modular_spark.constants import FIXTURE_TABLES  # noqa: E402
from trafik_etl_modular_spark.registry import REGISTRY, _load_all  # noqa: E402


def dump(name: str, sf_dir: str, outdir: str) -> tuple[str, str]:
    _load_all()
    q = REGISTRY[name]
    spark = get_spark("dump-query")
    sdf = q.fn(spark, sf_dir)
    scols = sdf.columns
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    srows = sorted(
        "|".join(_norm_cell(tuple(r)[i]) for i in sorder) for r in sdf.collect()
    )

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    res = con.execute(q.render_sql(sf_dir))
    dcols = [d[0] for d in res.description]
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    drows = sorted("|".join(_norm_cell(r[i]) for i in dorder) for r in res.fetchall())

    sp = f"{outdir}/{name}.spark.csv"
    dp = f"{outdir}/{name}.duck.csv"
    with open(sp, "w") as f:
        f.write("|".join(sorted(scols)) + "\n")
        f.write("\n".join(srows) + "\n")
    with open(dp, "w") as f:
        f.write("|".join(sorted(dcols)) + "\n")
        f.write("\n".join(drows) + "\n")
    return sp, dp


if __name__ == "__main__":
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    outdir = sys.argv[3] if len(sys.argv) > 3 else "/tmp"
    sp, dp = dump(name, sf_dir, outdir)
    print(f"wrote {sp} and {dp}; diff them to find the first deviating cell")
