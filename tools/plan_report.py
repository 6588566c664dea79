"""Generate PLANS.md: one plan-audit scorecard row per registered
query (analysis only — no query executes unless its construction
itself runs jobs, e.g. index-ensure steps).

Columns: shuffle-exchange count, broadcast/sort-merge join counts,
cartesian/BNLJ presence, Python-eval presence, parquet filter
pushdown, sorted-limit usage.  Streaming and Python-source queries
execute eagerly and are listed but not audited.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trafik_etl_modular_spark import get_spark  # noqa: E402
from trafik_etl_modular_spark.plans.audit import audit  # noqa: E402
from trafik_etl_modular_spark.registry import REGISTRY, _load_all  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    _load_all()
    spark = get_spark("plan-report", cpus=8, shuffle_partitions=8)

    print("# PLANS — per-query physical-plan scorecard")
    print()
    print(f"Generated by `tools/plan_report.py` at `{sf_dir}` "
          "(plan analysis; shuffle counts are pre-AQE).")
    print()
    print("Legend: **shuffles** = shuffle Exchanges (broadcast moves excluded); "
          "**bhj/smj** = broadcast-hash / sort-merge joins; **pushdown** = "
          "parquet `PushedFilters` non-empty; **top-k** = TakeOrderedAndProject; "
          "**py** = Python-on-executor node of any type (row UDF, pandas UDF, "
          "MapInPandas/applyInPandas/MapInArrow — the full "
          "`plans.audit.PYTHON_PLAN_NODES` set). The only intentional ones are "
          "the six Arrow-batch operators (multimodal decode/frame-sample/"
          "perceptual-dedup/incremental-media-dedup via `mapInPandas` — the "
          "perceptual pair's nodes sit behind a per-call lazy localCheckpoint, "
          "so they audit as ExistingRDD scans — `pergroup_percent_rank` via "
          "`applyInPandas`, `text_trimmed_mean_tokens` via a GROUPED_AGG "
          "pandas UDAF); "
          "`test_registry_wide_plan_hygiene` fails if any other query plans "
          "a Python node.")
    print()
    print("| query | shuffles | bhj | smj | pushdown | top-k | py | notes |")
    print("|---|---|---|---|---|---|---|---|")
    skipped = []
    for name in sorted(REGISTRY):
        if name.startswith(("streaming_", "source_xml")):
            skipped.append(name)
            continue
        try:
            a = audit(REGISTRY[name].fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"| {name} | — | — | — | — | — | — | ERROR {type(e).__name__} |")
            continue
        notes = []
        if a.has_cartesian:
            notes.append("broadcast-scalar BNLJ")
        print(
            f"| {name} | {a.n_exchanges} | {a.n_broadcast_joins} "
            f"| {a.n_sort_merge_joins} | {'✓' if a.pushed_filters else ''} "
            f"| {'✓' if a.take_ordered else ''} "
            f"| {','.join(a.python_plan_nodes)} | {'; '.join(notes)} |"
        )
    print()
    print("Not audited (execute eagerly — streaming micro-batch drivers and "
          "the Python XML data source):")
    print()
    for name in skipped:
        print(f"- `{name}`")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
