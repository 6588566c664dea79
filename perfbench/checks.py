"""Correctness checks of one op's output against the generator's truth.

Each check takes plain Python values collected from the engine and
returns a list of problems; an empty list means the op is correct.  They
run outside the timed region.
"""

from __future__ import annotations

from collections.abc import Iterable


def check_etl(
    report: dict,
    versioned_ids: set[str],
    expect_rows: int,
    expect_pagar: int,
    expect_kommande: int,
    batch_ids: set[str],
) -> list[str]:
    """After re-versioning a batch: the table keeps its row count and
    status split, the report adds up, and exactly the batch's ids carry
    the batch's version (``versioned_ids``: ids whose message has it)."""
    problems = []
    rows, pagar, kommande = report.get("rows"), report.get("pagar"), report.get("kommande")
    if rows != expect_rows:
        problems.append(f"rows {rows} != {expect_rows}")
    if pagar != expect_pagar or kommande != expect_kommande:
        problems.append(f"status split {pagar}/{kommande} != {expect_pagar}/{expect_kommande}")
    if rows is None or pagar is None or kommande is None or pagar + kommande != rows:
        problems.append(f"pagar + kommande = {pagar} + {kommande} != rows {rows}")
    if report.get("batch_rows") != len(batch_ids):
        problems.append(f"batch_rows {report.get('batch_rows')} != {len(batch_ids)}")
    missing, extra = batch_ids - versioned_ids, versioned_ids - batch_ids
    if missing:
        problems.append(f"{len(missing)} batch ids lack the batch version, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} ids outside the batch carry its version, e.g. {min(extra)}")
    return problems


def check_dashboard(widgets: dict[str, list[tuple]], truth: dict) -> list[str]:
    """``kpis`` and the ``county_bar`` head against pyarrow truth; the other
    widgets must at least be present and non-empty."""
    problems = []
    kpis = widgets.get("kpis") or []
    if len(kpis) != 1:
        problems.append(f"kpis has {len(kpis)} rows")
    else:
        pagar, kommande, total = kpis[0]
        got = {"pagar": pagar, "kommande": kommande, "total": total}
        for k in ("total", "pagar", "kommande"):
            if got[k] != truth[k]:
                problems.append(f"kpis.{k} {got[k]} != {truth[k]}")
    bar = [(name, count) for name, count in widgets.get("county_bar") or []]
    if bar != [tuple(x) for x in truth["county_bar"]]:
        problems.append(f"county_bar head {bar[:3]}... != {list(truth['county_bar'])[:3]}...")
    for name in ("daily_trend", "type_dist", "map_viewport", "table"):
        if not widgets.get(name):
            problems.append(f"widget {name} is empty")
    return problems


def clusters_from_labels(pairs: Iterable[tuple[int, int]]) -> list[list[int]]:
    """(member, cluster label) pairs → sorted clusters of size >= 2."""
    groups: dict[int, list[int]] = {}
    for member, label in pairs:
        groups.setdefault(label, []).append(member)
    return sorted(sorted(g) for g in groups.values() if len(g) > 1)


def check_clusters(found: list[list[int]], planted: list[list[int]], what: str) -> list[str]:
    """Every planted cluster is found whole, no two planted clusters are
    joined, and nothing unplanted is clustered: the found clustering equals
    the planted one exactly."""
    want = sorted(sorted(g) for g in planted)
    if found == want:
        return []
    found_set = {tuple(g) for g in found}
    want_set = {tuple(g) for g in want}
    missing, extra = want_set - found_set, found_set - want_set
    return [
        f"{what}: {len(missing)} planted clusters not found as-is "
        f"(e.g. {sorted(missing)[:1]}), {len(extra)} unexpected clusters (e.g. {sorted(extra)[:1]})"
    ]
