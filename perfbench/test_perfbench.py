"""The benchmark's own tests: reproducible inputs, metric names, the tail
rule, and correctness checks that reject corrupted outputs.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re

import numpy as np
import pytest

from perfbench import checks, gen, stats
from perfbench.run import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


# ---------------------------------------------------------------------------
# same seed → identical inputs
# ---------------------------------------------------------------------------


def test_same_seed_gives_identical_inputs():
    a, b, c = (gen.EtlInputs(s, 3_000, 500) for s in (7, 7, 8))
    assert a.pages(a.batch_ids(3), 3) == b.pages(b.batch_ids(3), 3)
    assert a.pages(a.batch_ids(3), 3) != c.pages(c.batch_ids(3), 3)
    assert a.pages(range(a.n), 0) == b.pages(range(b.n), 0)

    assert gen.events_table(7, 5_000).equals(gen.events_table(7, 5_000))
    assert not gen.events_table(7, 5_000).equals(gen.events_table(8, 5_000))

    for make in (gen.docs_shard, gen.vectors_shard):
        t1, g1 = make(7, 1, 500)
        t2, g2 = make(7, 1, 500)
        t3, _ = make(8, 1, 500)
        assert t1.equals(t2) and g1 == g2
        assert not t1.equals(t3)


# ---------------------------------------------------------------------------
# generator invariants the checks rely on
# ---------------------------------------------------------------------------


def test_etl_population_is_live_and_batches_touch_every_partition():
    inp = gen.EtlInputs(3, 3_000, 500)
    for s, e in zip(inp.start, inp.end):
        assert s > gen.NOW or e is None or e > gen.NOW  # never expired at NOW
    assert inp.n_upcoming + inp.n_ongoing == inp.n
    batch = inp.batch_ids(5)
    assert len(set(batch.tolist())) == len(batch) == 500
    assert {inp.start[i].date() for i in batch} == {
        (gen.ETL_FIRST_DAY + dt.timedelta(days=d)).date() for d in range(gen.ETL_DAYS)
    }
    assert len({inp.message(i, 0) for i in range(inp.n)}) == inp.n  # unique messages
    assert inp.modified(2) > inp.modified(1) > inp.modified(0)


def _shingles(text: str, k: int = 3) -> set:
    w = text.split(" ")
    return {tuple(w[i : i + k]) for i in range(len(w) - k + 1)}


def test_planted_docs_are_near_dups_and_others_are_not():
    table, groups = gen.docs_shard(4, 0, 2_000)
    text = dict(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))
    assert sum(len(g) - 1 for g in groups) == int(2_000 * gen.CORPUS_DUP_SHARE)
    for g in groups:
        src = _shingles(text[g[0]])
        for member in g[1:]:
            other = _shingles(text[member])
            assert len(src & other) / len(src | other) >= 0.9
    planted = {m for g in groups for m in g}
    loners = [d for d in text if d not in planted][:200]
    seen: set = set()
    for d in loners:
        sh = _shingles(text[d])
        assert not (sh & seen)
        seen |= sh


def test_planted_vectors_are_rescaled_copies():
    table, groups = gen.vectors_shard(4, 0, 1_000)
    x = np.array(table["embedding"].to_pylist())
    ids = {v: i for i, v in enumerate(table["vec_id"].to_pylist())}
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    for g in groups:
        for member in g[1:]:
            assert u[ids[g[0]]] @ u[ids[member]] > 1 - 1e-9
    planted = {m for g in groups for m in g}
    loners = [ids[v] for v in ids if v not in planted]
    sims = u[loners] @ u[loners].T
    np.fill_diagonal(sims, 0)
    assert sims.max() < 0.9


def test_dashboard_truth_matches_a_row_by_row_reading():
    events = gen.events_table(5, 4_000)
    rows = events.to_pylist()
    now = gen.NOW
    for days in gen.DASH_WINDOWS:
        total = pagar = 0
        counts: dict = {}
        for r in rows:
            ts, eid, uid = r["ts"], r["event_id"], r["user_id"]
            end = None if eid % 7 == 0 else ts + dt.timedelta(hours=eid % 48)
            if ts > now:
                status = "KOMMANDE"
            elif end is None or end > now:
                status = "PÅGÅR"
            else:
                continue
            if not ts > now - dt.timedelta(days=days):
                continue
            total += 1
            pagar += status == "PÅGÅR"
            name = "Okänt län" if uid % 10 == 0 else f"NATION_{uid % 25}"
            counts[name] = counts.get(name, 0) + 1
        truth = gen.dashboard_truth(events, days)
        assert truth["total"] == total and truth["pagar"] == pagar
        assert truth["county_bar"] == sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]


# ---------------------------------------------------------------------------
# metric names and BENCHMARK.json
# ---------------------------------------------------------------------------


def test_metric_names_are_well_formed_and_match_benchmark_json():
    names = [m[0] for m in END_TO_END] + [m[0] for m in PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == [
        (n, u, "higher" if n.endswith(("_yield", "_ratio")) else "lower") for n, u in PER_LAYER
    ]
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert sorted(w["name"] for w in doc["workloads"]) == sorted(WORKLOADS)


# ---------------------------------------------------------------------------
# the tail rule
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 2, 10, 11, 12, 25, 100, 257])
def test_tail_keeps_ten_samples_beyond(n):
    values = random.Random(n).sample(range(100_000), n)
    value, pct, beyond = stats.tail(values)
    above = sum(v > value for v in values)
    assert above == beyond
    if n > 10:
        assert beyond == 10  # ≥ 10 beyond, and no higher percentile keeps 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)
    else:
        assert value == max(values) and pct == 100.0 and beyond == 0


# ---------------------------------------------------------------------------
# every check rejects a corrupted output
# ---------------------------------------------------------------------------


def test_etl_check_accepts_correct_and_rejects_corrupted():
    ids = {"D0000001", "D0000002", "D0000003"}
    report = {"rows": 10, "pagar": 6, "kommande": 4, "batch_rows": 3}
    ok = lambda r, v: checks.check_etl(r, v, 10, 6, 4, ids)  # noqa: E731
    assert ok(report, ids) == []
    assert ok({**report, "rows": 11}, ids)
    assert ok({**report, "pagar": 5, "kommande": 5}, ids)
    assert ok({**report, "kommande": 3}, ids)
    assert ok({**report, "batch_rows": 2}, ids)
    assert ok(report, ids - {"D0000002"})  # one row kept its old version
    assert ok(report, ids | {"D0000009"})  # a row outside the batch changed


def test_version_tags_do_not_collide():
    inp = gen.EtlInputs(1, 10, 5)
    # the check selects rows whose message ends with " " + tag: v4 must not
    # match v14
    assert not inp.message(3, 14).endswith(" " + inp.version_tag(4))
    assert inp.message(3, 4).endswith(" " + inp.version_tag(4))


def test_dashboard_check_accepts_correct_and_rejects_corrupted():
    truth = gen.dashboard_truth(gen.events_table(6, 3_000), 14)
    widgets = {
        "kpis": [(truth["pagar"], truth["kommande"], truth["total"])],
        "county_bar": list(truth["county_bar"]),
        "daily_trend": [(dt.date(2024, 1, 10), 5)],
        "type_dist": [("view", 3)],
        "map_viewport": [(55.0, 60.0, 11.0, 18.0)],
        "table": [("INC-1",)],
    }
    assert checks.check_dashboard(widgets, truth) == []
    bad_total = {**widgets, "kpis": [(truth["pagar"], truth["kommande"], truth["total"] + 1)]}
    assert checks.check_dashboard(bad_total, truth)
    bar = list(truth["county_bar"])
    swapped = {**widgets, "county_bar": [bar[1], bar[0]] + bar[2:]}
    assert checks.check_dashboard(swapped, truth)
    recount = {**widgets, "county_bar": [(bar[0][0], bar[0][1] - 1)] + bar[1:]}
    assert checks.check_dashboard(recount, truth)
    assert checks.check_dashboard({**widgets, "table": []}, truth)


def test_cluster_check_accepts_correct_and_rejects_corrupted():
    _, planted = gen.docs_shard(9, 0, 400)
    labels = [(m, g[0]) for g in planted for m in g]
    found = checks.clusters_from_labels(labels)
    assert checks.check_clusters(found, planted, "docs") == []
    # two planted clusters joined
    joined = [(m, planted[0][0]) if m in planted[1] else (m, lab) for m, lab in labels]
    assert checks.check_clusters(checks.clusters_from_labels(joined), planted, "docs")
    # a planted cluster split
    split = [(m, m) if m == planted[2][-1] else (m, lab) for m, lab in labels]
    assert checks.check_clusters(checks.clusters_from_labels(split), planted, "docs")
    # an unplanted pair merged
    spare = max(m for g in planted for m in g) + 1
    extra = labels + [(spare, spare), (spare + 1, spare)]
    assert checks.check_clusters(checks.clusters_from_labels(extra), planted, "docs")
    # nothing found at all
    assert checks.check_clusters([], planted, "docs")
