"""Round-12 batch: the DELETE half of the index lifecycles (verdict
r11 asks #2/#3) plus model-pinned checks for the round's new
operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from trafik_etl_modular_spark.catalog import load_table
from trafik_etl_modular_spark.registry import REGISTRY, _load_all

SF = "/root/testdata/sf0.001"


def _q(name):
    _load_all()
    return REGISTRY[name].fn


def _centroids_df(spark, centers):
    return spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(len(centers))],
        "ivf_bucket int, centroid array<double>",
    )


def _probe_vec(emb) -> list[float]:
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]


def test_ivf_tombstone_probe_equals_survivor_index(spark):
    """The tombstone anti-join must be EXACTLY equivalent to probing
    a from-scratch index that never contained the deleted vectors
    (same frozen centroids — training is part of the index identity):
    the logical delete and the physical delete agree result-for-
    result, and no tombstoned id can surface."""
    from trafik_etl_modular_spark.llmdata.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    emb = load_table(spark, SF, "embeddings")
    centers = ivf_train(emb, n_centroids=8)
    centroids = _centroids_df(spark, centers)
    qvec = _probe_vec(emb)
    tombs = emb.select("vec_id").where(F.col("vec_id") % 5 == 3)

    res_tomb = ivf_topk(
        ivf_assign(emb, centers),
        centroids,
        None,
        k=10,
        nprobe=8,
        query_point=(0, qvec),
        tombstones=tombs,
    ).collect()
    survivors = emb.join(tombs, "vec_id", "left_anti")
    res_surv = ivf_topk(
        ivf_assign(survivors, centers),
        centroids,
        None,
        k=10,
        nprobe=8,
        query_point=(0, qvec),
    ).collect()

    key = lambda rows: [(r["vec_id"], round(r["cosine"], 9)) for r in rows]  # noqa: E731
    assert key(res_tomb) == key(res_surv)
    assert all(r["vec_id"] % 5 != 3 for r in res_tomb)
    assert len(res_tomb) == 10


def test_ivf_purge_physical_roundtrip(spark, tmp_path):
    """In-place physical purge: tombstoned rows leave the layout, all
    survivors stay (row conservation, report masses exact), and a
    post-purge probe equals the pre-purge tombstone-anti-join probe
    — the logical→physical handoff loses nothing."""
    from trafik_etl_modular_spark.llmdata.similarity import (
        ivf_assign,
        ivf_purge,
        ivf_read_index,
        ivf_topk,
        ivf_train,
        ivf_write_index,
    )

    emb = load_table(spark, SF, "embeddings")
    centers = ivf_train(emb, n_centroids=8)
    path = str(tmp_path / "idx")
    ivf_write_index(ivf_assign(emb, centers), _centroids_df(spark, centers), path)
    tombs = emb.select("vec_id").where(F.col("vec_id") % 5 == 3)
    n_tomb = tombs.count()
    qvec = _probe_vec(emb)

    assigned0, cent0 = ivf_read_index(spark, path)
    pre = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in ivf_topk(
            assigned0, cent0, None, k=10, nprobe=8,
            query_point=(0, qvec), tombstones=tombs,
        ).collect()
    ]

    report = ivf_purge(spark, path, tombs)
    assert sum(n for _, n in report) == n_tomb

    assigned1, cent1 = ivf_read_index(spark, path)
    assert assigned1.join(tombs, "vec_id", "leftsemi").count() == 0
    assert assigned1.count() == emb.count() - n_tomb
    post = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in ivf_topk(
            assigned1, cent1, None, k=10, nprobe=8, query_point=(0, qvec)
        ).collect()
    ]
    assert pre == post


def test_bm25_delete_certificates_all_true(spark):
    """Every *_matches flag in the registered delete certificate must
    hold at the fixture — the signed fold IS the rebuild."""
    out = _q("text_bm25_delete")(spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r["df_matches"] and r["tf_matches"] and r["corpus_matches"]


def test_bpe_merge_rounds_planted_corpus(spark):
    """Pin the exact merge order on a hand-computed corpus: round 1
    merges the dominant pair, later rounds fall back to the pair-ASC
    tiebreak among count-1 pairs; token mass shrinks by pair_count
    each round and the vocabulary evolves exactly as fused tokens
    appear and exhausted parts vanish."""
    from trafik_etl_modular_spark.queries.llmdata import bpe_merge_rounds_frame

    docs = spark.createDataFrame(
        [
            ("the cat sat on the mat",),
            ("the cat ate the cat food",),
            ("a cat the cat",),
        ],
        "text string",
    )
    rows = [tuple(r) for r in bpe_merge_rounds_frame(docs).collect()]
    assert rows == [
        # round, merged_pair, pair_count, n_tokens_after, n_vocab_after
        (1, "the cat", 4, 12, 9),
        (2, "a cat", 1, 11, 8),
        (3, "a_cat the_cat", 1, 10, 8),
    ]


def test_bpe_merge_apply_disjoint_equals_token_merge(spark):
    """The two-pass replace on space-sharing chains merges EVERY
    adjacent (a,b) occurrence — 'a b a b a b' fuses all three — and a
    self-pair can never be selected."""
    from trafik_etl_modular_spark.queries.llmdata import bpe_merge_rounds_frame

    docs = spark.createDataFrame(
        [("a b a b a b",), ("b b b b",)], "text string"
    )
    rows = [tuple(r) for r in bpe_merge_rounds_frame(docs, n_rounds=1).collect()]
    # "b b" (count 3) is a self-pair and excluded; "a b" (count 3)
    # wins; all three occurrences fuse: 10 tokens -> 7, and "a" is
    # exhausted so the vocabulary is exactly {a_b, b}
    assert rows == [(1, "a b", 3, 7, 2)]


def test_watermark_lateness_listener_capture(spark):
    """The MetricsListener surfaces the same per-batch dropped-late
    counts the report is built from, and flags the late batch with a
    warning — the row-volume guard's event-time sibling is live, not
    just post-hoc.  The run leaves no checkpoint directory behind."""
    import glob
    import tempfile
    import time

    from trafik_etl_modular_spark.streaming.observability import MetricsListener
    from trafik_etl_modular_spark.streaming.pipeline import watermark_lateness_run

    def checkpoint_dirs():
        tmp = tempfile.gettempdir()
        return set(glob.glob(f"{tmp}/late_audit_ckpt_*") + glob.glob(f"{tmp}/temporary-*"))

    before = checkpoint_dirs()
    listener = MetricsListener()
    out = watermark_lateness_run(spark, SF, listener=listener).collect()
    assert checkpoint_dirs() <= before
    assert sum(r["n_dropped_late"] for r in out) > 0
    assert all(r["n_admitted"] > 0 for r in out)

    # listener delivery is async — poll briefly for the data batches
    prog = []
    for _ in range(50):
        prog = [
            e
            for e in listener.events
            if e["stage"] == "progress" and e["num_input_rows"]
        ]
        if len(prog) >= len(out):
            break
        time.sleep(0.2)
    assert sum(e["rows_dropped_by_watermark"] for e in prog) == sum(
        r["n_dropped_late"] for r in out
    )
    warned = [e for e in prog if e["warning"] and "watermark" in e["warning"]]
    assert warned


# ---------------------------------------------------------------------------
# Late round-12 batch: market/trend/survival/sketch/IVM operators
# ---------------------------------------------------------------------------


def test_association_rules_scores_recompute(spark):
    """Every emitted rule's three scores must equal the exact integer
    rationals recomputed from its own count columns, and the counts
    must satisfy the containment inequalities n_ab <= min(n_a, n_b)."""
    rows = _q("basket_association_rules")(spark, SF).collect()
    assert rows, "rule mining returned nothing"
    for r in rows:
        assert r.n_ab <= min(r.n_a, r.n_b)
        assert r.support_e6 == r.n_ab * 1_000_000 // r.n_orders
        assert r.conf_e6 == r.n_ab * 1_000_000 // r.n_a
        assert r.lift_e6 == r.n_orders * r.n_ab * 1_000_000 // (r.n_a * r.n_b)
        # support can never exceed confidence (n_a <= N)
        assert r.support_e6 <= r.conf_e6


def test_pareto_abc_partitions_revenue(spark):
    """The three classes partition total revenue exactly and the
    shares recompute from the class sums."""
    rows = {r.abc_class: r for r in _q("agg_pareto_abc")(spark, SF).collect()}
    assert set(rows) == {"A", "B", "C"}
    total = sum(r.class_rev_cents for r in rows.values())
    for r in rows.values():
        assert r.rev_share_e6 == r.class_rev_cents * 1_000_000 // total


def test_hhi_guard_raises_loudly(spark, monkeypatch):
    """The exact-grid guard must raise, not silently wrap, when a
    segment's revenue exceeds the documented numerator bound."""
    import pytest

    from trafik_etl_modular_spark.queries import market

    monkeypatch.setattr(market, "_HHI_MAX_SEGMENT_CENTS", 1)
    with pytest.raises(ValueError, match="exceeds the exact-HHI"):
        _q("agg_hhi_concentration")(spark, SF)


def test_ewma_weight_lattice_identity():
    """The inlined integer weights must be the geometric lattice
    3^k 4^(K-1-k), whose sum telescopes to 4^K - 3^K."""
    from trafik_etl_modular_spark.queries.timeseries import (
        _EWMA_K,
        _EWMA_WEIGHTS,
    )

    assert len(_EWMA_WEIGHTS) == _EWMA_K
    assert sum(w for _, w in _EWMA_WEIGHTS) == 4**_EWMA_K - 3**_EWMA_K
    for k, w in _EWMA_WEIGHTS:
        assert w == 3**k * 4 ** (_EWMA_K - 1 - k)


def test_ewma_full_window_weight_sum(spark):
    """Days with all 14 lags present must report exactly the
    telescoped lattice total as their weight sum."""
    from trafik_etl_modular_spark.queries.timeseries import _EWMA_K

    rows = _q("events_ewma_volume")(spark, SF).collect()
    full = [r for r in rows if r.n_lags == _EWMA_K]
    assert full, "no day saw a complete EWMA window"
    for r in full:
        assert r.weight_sum == 4**_EWMA_K - 3**_EWMA_K


def test_binseg_split_partitions_days(spark):
    """The chosen split must partition the day count and carry a
    non-negative gain."""
    (row,) = _q("events_changepoint_binseg")(spark, SF).collect()
    assert row.n_left >= 1 and row.n_right >= 1
    assert row.gain_q >= 0.0


def test_kaplan_meier_survival_monotone(spark):
    """Survival is a product of factors in [0,1]: it must start at
    (n-d)/n of the first period and never increase."""
    rows = _q("events_kaplan_meier")(spark, SF).collect()
    assert rows
    first = rows[0]
    assert first.survival_e9 == (
        10**9 * (first.n_risk - first.n_churned) // first.n_risk
    )
    for a, b in zip(rows, rows[1:]):
        assert b.survival_e9 <= a.survival_e9
        assert 0 <= b.survival_e9 <= 10**9


def test_kaplan_meier_guard_raises_loudly(spark, monkeypatch):
    """The pair-encoding guard must raise before the fold corrupts."""
    import pytest

    from trafik_etl_modular_spark.queries import timeseries

    monkeypatch.setattr(timeseries, "_KM_ENC", 1)
    with pytest.raises(ValueError, match="pair-encoding"):
        _q("events_kaplan_meier")(spark, SF)


def test_ams_f2_certificate_recomputes(spark):
    """The reported relative error must equal the exact rational
    recomputed from the row's own est/exact columns."""
    (row,) = _q("sketch_ams_f2")(spark, SF).collect()
    assert row.f2_exact > 0
    assert row.rel_err_e6 == abs(row.f2_est - row.f2_exact) * 1_000_000 // (
        row.f2_exact
    )


def test_histogram_selectivity_certificate_recomputes(spark):
    """abs/rel error columns must recompute from est and exact, and
    the estimate must be positive for a ~20%-selectivity predicate."""
    (row,) = _q("planning_histogram_selectivity")(spark, SF).collect()
    assert row.exact_rows > 0 and row.est_rows_e6 > 0
    assert row.abs_err_e6 == abs(row.est_rows_e6 - row.exact_rows * 1_000_000)
    assert row.rel_err_e6 == row.abs_err_e6 // row.exact_rows


def test_ohlc_bar_invariants(spark):
    """Every bar: low <= open, close <= high, and volume is at least
    n_orders times the low (all prices positive cents)."""
    for r in _q("window_daily_ohlc")(spark, SF).collect():
        assert r.low_cents <= r.open_cents <= r.high_cents
        assert r.low_cents <= r.close_cents <= r.high_cents
        assert r.volume_cents >= r.n_orders * r.low_cents


def test_rolling_zscore_flags_consistent(spark):
    """The anomaly flag must equal |z| > 2 row-by-row, and no row may
    score against fewer than the minimum window."""
    from trafik_etl_modular_spark.queries.windows import _ZSCORE_MIN_N

    rows = _q("window_rolling_zscore")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_window >= _ZSCORE_MIN_N
        assert r.anomaly == (abs(r.z_q) > 2.0)


def test_stickiness_bounded_by_one(spark):
    """Mean DAU can never exceed WAU, so stickiness_e6 <= 1e6."""
    rows = _q("events_dau_wau_stickiness")(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.stickiness_e6 <= 1_000_000


def test_new_vs_returning_partitions_actives(spark):
    """new + returning must partition the day's actives, and day one
    must be all-new."""
    rows = sorted(
        _q("events_new_vs_returning")(spark, SF).collect(), key=lambda r: r.d
    )
    assert rows[0].returning_users == 0
    for r in rows:
        assert r.new_users + r.returning_users == r.active_users


def test_topk_ivm_certificate_all_green(spark):
    """Candidate-set maintenance must reproduce the full recompute on
    every rank row (the soundness argument made executable)."""
    rows = _q("merge_topk_ivm")(spark, SF).collect()
    assert len(rows) == 10
    assert all(r.matches_full for r in rows)


def test_minmax_rescan_only_on_deleted_max(spark):
    """Groups whose deleted max was below the stored max must keep
    it unchanged with zero rescans; every row's certificate must be
    green."""
    rows = _q("merge_minmax_ivm_rescan")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.matches_full
        if not r.rescan_needed:
            assert r.new_max_cents == r.old_max_cents


def test_personalized_pagerank_is_seed_consistent(spark):
    """The is_seed flag must reflect the compiled panel and ranks
    must be non-negative and sorted."""
    from trafik_etl_modular_spark.queries.graph import _PPR_SEEDS

    rows = _q("graph_personalized_pagerank")(spark, SF).collect()
    assert rows
    ranks = [r.rank_q for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    for r in rows:
        assert r.is_seed == (r.vertex_id in _PPR_SEEDS)
        assert r.rank_q >= 0.0


def test_markov_stationary_mass_conserved_within_floor_loss(spark):
    """Each fixed-point round floors one e-9 unit away per TERM of the
    matrix product (<=|types|^2 terms), so after 3 rounds the
    distribution must sum to 1e9 minus at most 3*|types|^2 units, and
    every state's mass stays in [0, 1e9]."""
    rows = _q("events_markov_stationary")(spark, SF).collect()
    total = sum(r.stationary_e9 for r in rows)
    assert 10**9 - 3 * len(rows) ** 2 <= total <= 10**9
    for r in rows:
        assert 0 <= r.stationary_e9 <= 10**9
        assert r.delta_e9 == abs(r.stationary_e9 - r.prev_iter_e9)


def test_greedy_join_order_choice_consistent(spark):
    """The chosen order must follow the estimate comparison, and the
    correctness flag must recompute from the row's own columns."""
    (row,) = _q("planning_greedy_join_order")(spark, SF).collect()
    est_says_lo = row.est_lo <= row.est_oc
    assert row.chosen_first == (
        "lineitem_orders_first" if est_says_lo else "orders_customer_first"
    )
    assert row.choice_correct == (
        est_says_lo == (row.exact_lo <= row.exact_oc)
    )


def test_neyman_allocation_within_budget(spark):
    """Floor allocations can never exceed the budget in total, every
    stratum's weight is positive, and no stratum samples more rows
    than it has."""
    from trafik_etl_modular_spark.queries.training_prep import _NEYMAN_BUDGET

    rows = _q("sample_stratified_neyman")(spark, SF).collect()
    assert sum(r.alloc_n for r in rows) <= _NEYMAN_BUDGET
    for r in rows:
        assert r.weight_int > 0
        assert 0 <= r.sampled_n <= r.n_h


def test_cms_width_sweep_error_shrinks_with_width(spark):
    """CMS never undercounts at any width, and the summed overcount
    must be non-increasing as width grows (fewer collisions)."""
    rows = sorted(
        _q("sketch_cms_width_sweep")(spark, SF).collect(),
        key=lambda r: r.width,
    )
    assert [r.width for r in rows] == [64, 128, 256]
    assert all(r.never_undercounts for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert b.sum_overcount <= a.sum_overcount


def test_scd2_retro_correction_certificates_green(spark):
    """Every touched customer's spliced history must equal the
    rebuilt-from-facts history — including the dropped-day case the
    compressed-view-only splice gets wrong (the development bug this
    certificate caught)."""
    rows = _q("merge_scd2_retro_correction")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.intervals_match, f"splice diverged for customer {r.custkey}"
        assert r.n_late_days >= 1
        assert r.n_intervals_new >= 1
