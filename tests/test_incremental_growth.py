"""Growth-curve convergence for the incremental paths (verdict r09
ask #3): drive ~10 batches through (a) the incremental corpus-dedup
state loop and (b) the IVF append path, and assert that index SIZE
grows by exactly the batch's contribution each step (linear in
batches, never a corpus rewrite) and that per-batch WALL TIME stays
flat — the signature of work ∝ batch.  A per-batch cost proportional
to the accumulated corpus would make the second half of the run
clearly slower than the first; the median-ratio bound catches that
while staying robust to single-batch machine-weather spikes.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from trafik_etl_modular_spark.catalog import load_table

SF = "/root/testdata/sf0.001"
N_BATCHES = 10
# per-batch time bound: median(second half) vs median(first half).
# Linear-in-corpus per-batch work over 10 equal batches would put
# this ratio at ~3; flat per-batch work keeps it near 1.  2.5 leaves
# room for noisy-neighbor bursts without accepting a corpus-
# proportional trend.
MEDIAN_RATIO_BOUND = 2.5


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    return s[len(s) // 2]


def test_incremental_dedup_growth_linear_in_batch(spark):
    """10 batches through the exact state-update step the streaming
    foreachBatch body runs (shingle → verdict probe → index append):
    postings-index increments equal each batch's own postings count,
    and per-batch time does not trend with the accumulated corpus."""
    from trafik_etl_modular_spark.llmdata.dedup import (
        content_hashes,
        incremental_verdicts,
        shingle_postings,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    cinv = chash = None
    index_sizes: list[int] = []
    increments: list[int] = []
    times: list[float] = []
    for i in range(N_BATCHES):
        bdf = docs.where(F.col("doc_id") % N_BATCHES == i).localCheckpoint(
            eager=True
        )
        t0 = time.perf_counter()
        binv = shingle_postings(bdf, k=3).localCheckpoint(eager=False)
        if cinv is not None:
            # probe work is batch ⨝ index on the shingle hash — force it
            incremental_verdicts(
                bdf, binv, cinv, chash, threshold=0.6
            ).count()
        nb = binv.count()
        cinv = (
            (binv if cinv is None else cinv.unionByName(binv))
            .coalesce(8)
            .localCheckpoint(eager=True)
        )
        chash = (
            (content_hashes(bdf) if chash is None else chash.unionByName(content_hashes(bdf)))
            .coalesce(8)
            .localCheckpoint(eager=True)
        )
        times.append(time.perf_counter() - t0)
        sz = cinv.count()
        increments.append(sz - (index_sizes[-1] if index_sizes else 0))
        index_sizes.append(sz)
        # the index grew by EXACTLY this batch's postings — an append,
        # never a corpus rewrite or re-shingle
        assert increments[-1] == nb

    # equal-sized batches contribute near-equal increments: no
    # corpus-correlated term in the growth
    assert max(increments) <= 2 * max(1, min(increments))
    # per-batch time flat (batch 0 excluded: it has no probe)
    half = 1 + (N_BATCHES - 1) // 2
    ratio = _median(times[half:]) / max(_median(times[1:half]), 1e-9)
    assert ratio < MEDIAN_RATIO_BOUND, (times, ratio)


def test_ivf_append_growth_linear_in_batch(spark, tmp_path):
    """10 appends against a frozen quantizer: each append adds exactly
    the batch's rows and at most one file per touched bucket; the
    existing corpus is never rewritten (file count for old appends is
    unchanged) and per-append time stays flat."""
    from trafik_etl_modular_spark.llmdata.similarity import (
        ivf_append,
        ivf_assign,
        ivf_train,
    )
    from trafik_etl_modular_spark.operators.table import read_table

    emb = load_table(spark, SF, "embeddings")
    centers = ivf_train(emb, n_centroids=8)
    path = str(tmp_path / "ivf")

    def data_files() -> set[str]:
        return {
            p
            for p in glob.glob(f"{path}/assigned/**/*.parquet", recursive=True)
        }

    sizes: list[int] = []
    times: list[float] = []
    prev_files: set[str] = set()
    for i in range(N_BATCHES):
        batch = emb.where(F.col("vec_id") % N_BATCHES == i)
        n_batch = batch.count()
        t0 = time.perf_counter()
        assigned = ivf_assign(batch, centers)
        n_buckets = assigned.select("ivf_bucket").distinct().count()
        ivf_append(assigned, path)
        times.append(time.perf_counter() - t0)
        now_files = data_files()
        # old files untouched (append, not rewrite) …
        assert prev_files <= now_files
        # … and ≤ one new file per touched bucket
        assert len(now_files - prev_files) <= n_buckets
        prev_files = now_files
        total = read_table(spark, f"{path}/assigned").count()
        sizes.append(total)
        # index grows by exactly the batch size
        expected = (sizes[-2] if len(sizes) > 1 else 0) + n_batch
        assert total == expected

    half = N_BATCHES // 2
    ratio = _median(times[half:]) / max(_median(times[:half]), 1e-9)
    assert ratio < MEDIAN_RATIO_BOUND, (times, ratio)


def test_streaming_incremental_dedup_runs_at_ten_batches(spark):
    """The real streaming entry point stays correct at 10 micro-
    batches: every document classified exactly once, batch composition
    as declared, first batch all novel."""
    from trafik_etl_modular_spark.streaming.incremental_dedup import (
        incremental_dedup_stream_run,
    )

    out = incremental_dedup_stream_run(spark, SF, n_batches=10).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert len(out) == n_docs
    assert {r["batch_id"] for r in out} == set(range(10))
    first = [r for r in out if r["batch_id"] == 0]
    assert first and all(r["verdict"] == "novel" for r in first)


def test_bm25_postings_growth_linear_in_batch(spark):
    """10 batches folded into a persisted df-table + (N, T) corpus
    constants (verdict r10 ask #5): each fold adds exactly the batch's
    postings mass (Σ df grows by the batch's distinct (doc, term)
    count, N and T by the batch's doc/token counts), per-batch time
    stays flat, and the 10-step fold lands EXACTLY on a from-scratch
    rebuild."""
    from trafik_etl_modular_spark.queries.retrieval import (
        build_postings,
        fold_df_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    dftab = None
    n_docs = tot_tok = 0
    times: list[float] = []
    mass: list[int] = []
    for i in range(N_BATCHES):
        bdf = docs.where(F.col("doc_id") % N_BATCHES == i).localCheckpoint(
            eager=True
        )
        t0 = time.perf_counter()
        bpost = build_postings(bdf).localCheckpoint(eager=True)
        dftab = fold_df_table(dftab, bpost).coalesce(8).localCheckpoint(eager=True)
        stats = bpost.agg(
            F.count_distinct("doc_id").alias("nd"), F.sum("tf").alias("tt")
        ).first()
        n_docs += stats["nd"]
        tot_tok += stats["tt"]
        times.append(time.perf_counter() - t0)
        total_df = dftab.agg(F.sum("df")).first()[0]
        batch_post = bpost.count()
        # Σ df grew by exactly the batch's postings count — an additive
        # fold, never a recount of history
        expected = (mass[-1] if mass else 0) + batch_post
        assert total_df == expected
        mass.append(total_df)

    # the folded index equals a from-scratch rebuild, term for term
    rebuilt = (
        build_postings(docs)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    assert dftab.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(dftab).count() == 0
    # corpus constants fold additively to the rebuild's values
    full = build_postings(docs).agg(
        F.count_distinct("doc_id").alias("nd"), F.sum("tf").alias("tt")
    ).first()
    assert (n_docs, tot_tok) == (full["nd"], full["tt"])
    # per-batch time flat
    half = N_BATCHES // 2
    ratio = _median(times[half:]) / max(_median(times[:half]), 1e-9)
    assert ratio < MEDIAN_RATIO_BOUND, (times, ratio)


def test_bm25_postings_shrink_fold_matches_rebuild(spark):
    """The SHRINK case (verdict r11 ask #2): build the df table from
    the full corpus, then retract 3 of the 10 batches with signed
    folds (sign=-1).  After each retraction Σ df drops by exactly the
    batch's postings count, terms whose df reaches zero RETIRE (no
    zero/negative rows survive), and the final folded table lands
    EXACTLY on a from-scratch rebuild over the surviving docs."""
    from trafik_etl_modular_spark.queries.retrieval import (
        build_postings,
        fold_df_table,
    )

    # plant one doc with a vocabulary-unique term in retraction batch
    # 0 (id ≡ 0 mod N_BATCHES) so the zero-df retirement branch is
    # EXERCISED even at this fixture's 31-term vocabulary
    planted = spark.createDataFrame(
        [(1_000_000_000, "plantedretiredterm the")], "doc_id long, text string"
    )
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .unionByName(planted)
    )
    dftab = fold_df_table(None, build_postings(docs)).localCheckpoint(eager=True)
    mass = dftab.agg(F.sum("df")).first()[0]
    for i in range(3):
        bdocs = docs.where(F.col("doc_id") % N_BATCHES == i).localCheckpoint(
            eager=True
        )
        bpost = build_postings(bdocs).localCheckpoint(eager=True)
        batch_mass = bpost.count()
        dftab = fold_df_table(dftab, bpost, sign=-1).coalesce(8).localCheckpoint(
            eager=True
        )
        # Σ df shrank by exactly the batch's postings count — the
        # signed fold never recounts history
        total_df = dftab.agg(F.coalesce(F.sum("df"), F.lit(0))).first()[0]
        assert total_df == mass - batch_mass
        mass = total_df
        # retirement invariant: the merge keeps strictly positive rows
        assert dftab.where(F.col("df") <= 0).count() == 0

    survivors = docs.where(F.col("doc_id") % N_BATCHES >= 3)
    rebuilt = (
        build_postings(survivors)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    assert dftab.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(dftab).count() == 0
    # the retraction genuinely retired the planted last-posting term
    # (the zero-retirement branch is exercised, not vacuous)
    assert dftab.where(F.col("w") == "plantedretiredterm").count() == 0
    full_vocab = fold_df_table(None, build_postings(docs)).count()
    assert dftab.count() < full_vocab
