"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (SURVEY.md §2.9 extension; the
reference's only stateful shapes are watermark dedup + upsert, this
is the engine's custom-state surface for operators Spark's built-ins
can't express).

Semantics match the batch `window_sessionize_users` query exactly:
events within ≤ 30 min of the previous event (per user, ordered by
(ts, event_id)) share a session.  Per micro-batch the operator:

  1. merges the batch's rows with the user's open-session state,
  2. emits an UPDATE row `(user_id, session_start_us, last_ts_us,
     n_events)` for every session touched in the batch,
  3. keeps only the still-open session in state.

Emissions for one session key are monotone in `n_events`, so the
final session set is the max-`n_events` row per `(user_id,
session_start_us)` REGARDLESS of micro-batching — which is what makes
a streaming operator batch-oracle-checkable.  Correct cross-batch
stitching needs per-user event-time order across batches; the driver
stages the fixture as time-ordered file chunks (the same contract a
log-shipping source provides, and what a `withWatermark` +
out-of-order buffer stage would restore upstream otherwise).

At scale: state is one tiny tuple per active user key, hash-
partitioned across executors by the groupBy; Arrow moves each group's
batch rows to Python in one block, not per row.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from trafik_etl_modular_spark.catalog import _ensure_session_confs
from trafik_etl_modular_spark.streaming.pipeline import _run_to_memory, stage_batches

GAP_US = 1_800_000_000  # 30 minutes, microsecond-exact (cf. batch query)

_OUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, last_ts_us bigint, n_events bigint"
)
_STATE_SCHEMA = "session_start_us bigint, last_ts_us bigint, n_events bigint"


def stage_time_ordered_chunks(sf_dir: str, n_chunks: int = 2) -> str:
    """Stage the events fixture as n time-ordered parquet chunks so the
    file source delivers multiple micro-batches in event-time order
    (one file per trigger, ascending mtimes — :func:`stage_batches`).

    Two chunks by default: the MINIMUM that still exercises
    cross-batch session stitching (state carried over a batch
    boundary), which is the property the batch-equivalence oracle
    pins.  Every extra micro-batch re-pays state-store open/commit
    per partition plus a per-group Python invocation round — pure
    fixed overhead at fixture scale, no additional coverage."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(src: str) -> list:
        tbl = pq.read_table(src, columns=["event_id", "ts", "user_id"])
        # Normalize ts to int64 MICROS at staging time (via
        # timestamp[us], so a ns- or us-typed fixture both land on the
        # same unit) — the stream schema declares `ts bigint` and the
        # µs contract is explicit here instead of assumed from the
        # fixture's physical type.
        ts_us = pc.cast(pc.cast(tbl["ts"], pa.timestamp("us")), pa.int64())
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_us)
        tbl = tbl.take(
            pc.sort_indices(
                tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
            )
        )
        per = -(-tbl.num_rows // n_chunks)
        return [
            (f"chunk_{i:03d}.parquet", tbl.slice(i * per, per)) for i in range(n_chunks)
        ]

    return stage_batches(sf_dir, "events", f"sessionize{n_chunks}", build)


def _sessionize_group(key, pdf_iter, state: GroupState):
    """Vectorized per-group sessionizer: gap detection, segment
    boundaries, and per-segment (start, last, count) all come from
    numpy array ops instead of a per-row Python loop — at ~1500
    groups × batch this is the difference between ~1.7 s and ~1.2 s
    per 50k-row micro-batch.  Emits one row per session TOUCHED this
    batch (closed sessions final, the last one an open snapshot),
    identical to the row-loop formulation it replaced (the streaming
    oracle pins the equivalence)."""
    import numpy as np

    (user_id,) = key
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = None, None, 0

    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:  # defensive: NoTimeout never invokes without data
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "session_start_us": pd.Series([], dtype="int64"),
                "last_ts_us": pd.Series([], dtype="int64"),
                "n_events": pd.Series([], dtype="int64"),
            }
        )
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    # Arrow may deliver ts as datetime64[ns] OR [us] — normalize to ns
    # before the integer view so the µs math is unit-safe.
    ts = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
    order = np.lexsort((pdf["event_id"].to_numpy(), ts))
    ts = ts[order]
    new = np.empty(len(ts), dtype=bool)
    new[0] = last_us is None or int(ts[0]) - last_us > GAP_US
    np.greater(ts[1:] - ts[:-1], GAP_US, out=new[1:])

    rows: list[tuple] = []
    if new[0] and last_us is not None:
        rows.append((user_id, start_us, last_us, n))  # close carried session
    seg_idx = np.unique(np.r_[0, np.flatnonzero(new)])
    seg_end = np.r_[seg_idx[1:], len(ts)]
    starts = ts[seg_idx].tolist()
    lasts = ts[seg_end - 1].tolist()
    counts = (seg_end - seg_idx).tolist()
    if not new[0]:  # segment 0 continues the carried open session
        starts[0] = start_us
        counts[0] += n
    rows.extend(
        (user_id, int(s), int(e), int(c)) for s, e, c in zip(starts, lasts, counts)
    )
    state.update((int(starts[-1]), int(lasts[-1]), int(counts[-1])))
    yield pd.DataFrame(
        rows, columns=["user_id", "session_start_us", "last_ts_us", "n_events"]
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer over the chunked stream to
    completion; reduce the update emissions to final per-user session
    stats `(user_id, n_sessions, n_events)`."""
    _ensure_session_confs(spark)
    chunk_dir = stage_time_ordered_chunks(sf_dir)
    raw = (
        spark.readStream.format("parquet")
        .schema("event_id bigint, ts bigint, user_id bigint")
        .option("maxFilesPerTrigger", "1")
        .load(chunk_dir)
    )
    # Chunks store ts as int64 micros (see stage_time_ordered_chunks).
    ev = raw.withColumn("ts", F.timestamp_micros(F.col("ts")))

    updates = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    # State-store partition count is fixed at stream start; size it to
    # the key space rather than the session default (1.5k keys don't
    # need 32 state stores — each store is a per-batch open/commit).
    # Re-tuned r7 after the numpy vectorization of the group fn moved
    # the bottleneck to per-group Python CALL dispatch: interleaved
    # medians at sf0.1 now 2: 6.4 s, 4: 4.8 s, 8: 3.4 s, 16: ≈8 (within
    # noise of 8).  8 pinned — more state partitions = more parallel
    # Python workers dispatching groups, until store open/commit
    # overhead wins again past ~16.
    emitted = _run_to_memory(updates, "update", state_partitions=8)
    # Emissions per session key are monotone in n_events → the final
    # session row is the max; then fold sessions to per-user stats.
    finals = emitted.groupBy("user_id", "session_start_us").agg(
        F.max("n_events").alias("n_events")
    )
    return finals.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )
