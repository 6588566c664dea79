"""Deduplication & upsert family (SURVEY.md §2.5 W1–W3, §2.1 S6).

The reference's two dedups relied on pandas input order
(`keep="first"` after the API's recency sort, transform.py:110-118);
here every dedup is a window with an explicit total order — the
documented deviation (SURVEY.md §7.4) that makes results reproducible
under any partitioning.

The MERGE/upsert (S6, `INSERT ... ON CONFLICT DO UPDATE` at
/root/reference/src/trv/load_sqlite.py:43-62) is expressed as its
pure-relational equivalent: union + latest-wins window.  On a real
lakehouse this is Delta `MERGE INTO`; the relational form is also
exactly what `foreachBatch` applies per micro-batch in streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trafik_etl_modular_spark.queries.common import t
from trafik_etl_modular_spark.registry import query

# ---------------------------------------------------------------------------
# Library operator: latest-wins on an arbitrary key.
# ---------------------------------------------------------------------------


def latest_wins(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """Keep exactly one row per key — the first under `order`, SQL
    ORDER BY items such as ``"ts DESC"`` (which must make a total order
    for determinism). One hash shuffle on the keys; row_number cuts
    within partitions, so memory is bounded by the per-key group, not
    the table."""
    part = ", ".join(f"`{k}`" for k in keys)
    rn = f"row_number() OVER (PARTITION BY {part} ORDER BY {', '.join(order)}) AS __rn"
    return df.selectExpr("*", rn).filter("__rn = 1").drop("__rn")


# ---------------------------------------------------------------------------
# W2 — latest-version-wins per entity.
# ---------------------------------------------------------------------------

_W2_SQL = """
SELECT entity_id, event_id, ts, value
FROM (
  SELECT (event_id % 700) AS entity_id, event_id, ts, value,
         ROW_NUMBER() OVER (
           PARTITION BY (event_id % 700)
           ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
"""


@query("dedup_latest_wins", sql=_W2_SQL, tags=("dedup", "window"))
def dedup_latest_wins(spark, sf_dir):
    """W2 — keep the most recent version of each entity
    (reference transform.py:116-118: sort by modified desc, drop
    duplicates keep-first). event_id%700 manufactures ~N/700-way
    version chains from the fixture."""
    ev = t(spark, sf_dir, "events").withColumn("entity_id", F.col("event_id") % 700)
    return latest_wins(
        ev, ["entity_id"], ["ts DESC", "event_id DESC"]
    ).select("entity_id", "event_id", "ts", "value")


# ---------------------------------------------------------------------------
# SCD2 history build — the versioned sibling of W2: instead of keeping
# only the latest version, keep EVERY version as a validity interval.
# This is the standard lakehouse "slowly changing dimension type 2"
# shape the reference's upsert-with-history workflow implies
# (load_sqlite.py keeps only latest; a warehouse keeps the history).
# ---------------------------------------------------------------------------

_SCD2_SQL = """
SELECT (event_id % 700) AS entity_id,
       event_id AS version_id,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY (event_id % 700)
                      ORDER BY ts, event_id) AS valid_to,
       value,
       (LEAD(ts) OVER (PARTITION BY (event_id % 700)
                       ORDER BY ts, event_id) IS NULL) AS is_current
FROM events
"""


@query("scd2_history", sql=_SCD2_SQL, tags=("dedup", "window"))
def scd2_history(spark, sf_dir):
    """SCD2 (type-2 slowly-changing-dimension) history: every entity
    version becomes a [valid_from, valid_to) interval, the open
    interval flagged current — one window per entity (lead on the
    version order), one hash shuffle on the entity key, memory
    bounded by the version chain, embarrassingly parallel across
    entities.  The current-snapshot projection of this table equals
    W2's latest-wins output (pinned in tests/test_properties.py)."""
    ev = t(spark, sf_dir, "events").withColumn("entity_id", F.col("event_id") % 700)
    w = Window.partitionBy("entity_id").orderBy("ts", "event_id")
    return ev.select(
        "entity_id",
        F.col("event_id").alias("version_id"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "value",
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query("scd2_incremental_merge", sql=_SCD2_SQL, tags=("dedup", "window", "incremental"))
def scd2_incremental_merge(spark, sf_dir):
    """INCREMENTAL SCD2 maintenance with LATE data: a small batch of
    newly-arrived versions (~0.1% of events, landing anywhere in
    history — the hard case, since a mid-history insert rewrites its
    neighbors' valid_to) is merged into the materialized history by
    rebuilding ONLY the touched entities:

      merged = untouched history rows (anti join on the batch's
               entity set, broadcast — they are bit-identical)
             ∪ re-windowed versions of touched entities only
               (semi join prunes the recompute to the affected keys).

    Work scales with the BATCH's entity footprint, not the history —
    the same shape as agg_incremental_rollup.  The oracle is the FULL
    recompute over all events: the driver hash-check IS the proof
    that incremental maintenance equals recomputation."""
    ev = t(spark, sf_dir, "events").withColumn("entity_id", F.col("event_id") % 700)
    base = ev.filter(F.col("event_id") % 997 != 0)  # materialized history input
    batch = ev.filter(F.col("event_id") % 997 == 0)  # late-arriving versions

    def scd2(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("entity_id").orderBy("ts", "event_id")
        return df.select(
            "entity_id",
            F.col("event_id").alias("version_id"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
            F.lead("ts").over(w).isNull().alias("is_current"),
        )

    history = scd2(base)
    touched = batch.select("entity_id").distinct()
    untouched_rows = history.join(F.broadcast(touched), "entity_id", "left_anti")
    rebuilt = scd2(
        ev.join(F.broadcast(touched), "entity_id", "left_semi")
    )
    return untouched_rows.unionByName(rebuilt)


_SCD2_ASOF_SQL = """
WITH hist AS (
  SELECT (event_id % 700) AS entity_id,
         event_id AS version_id,
         ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY (event_id % 700)
                        ORDER BY ts, event_id) AS valid_to,
         value
  FROM events
),
facts AS (
  SELECT event_id, ts, (user_id % 700) AS entity_id
  FROM events WHERE event_type = 'click'
)
SELECT f.event_id, f.entity_id, f.ts,
       h.version_id, h.value AS value_at_ts
FROM facts f
LEFT JOIN hist h
  ON f.entity_id = h.entity_id
 AND h.valid_from <= f.ts
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
"""


@query("join_scd2_asof_lookup", sql=_SCD2_ASOF_SQL, tags=("temporal", "join", "window"))
def join_scd2_asof_lookup(spark, sf_dir):
    """POINT-IN-TIME lookup against the SCD2 history — the standard
    warehouse pattern the history table exists for: each fact row
    (clicks, probing entity = user_id mod 700) picks the dimension
    version whose [valid_from, valid_to) interval contains the fact's
    timestamp.  Because versions tile each entity's timeline
    disjointly, the range predicates select EXACTLY ONE version per
    matched fact (facts before an entity's first version null-pad via
    the left join) — so this is an equi-join on the entity key with
    the interval bounds as join filters: one hash shuffle each side,
    per-entity version chains stay small, no window over facts.  At
    lake scale this beats the as-of sort-merge formulation whenever
    the dimension is versioned (the interval is precomputed once in
    the history build, cf. operators/temporal.py::asof_join for the
    unversioned event-stream form)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("entity_id").orderBy("ts", "event_id")
    hist = (
        ev.withColumn("entity_id", F.col("event_id") % 700)
        .select(
            "entity_id",
            F.col("event_id").alias("version_id"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
        )
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", (F.col("user_id") % 700).alias("entity_id")
    )
    return (
        facts.alias("f")
        .join(
            hist.alias("h"),
            (F.col("f.entity_id") == F.col("h.entity_id"))
            & (F.col("h.valid_from") <= F.col("f.ts"))
            & (F.col("h.valid_to").isNull() | (F.col("f.ts") < F.col("h.valid_to"))),
            "left",
        )
        .select(
            F.col("f.event_id").alias("event_id"),
            F.col("f.entity_id").alias("entity_id"),
            F.col("f.ts").alias("ts"),
            F.col("h.version_id").alias("version_id"),
            F.col("h.value").alias("value_at_ts"),
        )
    )


# ---------------------------------------------------------------------------
# W1 — composite-natural-key dedup.
# ---------------------------------------------------------------------------

_W1_SQL = """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
"""


@query("dedup_composite_key", sql=_W1_SQL, tags=("dedup", "window"))
def dedup_composite_key(spark, sf_dir):
    """W1 — dedup on a composite natural key (reference
    transform.py:110-114 deduped on 4 text/time columns), explicit
    recency tiebreak replacing pandas' input-order dependence."""
    ev = t(spark, sf_dir, "events")
    return latest_wins(
        ev, ["user_id", "event_type"], ["ts DESC", "event_id DESC"]
    ).select("user_id", "event_type", "event_id", "ts")


# ---------------------------------------------------------------------------
# W3 — plain distinct on a projection.
# ---------------------------------------------------------------------------

_W3_SQL = """
SELECT DISTINCT user_id, event_type
FROM events
"""


@query("dedup_distinct_projection", sql=_W3_SQL, tags=("dedup",))
def dedup_distinct(spark, sf_dir):
    """W3 — the `seen_ids`-set analog: distinct over the projected key
    (endpoints.py:177-202). Spark plans it as a hash aggregate with
    map-side partials, so the shuffle carries unique keys only."""
    return t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# S6 — keyed upsert (MERGE) as union + latest-wins.
# ---------------------------------------------------------------------------


def merge_upsert(base: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """Pure-relational MERGE: updates win over base on key collision.

    Equivalent to Delta `MERGE INTO ... WHEN MATCHED UPDATE SET *
    WHEN NOT MATCHED INSERT *` (SURVEY.md §2.1 S6).  At lake scale
    this rewrite is scoped to the partitions updates touch (partition
    pruning on the join key's date); relational form shown here.
    """
    tagged = base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    return latest_wins(tagged, key_cols, ["__src DESC"]).drop("__src")


_MERGE_SQL = """
SELECT event_id, user_id, value, src
FROM (
  SELECT event_id, user_id, value, src,
         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY src DESC) AS rn
  FROM (
    SELECT event_id, user_id, value, 0 AS src
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, user_id, value + 1000 AS value, 1 AS src
    FROM events WHERE event_id % 3 = 0
  )
) WHERE rn = 1
"""


@query("merge_upsert_latest_wins", sql=_MERGE_SQL, tags=("dedup", "merge"))
def merge_upsert_query(spark, sf_dir):
    """S6 — base (even ids) merged with an updates batch (ids %3==0,
    value+1000): matched keys take the update, unmatched keys insert.
    `src` is kept in the output so the oracle verifies precedence,
    not just membership."""
    ev = t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id", "value")
    updates = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id", "user_id", (F.col("value") + 1000).alias("value")
    )
    merged = merge_upsert(
        base.withColumn("src", F.lit(0)),
        updates.withColumn("src", F.lit(1)),
        ["event_id"],
    )
    return merged.select("event_id", "user_id", "value", "src")


_SNAPSHOT_DIFF_SQL = """
WITH old_snap AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0
),
new_snap AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.h AS old_md5,
       n.h AS new_md5
FROM old_snap o FULL JOIN new_snap n ON o.doc_id = n.doc_id
"""


@query("dedup_snapshot_diff", sql=_SNAPSHOT_DIFF_SQL, tags=("dedup", "join"))
def dedup_snapshot_diff(spark, sf_dir):
    """Corpus SNAPSHOT DIFF — the reconciliation report between two
    crawl/corpus versions (added / removed / changed / unchanged by
    content hash): one full-outer equi-join on the doc key comparing
    md5 digests, so the shuffle carries (id, 32-byte hash) rows, never
    document text.  The two snapshots are derived deterministically
    from the fixture (drop doc_id%11 from old, doc_id%13 from new,
    revise text of doc_id%5 in new).  This is the audit primitive
    behind incremental-crawl bookkeeping: 'changed' rows feed
    re-embedding/re-dedup, 'added' feeds the incremental dedup batch,
    'removed' feeds retention vacuum."""
    docs = t(spark, sf_dir, "documents")
    old_snap = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    new_snap = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o, n = old_snap.alias("o"), new_snap.alias("n")
    return o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full").select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.h") != F.col("n.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.col("o.h").alias("old_md5"),
        F.col("n.h").alias("new_md5"),
    )


_FUZZY_SQL = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_distance
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@query("dedup_fuzzy_name_pairs", sql=_FUZZY_SQL, tags=("dedup", "join"))
def dedup_fuzzy_name_pairs(spark, sf_dir):
    """BLOCKED FUZZY-MATCH join (entity resolution): part-name pairs
    within edit distance 3, candidate generation BLOCKED on p_brand —
    the classic ER recipe (compare only within a blocking key, never
    all-pairs; Levenshtein runs on candidate pairs only).  One hash
    shuffle on the block key; per-block cost is occupancy², bounded
    by the blocking choice exactly like the LSH band-bucket caps.
    Edit distance is an integer both engines compute identically, so
    the oracle is the same blocked join in DuckDB."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    # ER on DISTINCT attribute values, not records: names repeat
    # heavily (sf0.1: 20k parts, 64 distinct names), so Levenshtein
    # runs on the distinct (brand, name) pairs — with the EXACT
    # length bound (|len diff| > t ⇒ distance > t) as a free
    # pre-filter — and record pairs are produced by joining the
    # matched NAME pairs back to the keys.  Edit-distance work drops
    # from record-pairs² to distinct-names² per block (8M → 50k DP
    # computations at sf0.1, measured 17 s → ~1.5 s); the expansion
    # join, not the DP, carries the (inherently large) output.
    dn = p.select("p_brand", "p_name").distinct()
    na, nb = dn.alias("na"), dn.alias("nb")
    # SYMMETRIC name-pair classes incl. identical names (distance 0):
    # ordering lives at the KEY level, so both name orders are kept
    # and each record pair matches exactly one name-pair row.
    name_pairs = (
        na.join(
            nb,
            (F.col("na.p_brand") == F.col("nb.p_brand"))
            & (
                F.abs(
                    F.length(F.col("na.p_name")) - F.length(F.col("nb.p_name"))
                )
                <= F.lit(3)
            ),
        )
        .select(
            F.col("na.p_brand").alias("p_brand"),
            F.col("na.p_name").alias("name_a"),
            F.col("nb.p_name").alias("name_b"),
            F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"))
            .cast("int")
            .alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 3)
    )
    ka = p.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    kb = p.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        ka.join(name_pairs, ["p_brand", "name_a"])
        .join(kb, ["p_brand", "name_b"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b", "edit_distance")
    )
