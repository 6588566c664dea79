"""Document deduplication at corpus scale.

Four strategies, in increasing tolerance of variation:

  * exact          — md5 content hash, groupBy (one shuffle of hashes)
  * n-gram Jaccard — shingle-set similarity on candidate pairs
  * MinHash + LSH  — sketch shingles → band-bucket join → verify;
                     the scale path: candidate generation is a
                     shuffle on (band, bucket-hash) keys, NEVER an
                     all-pairs product
  * SimHash        — 64-bit near-dup signature, bucket on rotated
                     prefixes (Hamming-distance candidates)

All sketching is JVM-side (xxhash64 + higher-order array functions).
Published algorithm references: Broder 1997 (MinHash), Charikar 2002
(SimHash), Leskovec/Rajaraman/Ullman "Mining of Massive Datasets"
ch.3 (banding).  MinHash/SimHash signatures are engine-specific
(xxhash64 seeds), so their queries are rows-only checked by the
driver and cross-validated against exact Jaccard in tests/.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles, same order/values as 1-based list
    indexing in the SQL oracle.

    Formulated as arrays_zip of k shifted slices + one transform —
    NOT element_at(toks, i+j) inside a sequence lambda: lambda-body
    references to an inline expression re-evaluate it per element, so
    the split() regex would run k× per shingle position per row
    (~18× slower measured at sf0.1). Here split() evaluates a constant
    k+1 times per row regardless of document length."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    cnt = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, cnt) for j in range(k)])
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    )


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| on distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingle_arr: Column, num_hashes: int = 64) -> Column:
    """num_hashes-wide MinHash signature over a PRE-HASHED shingle
    array: hash each shingle string ONCE (xxhash64 → long), then
    derive the family as xxhash64(token_hash, seed) — re-hashing a
    fixed 12-byte (long, int) pair per lane instead of the variable-
    length string.  ~5× cheaper per lane at 3-word shingles, and the
    gap widens with shingle length; same min-wise independence
    (Broder 1997 §4 — any universal family over the token hash works).

    All Catalyst, no UDF; cost O(|shingles|) string hashes +
    O(|shingles| × num_hashes) long hashes, embarrassingly parallel.

    IMPORTANT: pass the pre-hashed array via :func:`token_hashes` when
    composing, so the string hashing is a column evaluated once — an
    inline expression would be re-evaluated per lane."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(F.transform(shingle_arr, lambda h: F.xxhash64(h, s))),
    )


def token_hashes(str_arr: Column) -> Column:
    """Hash each array element once: array<string> → array<long>."""
    return F.transform(str_arr, lambda x: F.xxhash64(x))


def token_hash_expr(text: Column | str) -> Column:
    """Per-position token hashes of a space-tokenized text: each word
    hashed once, positions preserved — the shared upstream of BOTH
    sketch families (shingle hashes combine k consecutive entries;
    SimHash votes come from the distinct entries), so a calibration
    query can tokenize the corpus once and feed both legs."""
    c = F.col(text) if isinstance(text, str) else text
    return F.transform(F.split(c, " "), lambda t: F.xxhash64(t))


def shingles_from_token_hashes(th: Column | str, k: int = 3) -> Column:
    """Distinct k-shingle hashes from a positional token-hash array
    (the second half of :func:`hashed_shingles`, split out so a
    shared :func:`token_hash_expr` frame can feed it)."""
    c = F.col(th) if isinstance(th, str) else th
    cnt = F.greatest(F.size(c) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(c, j + 1, cnt) for j in range(k)])
    return F.array_distinct(
        F.transform(zipped, lambda s: F.xxhash64(*[s[str(j)] for j in range(k)]))
    )


def hashed_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles AS 64-BIT HASHES — the corpus-scale
    representation: tokens are hashed once, a shingle hash combines k
    consecutive token hashes (fixed 24-byte rehash), and no
    intermediate shingle STRING is ever allocated.  Same distinct-set
    cardinality as :func:`shingles` up to hash collisions
    (~n²/2⁶⁴ per doc — negligible), so Jaccard over these equals
    Jaccard over the string sets."""
    return shingles_from_token_hashes(token_hash_expr(text), k)


def _banded(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per (doc, band)."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band hash.

    bands × rows_per_band must equal the signature width.  With b=16,
    r=4 the S-curve threshold is (1/b)^(1/r) ≈ 0.50 Jaccard.  The
    join is an equi-join on (band_idx, band_hash): Spark shuffles both
    sides on that key — candidate generation scales with bucket
    occupancy, not corpus².  Output: distinct (id_a, id_b), id_a < id_b.

    ``max_bucket_size`` is the HOT-BUCKET GUARD for 100-TB corpora: a
    degenerate bucket (mass-duplicated boilerplate, stop-shingle
    signatures) is quadratic in its occupancy, so one pathological key
    can dominate the whole job.  With the cap set, each (band, hash)
    bucket keeps only its ``max_bucket_size`` smallest ids (a window
    over the SAME key the join shuffles on — co-partitioned, no extra
    exchange pattern) and the rest are excluded from THAT band's
    candidates, bounding per-bucket work at cap²/2.  Truncation is
    observable, not silent: :func:`lsh_bucket_stats` reports every
    bucket over the cap.  Recall note: docs dropped from a hot band
    can still pair through their other bands, and the intended
    pipeline order — exact dedup BEFORE sketching (as in the curation
    pipeline) — removes the identical-doc mass that creates degenerate
    buckets in the first place."""
    banded = _banded(df, id_col, sig_col, bands, rows_per_band)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_hash").orderBy(id_col)
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    # Both self-join legs read the banded (and possibly capped) rows —
    # materialize once instead of re-running the banding (and the cap
    # window's sort) per leg (at lake scale: persist between stages).
    banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band-bucket occupancy report — the observability companion to
    :func:`lsh_candidate_pairs`'s hot-bucket cap.  One row per (band,
    hash) bucket: occupancy, and (when a cap is given) how many docs
    that bucket would truncate.  At scale this is the job you run
    first (or alongside) to SEE skew instead of discovering it as a
    straggler task; one groupBy, map-side combinable."""
    occ = (
        _banded(df, id_col, sig_col, bands, rows_per_band)
        .groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("occupancy"))
    )
    if max_bucket_size is not None:
        occ = occ.withColumn(
            "truncated",
            F.greatest(F.lit(0), F.col("occupancy") - F.lit(max_bucket_size)),
        )
    return occ


def minhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidate
    join → exact-Jaccard verify on candidates only.

    The verify re-joins shingle sets for candidate ids — at corpus
    scale candidates are a tiny fraction of pairs, so the expensive
    array_intersect runs on ~linear volume.

    ``max_bucket_size`` passes through to the band-bucket join's
    hot-bucket guard (see :func:`lsh_candidate_pairs`); run EXACT
    dedup before this operator so identical-doc mass never reaches
    the sketch."""
    sh, signed = minhash_frames(docs, text_col, id_col, num_hashes)
    return minhash_near_dups_from(
        sh, signed, id_col, threshold, num_hashes, bands, max_bucket_size
    )


def minhash_frames(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """(shingle-set frame, signature frame) — the banding-INDEPENDENT
    half of the MinHash pipeline, split out so parameter sweeps can
    compute it once and re-band many ways (the banding only touches
    how the finished signature is sliced).

    Hash-space shingles, materialized by the checkpoint BEFORE the
    signature projection — otherwise CollapseProject inlines the
    shingle transform into the seed lambda and it re-evaluates once
    per lane (64×).  The checkpoint also stops the expensive
    expression re-running per plan leg (two join sides + verify, and
    every sweep config); at lake scale this is a persist to storage
    between the sketch and join stages."""
    from trafik_etl_modular_spark.operators.partitions import fan_out

    sh = (
        fan_out(docs)
        .select(F.col(id_col), hashed_shingles(F.col(text_col)).alias("sh"))
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=False)
    )
    signed = sh.select(
        F.col(id_col), minhash_signature(F.col("sh"), num_hashes).alias("minhash")
    ).localCheckpoint(eager=False)
    return sh, signed


def minhash_near_dups_from(
    sh: DataFrame,
    signed: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band → candidate join → exact-Jaccard verify over frames built
    by :func:`minhash_frames` (see :func:`minhash_near_dups`)."""
    rows_per_band = num_hashes // bands
    cands = lsh_candidate_pairs(
        signed, id_col, "minhash", bands, rows_per_band, max_bucket_size
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact k-shingle Jaccard near-dup pairs via an INVERTED INDEX:
    explode shingles, equi-join on the shingle, count shared shingles
    per doc pair, assemble Jaccard from set sizes — docs sharing no
    shingle never pair at all.

    vs the naive blocked all-pairs + array_intersect this is ~20×
    faster at sf0.1 and the count assembly stays map-side-combinable:
    the pair groupBy moves one partial count per (pair, task), never
    candidate arrays.  Cost is Σ(posting-list²) per shingle — right
    when document frequencies are bounded (measured max df 25 on the
    fixture).  Under a SKEWED vocabulary (stop-shingles with huge
    postings) that Σdf² explodes; that regime is what
    :func:`ngram_jaccard_pairs_prefix` is for — measured here the
    count-based form wins (no per-pair array verify, one fewer
    shuffle) while df is small, so it stays the default.
    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold."""
    from trafik_etl_modular_spark.operators.partitions import fan_out

    # 64-bit HASHED shingles, not strings: the inverted index is the
    # shuffled payload, and a long key moves ~4× fewer bytes than a
    # 3-word shingle string; Jaccard over the hashed sets equals
    # Jaccard over the string sets up to ~n²/2⁶⁴ in-doc collisions
    # (see hashed_shingles) — the DuckDB oracle computes the string
    # form and the values agree.
    if shingle_frame is not None:
        # caller already materialized the (id, shingle-set) frame
        # (e.g. minhash_frames' checkpoint) — reuse it instead of
        # re-deriving the identical arrays from the text.  A doc with
        # zero shingles explodes to zero posting rows, so the
        # size-filtered frame yields the same inverted index.
        sh = shingle_frame.select(
            F.col(id_col), F.col(shingle_frame.columns[1]).alias("s")
        )
    else:
        sh = fan_out(docs).select(
            F.col(id_col), hashed_shingles(F.col(text_col), k).alias("s")
        )
    # Both join sides read the same postings — materialize once instead
    # of re-running shingle+explode per leg (at lake scale: persist the
    # inverted index to storage between build and join stages).
    inv = sh.select(
        F.col(id_col), F.size("s").alias("sz"), F.explode("s").alias("shingle")
    ).localCheckpoint(eager=False)
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.any_value(F.col("a.sz")).alias("sz_a"),
            F.any_value(F.col("b.sz")).alias("sz_b"),
            F.count("*").alias("n_shared"),
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    )
    return shared.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def shingle_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_pct: int = 80,
    min_shingles: int = 5,
) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs (Broder 1997's second
    resemblance measure): C(a→b) = |S(a) ∩ S(b)| / |S(a)| — "how much
    of a is inside b".  This is the detector symmetric Jaccard
    structurally MISSES: a short document wholly quoted inside a long
    one has containment 1.0 but Jaccard |a|/|b| → 0, which is exactly
    the boilerplate/quotation/template-page regime of web-corpus
    curation.

    Same scale shape as :func:`ngram_jaccard_pairs` — inverted hashed
    shingle index, equi-join on the shingle key, map-side-combinable
    pair counts; docs sharing no shingle never pair.  The undirected
    shared-count is assembled ONCE (id ordering halves the pair
    shuffle), then both directed rows are derived map-side after the
    aggregation.  All-integer comparison surface: the threshold is the
    cross-multiplied integer inequality n_shared·100 ≥ pct·sz_a and
    the reported percentage is integer division — no doubles anywhere.

    Output: (id_a, id_b, sz_a, n_shared, containment_pct), one row per
    DIRECTED pair with sz_a ≥ min_shingles (drops trivially-contained
    stubs) and containment ≥ threshold_pct.
    """
    from trafik_etl_modular_spark.operators.partitions import fan_out

    sh = fan_out(docs).select(
        F.col(id_col), hashed_shingles(F.col(text_col), k).alias("s")
    )
    inv = sh.select(
        F.col(id_col), F.size("s").alias("sz"), F.explode("s").alias("shingle")
    ).localCheckpoint(eager=False)
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.any_value(F.col("a.sz")).alias("sz_a"),
            F.any_value(F.col("b.sz")).alias("sz_b"),
            F.count("*").alias("n_shared"),
        )
    )
    directed = shared.select("id_a", "id_b", "sz_a", "n_shared").unionByName(
        shared.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            F.col("sz_b").alias("sz_a"),
            "n_shared",
        )
    )
    return directed.filter(
        (F.col("sz_a") >= min_shingles)
        & (F.col("n_shared") * 100 >= threshold_pct * F.col("sz_a"))
    ).select(
        "id_a",
        "id_b",
        "sz_a",
        "n_shared",
        F.expr("n_shared * 100 div sz_a").alias("containment_pct"),
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact k-shingle Jaccard near-dup pairs via PREFIX-FILTERED
    inverted index (SSJoin/PPJoin family — Chaudhuri et al. 2006,
    Xiao et al. 2008).  Same output as :func:`ngram_jaccard_pairs`;
    different cost model:

      1. order every doc's shingles rare-first (global document
         frequency asc, shingle asc as tiebreak);
      2. index only each doc's PREFIX — its |s| - ⌈t·|s|⌉ + 1 rarest
         shingles.  Exactness: J(a,b) ≥ t forces overlap ≥ ⌈t·|a|⌉
         and ≥ ⌈t·|b|⌉, and the SMALLEST common shingle under the
         global order then must sit inside both prefixes (≥ overlap-1
         common shingles follow it in each doc) — every qualifying
         pair survives the cut;
      3. equi-join prefixes on the shingle → candidate pairs;
      4. exact array_intersect Jaccard on candidates only.

    This is the shape for SKEWED vocabularies: a stop-shingle
    appearing in half the corpus lands in almost no doc's rare-first
    prefix, so no posting list ever explodes into Σposting²
    candidates — where the count-based default would quadratically
    melt.  The price is the per-candidate array verify and one extra
    shuffle (the df join), which is why the default wins on
    bounded-df corpora; pick per corpus df profile (one cheap
    count-agg tells you).
    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold."""
    from pyspark.sql import Window

    from trafik_etl_modular_spark.operators.partitions import fan_out

    sh = (
        fan_out(docs)
        # Hashed (long) shingles — same global-order argument holds for
        # ANY total order on shingles; (df, hash) is one.  Shuffle
        # payload shrinks ~4× vs 3-word strings and the candidate
        # verify intersects long arrays (see ngram_jaccard_pairs).
        .select(F.col(id_col), hashed_shingles(F.col(text_col), k).alias("s"))
        .filter(F.size("s") > 0)
        # Both the prefix index and the verify join read these arrays —
        # materialize once (at lake scale: persist between stages).
        .localCheckpoint(eager=False)
    )
    ex = sh.select(F.col(id_col), F.size("s").alias("sz"), F.explode("s").alias("shingle"))
    # Document frequency as a COUNT WINDOW over the shingle partition:
    # one shuffle attaches df to every posting row — the groupBy+join
    # formulation pays the same shingle shuffle PLUS a join probe.
    wdf = Window.partitionBy("shingle")
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    # ⌈t·|s|⌉ with a downward epsilon: a bare double ceil(t*sz) is
    # wrong whenever t's binary representation exceeds its rational
    # value at an exact multiple (0.1*10 = 1.0000000000000002 → ceil
    # 2, not 1) — that SHORTENS the prefix and silently drops
    # qualifying pairs from an operator documented as exact.  The
    # product's double error is < 1e-10 for |s| ≤ 1e6, so subtracting
    # 1e-9 can only ever LENGTHEN the prefix (more candidates, same
    # exact verify) — never under-index a qualifying pair.
    ceil_t_sz = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    prefix_len = F.col("sz") - ceil_t_sz + 1
    pref = (
        ex.withColumn("df", F.count("*").over(wdf))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select(F.col(id_col), "shingle")
        # NO checkpoint here, deliberately: the two self-join legs are
        # IDENTICAL subtrees, so ReuseExchange computes the window
        # pipeline once already — a checkpoint only adds a block-
        # manager materialization pass (interleaved A/B at sf0.1:
        # 2.7 s un-pinned vs 3.8 s checkpointed)
    )
    a, b = pref.alias("a"), pref.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    fa = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a"))
    fb = sh.select(F.col(id_col).alias("id_b"), F.col("s").alias("s_b"))
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("jaccard", jaccard(F.col("s_a"), F.col("s_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Inverted hashed-shingle postings for a document set:
    (id, sz, shingle) with one row per DISTINCT k-shingle hash per
    doc.  This is the unit of STATE for incremental dedup — a
    continuous-crawl pipeline appends each admitted batch's postings
    to the persisted index instead of re-shingling the corpus."""
    from trafik_etl_modular_spark.operators.partitions import fan_out

    sh = fan_out(df).select(
        F.col(id_col), hashed_shingles(F.col(text_col), k).alias("s")
    )
    return sh.select(
        F.col(id_col), F.size("s").alias("sz"), F.explode("s").alias("shingle")
    )


def content_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, __h md5-content-hash) — the exact-dup side of the
    incremental index."""
    return df.select(F.col(id_col), F.md5(text_col).alias("__h"))


def incremental_verdicts(
    batch: DataFrame,
    binv: DataFrame,
    cinv: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Classify each batch doc against a PRE-BUILT corpus index
    (``cinv`` postings from :func:`shingle_postings`,
    ``corpus_hashes`` from :func:`content_hashes`) — the inner step
    of :func:`incremental_near_dups`, exposed so streaming ingest can
    carry the index as state and touch only batch-proportional work
    per micro-batch.  Verdict precedence and output exactly as
    :func:`incremental_near_dups`."""
    shared = (
        binv.alias("b")
        .join(cinv.alias("c"), "shingle")
        .groupBy(
            F.col(f"b.{id_col}").alias("batch_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .agg(
            F.any_value(F.col("b.sz")).alias("sz_b"),
            F.any_value(F.col("c.sz")).alias("sz_c"),
            F.count("*").alias("n_shared"),
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("sz_b") + F.col("sz_c") - F.col("n_shared")
    )
    near = (
        shared.filter(jac >= threshold)
        .groupBy("batch_id")
        .agg(
            F.min("corpus_id").alias("near_match_id"),
            F.count("*").alias("n_near_matches"),
        )
    )
    chash = corpus_hashes.groupBy("__h").agg(
        F.min(id_col).alias("exact_match_id")
    )
    return (
        batch.select(F.col(id_col), F.md5(text_col).alias("__h"))
        .join(chash, "__h", "left")
        .join(near, F.col(id_col) == F.col("batch_id"), "left")
        .select(
            F.col(id_col),
            F.when(F.col("exact_match_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce("exact_match_id", "near_match_id").alias("matched_id"),
            F.coalesce("n_near_matches", F.lit(0)).alias("n_near_matches"),
        )
    )


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """INCREMENTAL dedup: classify every document of a NEW batch
    against an EXISTING corpus — the shape a continuous-crawl
    pipeline actually runs (dedupe today's crawl against the lake,
    never re-pair the lake against itself).

    Verdicts, in precedence order:
      * ``exact_dup``  — content hash already in the corpus
        (matched_id = the corpus keeper, min id for that hash);
      * ``near_dup``   — k-shingle Jaccard ≥ ``threshold`` against
        ≥ 1 corpus doc (matched_id = min qualifying corpus id);
      * ``novel``      — neither (matched_id NULL).
    ``n_near_matches`` counts qualifying corpus docs regardless of
    verdict.

    Cost shape: the near check is the same inverted hashed-shingle
    index as :func:`ngram_jaccard_pairs` but ASYMMETRIC — batch
    postings join corpus postings, so the pair term is
    Σ_shingle (batch_df × corpus_df), proportional to the BATCH size,
    not corpus²; the exact check is a broadcast-size hash lookup when
    the batch is small (the usual case) and a plain equi-join
    otherwise.  Output: (doc_id, verdict, matched_id,
    n_near_matches), one row per batch doc.

    Thin wrapper over :func:`shingle_postings` +
    :func:`incremental_verdicts`; streaming ingest calls those
    directly, carrying the postings/hashes as accumulated state."""
    binv = shingle_postings(batch, text_col, id_col, k).localCheckpoint(eager=False)
    cinv = shingle_postings(corpus, text_col, id_col, k).localCheckpoint(eager=False)
    return incremental_verdicts(
        batch,
        binv,
        cinv,
        content_hashes(corpus, text_col, id_col),
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
    )


def crossdoc_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 10,
    stride: int = 5,
) -> DataFrame:
    """Cross-document REPEATED-CHUNK statistics — the scalable
    approximation of suffix-array substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"):
    slide a ``chunk``-token window with ``stride`` over every doc,
    hash each window, and measure how much of each document is made of
    chunks that also appear in OTHER documents.  This catches
    boilerplate and partial-copy contamination that document-level
    exact/MinHash dedup misses (two docs sharing a paragraph are not
    near-dups of each other).

    Shape: tokenize → token-hash once → chunk hashes from a sequence
    of window starts (all JVM array ops, no per-window string ever
    allocated) → distinct (doc, chunk) postings → chunk document
    frequency (map-side combinable groupBy on the chunk hash) → join
    the postings back → per-doc aggregate.  Every shuffle key is a
    64-bit hash; no stage is ever corpus² — cost is Σ postings, same
    as the inverted-index Jaccard path.  Docs shorter than ``chunk``
    tokens contribute their whole token span as one (short) chunk, so
    every doc appears in the output.

    Output: (doc_id, n_chunks, n_dup_chunks, dup_frac_e9) where
    n_chunks counts the doc's DISTINCT chunk hashes, a chunk is "dup"
    when its document frequency ≥ 2, and dup_frac_e9 is the dup
    fraction scaled by 1e9 and computed with PURE INTEGER DIVISION —
    every driver-visible cell is a bigint, exact in any engine.
    (The round-4/5 driver hash mismatches on this query traced to the
    oracle's un-cast SUM: DuckDB sums integers into HUGEINT, whose
    pandas conversion is DuckDB-version-dependent — the only schema
    feature separating the red queries from the green ones.)"""
    from trafik_etl_modular_spark.operators.partitions import fan_out

    # Token hashes as a MATERIALIZED column, checkpointed before the
    # windowing projection: a lambda-body reference to an inline
    # expression re-evaluates it per element (the shingles() gotcha),
    # and CollapseProject would inline a same-plan projection straight
    # into the lambda — the checkpoint pins the evaluate-once boundary.
    base = (
        fan_out(docs)
        .select(
            F.col(id_col),
            F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)).alias(
                "__th"
            ),
        )
        .localCheckpoint(eager=False)
    )
    th = F.col("__th")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(th) - (chunk - 1), F.lit(1)), F.lit(stride)
    )
    # xxhash64 hashes the sliced long-array directly (no per-window
    # string is ever allocated)
    chunks = F.array_distinct(
        F.transform(starts, lambda i: F.xxhash64(F.slice(th, i, chunk)))
    )
    postings = (
        base.select(F.col(id_col), F.explode(chunks).alias("chunk_hash"))
        # distinct postings once, reused by both the df agg and the
        # per-doc rollup (at lake scale: persist between stages)
        .localCheckpoint(eager=False)
    )
    cdf = postings.groupBy("chunk_hash").agg(
        F.count("*").alias("chunk_df")  # postings are distinct per doc
    )
    return (
        postings.join(cdf, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("chunk_df") >= 2).cast("bigint")).alias("n_dup_chunks"),
        )
        # e9-scaled dup fraction via pure integer division — no ROUND,
        # no double anywhere in the expression, on either side; the
        # DuckDB mirror is the identical (a * 1e9) // b on BIGINTs.
        .withColumn(
            "dup_frac_e9",
            F.expr("(n_dup_chunks * 1000000000) DIV n_chunks"),
        )
    )


def remove_repeated_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 10,
) -> DataFrame:
    """Repeated-chunk REMOVAL — the transform counterpart of
    :func:`crossdoc_chunk_stats` (Lee et al. 2021 ExactSubstr dedup,
    chunk-granular): tile every document into NON-OVERLAPPING
    ``chunk``-token windows, give each distinct chunk content one
    global owner — its first occurrence in (doc_id, start) order —
    and REWRITE each document as the ordered concatenation of only
    the chunk occurrences it owns.  Repeated boilerplate (across docs
    or within one doc) survives exactly once in the whole corpus,
    which is the training-data property the paper targets; stats-only
    scoring (crossdoc_chunk_stats) can't deliver that.

    Shape and scale: tokenize → per-start postings keyed by the
    chunk's xxhash64 (8-byte shuffle key; the chunk STRING never
    shuffles) → one groupBy picks the min-(doc_id, start) owner per
    chunk → postings join owners on the same hash key (AQE-planned,
    both sides already hash-partitioned) → surviving (doc_id, start)
    pairs join back to the tokenized base on doc_id and the rewrite
    is re-sliced locally from the token array.  Three shuffles, all
    on 8-24-byte keys, never corpus²; the heavy strings move only in
    the initial scan and the final per-doc rewrite.

    Output (one row per input doc): (doc_id, n_chunks,
    n_kept_chunks, n_tokens_before, n_tokens_after, rewritten_md5)
    where rewritten_md5 is md5 of the space-joined surviving chunks
    ('' when the doc loses everything) — exact-string comparable in
    any engine, no float anywhere.  Chunk identity is hash-based
    (xxhash64 of the chunk string; collisions ~|chunks|²/2⁶⁴,
    negligible and data-fixed)."""
    from trafik_etl_modular_spark.operators.partitions import fan_out

    # Tokens AND token-hashes materialized once, checkpointed to pin
    # the evaluate-once boundary (the shingles() lambda gotcha, cf.
    # crossdoc_chunk_stats above): chunk identity is the xxhash64 of
    # the sliced token-HASH array — no per-window string is ever
    # allocated or shuffled; strings reappear only in the final
    # per-doc rewrite, re-sliced from the local token array.
    base = (
        fan_out(docs)
        .select(
            F.col(id_col),
            F.split(F.col(text_col), " ").alias("__t"),
            F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)).alias(
                "__th"
            ),
        )
        .localCheckpoint(eager=False)
    )
    th = F.col("__th")
    # non-overlapping tiling, tail partial window included, so every
    # token belongs to exactly one chunk occurrence
    starts = F.sequence(F.lit(1), F.greatest(F.size(th), F.lit(1)), F.lit(chunk))
    occ = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.xxhash64(F.slice(th, s, chunk)).alias("chunk_hash"),
            F.size(F.slice(th, s, chunk)).alias("chunk_len"),
        ),
    )
    postings = base.select(F.col(id_col), F.explode(occ).alias("c")).select(
        F.col(id_col),
        F.col("c.start").alias("start"),
        F.col("c.chunk_hash").alias("chunk_hash"),
        F.col("c.chunk_len").alias("chunk_len"),
    )
    owners = postings.groupBy("chunk_hash").agg(
        F.min(F.struct(F.col(id_col).alias("oid"), F.col("start").alias("ostart"))).alias(
            "owner"
        )
    )
    kept = (
        postings.join(owners, "chunk_hash")
        .filter(
            (F.col("owner.oid") == F.col(id_col))
            & (F.col("owner.ostart") == F.col("start"))
        )
        .select(F.col(id_col), "start", "chunk_len")
    )
    per_doc = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept_chunks"),
        F.sum("chunk_len").alias("n_tokens_after"),
        F.sort_array(F.collect_list("start")).alias("__starts"),
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.ceil(F.greatest(F.size("__t"), F.lit(1)) / F.lit(chunk))
        .cast("bigint")
        .alias("n_chunks"),
        F.coalesce("n_kept_chunks", F.lit(0)).cast("bigint").alias("n_kept_chunks"),
        F.size("__t").cast("bigint").alias("n_tokens_before"),
        F.coalesce("n_tokens_after", F.lit(0)).cast("bigint").alias("n_tokens_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.coalesce("__starts", F.array().cast("array<int>")),
                        lambda s: F.slice(F.col("__t"), s, chunk),
                    )
                ),
            )
        ).alias("rewritten_md5"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    n_partitions: int | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation with pointer
    jumping.  Returns (id, label) where label is the component's
    minimum node id — the canonical "keeper" for LLM-data dedup.

    Each round is two hash shuffles: (1) every node takes the min of
    its own and its neighbors' labels (one join on the symmetrized
    edge list + one min-aggregate — map-side partial agg keeps the
    shuffle at one row per node); (2) pointer jump, label ←
    label(label), a self-join that halves label-chain depth.  With the
    jump, convergence is O(log n) rounds even on path graphs (cf.
    Shiloach-Vishkin pointer doubling; the Kiveris et al. 2014
    large-star/small-star formulation has the same round bound — this
    shape was chosen because each round is plain join+groupBy that AQE
    can re-plan).  Near-dup clusters in real corpora are dense and
    shallow, so the loop typically exits after 2-3 rounds; each round
    is localCheckpoint'd to truncate lineage (at lake scale: persist
    labels between rounds).

    Convergence is certified by a CHANGED-LABEL COUNT carried through
    the round's own aggregate, not a diff join: each node's previous
    label rides along the min-aggregation (tagged union, one
    conditional min), so "did anything change" is a single filter
    count over the just-materialized round output — no self-join
    against the previous iteration, and fully type-generic (string
    doc ids work; an earlier DECIMAL label-sum certificate could only
    certify numeric ids).

    `n_partitions`: the edge set is typically orders of magnitude
    smaller than the corpus (only docs in near-dup pairs appear), so
    the loop gets its own parallelism — inheriting the corpus-sized
    shuffle width makes every tiny round pay full task-scheduling
    overhead.  Default: cluster parallelism.

    `driver_threshold`: SIZE-GATED strategy switch, the same call
    engines make between broadcast and shuffle joins.  A near-dup
    edge set ≤ the threshold (100k edges ≈ a few MB) resolves faster
    with a driver-side union-find than with 2+ distributed rounds of
    join+agg+checkpoint — each round is several jobs of pure
    scheduling overhead at that size.  Labels are identical (min id
    per component, path-compressed union by min), so callers and
    oracles can't tell which path ran; above the threshold the
    distributed pointer-jumping loop below is the only shape that
    scales.  Pass 0 to force the distributed path (tests do).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if driver_threshold:
        # limit(threshold+1) bounds the driver read — if the full
        # threshold+1 rows come back the graph is "large" and nothing
        # further is collected.
        head = e.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            parent: dict = {}

            def find(a):
                r = a
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(a, a) != a:  # path compression
                    parent[a], a = r, parent[a]
                return r

            for row in head:
                ra, rb = find(row["u"]), find(row["v"])
                if ra != rb:
                    # union by MIN so the root IS the canonical label
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = set(parent)
            for row in head:
                nodes.add(row["u"])
                nodes.add(row["v"])
            ids = sorted(nodes)
            # Schema must be IDENTICAL to the distributed path's for
            # any id type (string doc ids, ints, ...): both columns
            # carry the src column's type, so callers can't tell
            # which strategy ran.  An Arrow table, not a list: under
            # the Arrow local-relation threshold it plans as a
            # LocalRelation, with no pickled Python RDD (and so no
            # Python worker) behind it.
            id_type = e.schema["u"].dataType
            out_schema = T.StructType(
                [
                    T.StructField("id", id_type, True),
                    T.StructField("label", id_type, True),
                ]
            )
            at = to_arrow_type(id_type)
            tbl = pa.table(
                {
                    "id": pa.array(ids, at),
                    "label": pa.array([find(n) for n in ids], at),
                }
            )
            return edges.sparkSession.createDataFrame(tbl, out_schema)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if n_partitions:
        sym = sym.repartition(n_partitions, "v")
    sym = sym.localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        neigh = sym.join(labels, sym["v"] == labels["id"]).select(
            F.col("u").alias("id"), "label", F.lit(False).alias("is_old")
        )
        tagged = labels.withColumn("is_old", F.lit(True)).unionByName(neigh)
        # One aggregate yields BOTH the new min-label and the node's
        # previous label (unique per id), so convergence needs no
        # join against the previous iteration.
        merged = tagged.groupBy("id").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("is_old"), F.col("label"))).alias("old_label"),
        )
        hop = merged.select(F.col("id").alias("jid"), F.col("label").alias("jlabel"))
        jumped = (
            merged.join(hop, merged["label"] == hop["jid"], "left")
            .select(
                "id",
                F.coalesce("jlabel", "label").alias("label"),
                "old_label",
            )
            .localCheckpoint()
        )
        labels = jumped.select("id", "label")
        n_changed = jumped.filter(F.col("label") != F.col("old_label")).count()
        if n_changed == 0:
            break
    return labels


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _sig_bit(i: int) -> Column:
    """Bit i as a long literal (bit 63 is the sign bit)."""
    return F.lit(-(2**63) if i == 63 else 2**i).cast("long")


# 4×16-bit lane-packing mask: (h >>> j) & _SIMHASH_LANE_MASK isolates
# bits j, j+16, j+32, j+48 of a token hash into the four 16-bit fields
# of one long, so 16 packed sums replace 64 conditional sums.
_SIMHASH_LANE_MASK = 0x0001_0001_0001_0001
_SIMHASH_FIELD_CAP = 1 << 16


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashes: bool = False,
) -> DataFrame:
    """Doc → 64-bit SimHash (Charikar 2002): per bit i, sum ±1 votes
    according to bit i of each distinct-token hash; the vote's sign
    sets bit i of the signature.

    Shape: explode distinct token hashes → ONE hash aggregation with
    the 64 bit lanes PACKED into 16 long columns of 4×16-bit fields:
    ``(h >>> j) & 0x0001000100010001`` drops bits j/j+16/j+32/j+48
    into their own fields in one shift+mask, so each token costs 16
    shift+mask+add lanes instead of 64 conditional sums (guide §1.2
    step 2 — measured 2.0 → 1.6 s at sf0.1; the per-doc
    ``aggregate()`` lambda formulation interprets per element and
    stays ~8× slower).  The vote sign test votes_i > 0 becomes
    2·ones_i > n on the unpacked field — the same integer
    inequality.  A 16-bit field saturates at 65,536 DISTINCT tokens
    per document; the signature projection raises loudly via
    raise_error long before that (the radix-guard discipline), since
    a silent wrap would corrupt signatures.

    ``hashes=True`` means ``text_col`` already holds a positional
    token-hash array (:func:`token_hash_expr`) — the shared-
    tokenization path for calibration queries that feed one token
    frame to both the sketch and the exact-truth leg.  Distinct of
    hashes equals hash of distinct tokens up to in-doc xxhash64
    collisions (~n²/2⁶⁴ — the same negligible window
    :func:`hashed_shingles` documents)."""
    from trafik_etl_modular_spark.operators.partitions import fan_out

    tok_arr = (
        F.col(text_col)
        if hashes
        else token_hash_expr(F.col(text_col))
    )
    toks = fan_out(docs).select(
        F.col(id_col), F.explode(F.array_distinct(tok_arr)).alias("__h")
    )
    votes = toks.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(
                F.shiftrightunsigned("__h", j).bitwiseAND(F.lit(_SIMHASH_LANE_MASK))
            ).alias(f"__p{j}")
            for j in range(16)
        ],
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        j, k = i % 16, i // 16
        ones = F.shiftrightunsigned(F.col(f"__p{j}"), 16 * k).bitwiseAND(
            F.lit(0xFFFF)
        )
        sig = sig + F.when(ones * 2 > F.col("__n"), _sig_bit(i)).otherwise(
            F.lit(0).cast("long")
        )
    sig = F.when(
        F.col("__n") >= _SIMHASH_FIELD_CAP,
        F.raise_error(
            F.lit(
                "simhash_signatures: a document has >= 2^16 distinct tokens; "
                "the 16-bit packed vote fields would wrap — widen the packing"
            )
        ),
    ).otherwise(sig)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def _simhash_chunks(signed: DataFrame, id_col: str) -> DataFrame:
    """Explode a 64-bit signature into its four 16-bit pigeonhole
    chunks — shared by the self-join (:func:`simhash_candidate_pairs`)
    and the batch-vs-index cross join
    (:func:`simhash_cross_candidates`)."""
    return signed.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                for i in range(4)
            ])
        ).alias("chunk_idx", "chunk_val"),
    )


def simhash_cross_candidates(
    batch_signed: DataFrame,
    index_signed: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int | None = None,
) -> DataFrame:
    """Pigeonhole candidate join of a NEW batch's signatures against
    a persisted signature INDEX — the incremental form of
    :func:`simhash_candidate_pairs`: no self-join, no batch-internal
    pairs; every candidate has one side in the batch and one in the
    index, so pair volume is proportional to the BATCH (times bucket
    occupancy), never index².  Same completeness bound: with four
    16-bit chunks, every pair within Hamming ≤ 3 shares a chunk.
    Output: (batch_id, index_id, hamming), deduped."""
    b = _simhash_chunks(batch_signed, id_col).alias("b")
    x = _simhash_chunks(index_signed, id_col).alias("x")
    pairs = b.join(
        x,
        (F.col("b.chunk_idx") == F.col("x.chunk_idx"))
        & (F.col("b.chunk_val") == F.col("x.chunk_val")),
    ).select(
        F.col(f"b.{id_col}").alias("batch_id"),
        F.col(f"x.{id_col}").alias("index_id"),
        F.bit_count(
            F.col("b.simhash").bitwiseXOR(F.col("x.simhash"))
        ).alias("hamming"),
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs.distinct()


def simhash_candidate_pairs(
    signed: DataFrame, id_col: str = "doc_id", max_hamming: int | None = None
) -> DataFrame:
    """Pigeonhole bucket join on 16-bit signature chunks.

    Hamming distance is computed IN the join projection so a
    ``max_hamming`` bound filters candidates BEFORE the dedup
    distinct — at sf0.1 that cuts the distinct's shuffle from ~1.3M
    multi-chunk-duplicate pairs to the ~100k that survive the bound
    (pigeonhole guarantees recall for max_hamming ≤ 3 with 4 chunks
    regardless)."""
    # Both self-join legs read the signatures, and the signature agg
    # (explode + 64 vote lanes) is the expensive stage — materialize
    # it once instead of once per leg.
    signed = signed.localCheckpoint(eager=False)
    chunked = _simhash_chunks(signed, id_col)
    l, r = chunked.alias("l"), chunked.alias("r")
    pairs = l.join(
        r,
        (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
        & (F.col("l.chunk_val") == F.col("r.chunk_val"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        F.bit_count(
            F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
        ).alias("hamming"),
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs.distinct()
