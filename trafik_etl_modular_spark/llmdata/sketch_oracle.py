"""Outside-the-engine re-derivation of the xxhash64 sketches, for
DuckDB oracles.

The MinHash-LSH and SimHash queries were rows-only because their
sketches hash with ``xxhash64`` — an expression DuckDB doesn't have.
With :mod:`trafik_etl_modular_spark.llmdata.xxh64` (Spark-parity
XXH64, pinned by test) the sketch becomes reproducible OUTSIDE the
engine, so each query's oracle can freeze exactly the engine-specific
part — the LSH candidate set / the 64-bit signatures — and leave the
RELATIONAL work (exact-Jaccard verification, pigeonhole chunk join,
Hamming filter, dedup) to DuckDB itself.  Same pattern as the IVF
probe's derived oracle.

Derivations replicate ``llmdata/dedup.py`` semantics operation by
operation: split on a single space (trailing empties preserved, as
Spark's ``split`` with limit -1 does), token hash = xxhash64(utf-8),
shingle hash = chained xxhash64 over 3 token-hash longs, lane hash =
xxhash64(shingle_hash, lane:int), SIGNED min per lane, band hash =
xxhash64 of the comma-joined signed-long band slice.  The builders
also CROSS-CHECK hash-set Jaccard against string-set Jaccard and fail
loudly on any collision, so the oracle can never silently diverge.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from trafik_etl_modular_spark.llmdata import xxh64 as X

_U = np.uint64


def _load_documents(sf_dir: str) -> tuple[list[int], list[str]]:
    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    return t["doc_id"].to_pylist(), t["text"].to_pylist()


def _token_hashes(texts: list[str]) -> list[np.ndarray]:
    """Per doc: uint64 array of token hashes (split on ' ', Spark
    limit -1 semantics == str.split(' '))."""
    cache: dict[str, int] = {}
    out = []
    for text in texts:
        toks = text.split(" ")
        hs = np.empty(len(toks), dtype=np.uint64)
        for i, tok in enumerate(toks):
            h = cache.get(tok)
            if h is None:
                h = X.hash_string(tok)
                cache[tok] = h
            hs[i] = h
        out.append(hs)
    return out


def _shingle_hash_sets(token_h: list[np.ndarray], k: int = 3) -> list[np.ndarray]:
    """Per doc: DISTINCT shingle hashes (uint64, sorted) — the set
    semantics of hashed_shingles (order is irrelevant to min/Jaccard)."""
    # Vectorize the 3-long chain across the whole corpus.
    t1 = np.concatenate([h[:-2] if len(h) >= k else h[:0] for h in token_h])
    t2 = np.concatenate([h[1:-1] if len(h) >= k else h[:0] for h in token_h])
    t3 = np.concatenate([h[2:] if len(h) >= k else h[:0] for h in token_h])
    doc_idx = np.concatenate(
        [
            np.full(max(len(h) - (k - 1), 0), i, dtype=np.int64)
            for i, h in enumerate(token_h)
        ]
    )
    h = X.hash_long(t1, X.SPARK_SEED)
    h = X.hash_long(t2, h)
    h = X.hash_long(t3, h)
    out: list[np.ndarray] = [np.empty(0, dtype=np.uint64)] * len(token_h)
    if len(h):
        order = np.lexsort((h, doc_idx))
        d, hh = doc_idx[order], h[order]
        starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        for s, e in zip(starts, np.r_[starts[1:], len(d)]):
            out[d[s]] = np.unique(hh[s:e])
    return out


def _minhash_signatures(
    shingle_sets: list[np.ndarray], num_hashes: int = 64
) -> list[np.ndarray | None]:
    """Per doc: int64 signature (None when the doc has no shingles —
    the engine filters those out before signing)."""
    doc_idx = np.concatenate(
        [np.full(len(s), i, dtype=np.int64) for i, s in enumerate(shingle_sets)]
    )
    flat = (
        np.concatenate([s for s in shingle_sets])
        if len(doc_idx)
        else np.empty(0, dtype=np.uint64)
    )
    base = X.hash_long(flat, X.SPARK_SEED)  # seed-42 block, chained next
    starts = np.flatnonzero(np.r_[True, doc_idx[1:] != doc_idx[:-1]])
    sigs: list[np.ndarray | None] = [None] * len(shingle_sets)
    lane_cols = np.empty((num_hashes, len(flat)), dtype=np.int64)
    for s in range(num_hashes):
        lane_cols[s] = X.to_signed(X.hash_int(np.uint64(s), base))
    for si, s0 in enumerate(starts):
        e = starts[si + 1] if si + 1 < len(starts) else len(doc_idx)
        sigs[doc_idx[s0]] = lane_cols[:, s0:e].min(axis=1)
    return sigs


def _band_hash(sig: np.ndarray, band: int, rows_per_band: int) -> int:
    s = sig[band * rows_per_band : (band + 1) * rows_per_band]
    return X.hash_string(",".join(str(int(v)) for v in s))


def derive_minhash_candidates(
    sf_dir: str,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
    keep_ids: set | None = None,
) -> list[tuple[int, int]]:
    """The LSH candidate pair set, exactly as lsh_candidate_pairs
    produces it (band equi-buckets, id_a < id_b, hot-bucket cap).
    ``keep_ids`` restricts the corpus FIRST (a pipeline that gates
    before sketching buckets only the kept docs — bucket membership,
    and therefore the hot-bucket cap, must see the same subset)."""
    ids, texts = _load_documents(sf_dir)
    if keep_ids is not None:
        pairs_kept = [(i, t) for i, t in zip(ids, texts) if i in keep_ids]
        ids = [i for i, _ in pairs_kept]
        texts = [t for _, t in pairs_kept]
    sets = _shingle_hash_sets(_token_hashes(texts))
    sigs = _minhash_signatures(sets, num_hashes)
    rows_per_band = num_hashes // bands
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, sig in enumerate(sigs):
        if sig is None:
            continue
        for b in range(bands):
            buckets.setdefault((b, _band_hash(sig, b, rows_per_band)), []).append(
                ids[i]
            )
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        members = sorted(members)
        if max_bucket_size is not None:
            members = members[:max_bucket_size]
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                pairs.add((members[ai], members[bi]))
    return sorted(pairs)


def check_no_shingle_collisions(sf_dir: str) -> None:
    """Loud guard: hash-set Jaccard must equal string-set Jaccard for
    every doc (per-doc distinct counts agree), else the DuckDB oracle
    (string shingles) could diverge from the engine (hashed
    shingles).  A 64-bit collision inside a fixture would be
    astronomically unlucky — but if it happens, fail the BUILD, not
    the driver comparison."""
    _, texts = _load_documents(sf_dir)
    hsets = _shingle_hash_sets(_token_hashes(texts))
    for text, hs in zip(texts, hsets):
        toks = text.split(" ")
        strs = {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))}
        if len(strs) != len(hs):
            raise RuntimeError("shingle hash collision — oracle would diverge")


def derive_classifier_keep_ids(sf_dir: str, threshold: float = 0.0) -> set:
    """The quality classifier's keep set (llmdata/classifier.py),
    recomputed exactly: md5 feature buckets, integer weights, one
    final double division — the same arithmetic in Python."""
    import hashlib

    ids, texts = _load_documents(sf_dir)
    bcache: dict[str, int] = {}

    def bucket(term: str) -> int:
        v = bcache.get(term)
        if v is None:
            v = int(hashlib.md5(term.encode()).hexdigest()[:4], 16)
            bcache[term] = v
        return v

    def w(b: int) -> int:
        return (b * 2654435761) % 1001 - 500

    keep = set()
    for did, text in zip(ids, texts):
        ub = [bucket(t) for t in text.split(" ")]
        raw = sum(w(b) for b in ub) + sum(
            w((a * 31 + b) % 65536) for a, b in zip(ub, ub[1:])
        )
        if raw / (1000.0 * (2 * len(ub) - 1)) >= threshold:
            keep.add(did)
    return keep


def derive_simhash_signatures(sf_dir: str) -> list[tuple[int, int]]:
    """(doc_id, signed simhash) exactly as simhash_signatures: ±1
    votes per bit over DISTINCT token hashes, bit set on vote > 0."""
    ids, texts = _load_documents(sf_dir)
    cache: dict[str, int] = {}
    out = []
    for did, text in zip(ids, texts):
        seen = set()
        toks = []
        for tok in text.split(" "):  # array_distinct keeps first occurrence
            if tok not in seen:
                seen.add(tok)
                toks.append(tok)
        hs = np.empty(len(toks), dtype=np.uint64)
        for i, tok in enumerate(toks):
            h = cache.get(tok)
            if h is None:
                h = X.hash_string(tok)
                cache[tok] = h
            hs[i] = h
        sig = _U(0)
        for bit in range(64):
            ones = int(((hs >> _U(bit)) & _U(1)).sum())
            if ones * 2 > len(toks):  # vote = ones - (n - ones) > 0
                sig |= _U(1) << _U(bit)
        out.append((did, int(np.int64(sig))))
    return out
