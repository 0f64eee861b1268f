"""Deduplication operators for training-data pipelines.

Five families, all Spark-first:

* **exact** — hash-groupBy on a normalized content digest (built-in
  ``sha2``/``md5``, pure JVM, one shuffle on the digest).
* **MinHash + LSH** — shingle → minhash signature (vectorized numpy in
  one Arrow UDF) → band-bucket join → candidate pairs → exact-Jaccard
  verification. The classic near-dup pipeline (Broder '97; used by most
  LLM data pipelines).
* **SimHash** — 64-bit sign-of-weighted-sum fingerprint; near-dup
  candidates via chunk-equality buckets (pigeonhole on hamming ≤ 3) or
  Manku's block-subset tables for larger radii.
* **exact n-gram Jaccard** — explode + self-join + group count; fully
  relational (and therefore DuckDB-oracle-checkable), used as the
  ground-truth oracle for the approximate families.
* **embedding-cosine** — blocked-matmul all pairs, or hyperplane-LSH
  chunk buckets with an exact cosine re-check.

MinHash bands, SimHash chunks and block subsets, and the embedding
chunks are all bucket keys of one candidate join (:func:`_bucket_pairs`):
rows explode into (band, key) rows, an optional broadcast anti-join
drops hot buckets, and ONE self-join on (band, key) pairs them.

Scale notes: every pipeline here shuffles only (id, bucket/shingle)
pairs, never full texts, until the final small candidate join; bucket
joins are equi-joins Catalyst plans as sort-merge with AQE skew
splitting. The signature UDFs hash each Arrow batch's shingles with the
same vectorized murmur3 the sketches use.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from gostatix_spark import hashing

__all__ = ["exact_dedup", "minhash_signatures", "lsh_candidate_pairs",
           "minhash_dedup_pairs", "simhash", "simhash_near_pairs",
           "simhash_manku_pairs", "ngram_jaccard_pairs",
           "embedding_dedup_pairs", "connected_components",
           "ngram_decontaminate", "cross_doc_dup_fraction"]

_MERSENNE = (1 << 61) - 1
_P61 = np.uint64(_MERSENNE)


def _red61(v: np.ndarray) -> np.ndarray:
    """v mod (2^61−1) for v < 2^64 (two folds)."""
    v = (v & _P61) + (v >> np.uint64(61))
    v = (v & _P61) + (v >> np.uint64(61))
    return np.where(v >= _P61, v - _P61, v)


def _shift32_mod61(t: np.ndarray) -> np.ndarray:
    """(t · 2^32) mod (2^61−1) for t < 2^62, overflow-free."""
    t = _red61(t)
    hi = t >> np.uint64(29)             # < 2^32
    lo = t & np.uint64((1 << 29) - 1)   # < 2^29
    return _red61(hi + (lo << np.uint64(32)))


def _mulmod61(a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(a·x) mod (2^61−1) via 32-bit limb products — fully vectorized,
    no uint64 overflow. Broadcasts like ``a * x``."""
    m32 = np.uint64(0xFFFFFFFF)
    a_hi, a_lo = a >> np.uint64(32), a & m32
    x_hi, x_lo = x >> np.uint64(32), x & m32
    hh = _red61(a_hi * x_hi * np.uint64(8))          # ·2^64 ≡ ·8
    hl = _shift32_mod61(a_hi * x_lo + a_lo * x_hi)   # ·2^32
    ll = _red61(a_lo * x_lo)
    return _red61(hh + hl + ll)


def exact_dedup(df: DataFrame, text_col: str, id_col: str,
                normalize: bool = True) -> DataFrame:
    """Exact duplicate groups: one row per distinct content with the
    keeper id (min id) and the duplicate count. JVM-only plan:
    project → hash-aggregate on the digest."""
    content = F.col(text_col)
    if normalize:
        content = F.lower(F.trim(content))
    return (df
            .select(F.md5(content).alias("content_hash"), F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_dupes"))
            )


def _by_text(fn):
    """The Arrow UDF body that maps a text column's non-null values, as
    Python strings, through ``fn`` to an Arrow array of their rows; a
    null text reads as a null row."""
    def body(texts: pa.Array) -> pa.Array:
        if not texts.null_count:
            return fn(texts.to_pylist())
        valid = texts.is_valid().to_numpy(zero_copy_only=False)
        return fn(texts.drop_null().to_pylist()).take(
            pa.array(np.cumsum(valid) - 1, mask=~valid))
    body.__name__ = fn.__name__  # the UDF's name in plans
    return body


def _shingle_hashes_flat(texts: list, k: int
                         ) -> tuple[np.ndarray, np.ndarray]:
    """(flat murmur3-h1 hashes of every k-char shingle, (n+1,) doc
    offsets) — one batch-wide byte-matrix gather + one hash kernel
    call; NO per-doc dedup (callers that need distinct hashes unique
    per slice; min-reductions don't need it)."""
    bufs = []
    lens = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        b = t.lower().encode("utf-8") if isinstance(t, str) else bytes(t)
        if len(b) < k:
            b = b.ljust(k, b" ")
        bufs.append(b)
        lens[i] = len(b)
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    n_shingles = lens - k + 1
    # absolute start index of every shingle window across all docs
    win_starts = (np.repeat(starts, n_shingles)
                  + _concat_aranges(n_shingles))
    mat = flat[win_starts[:, None] + np.arange(k)[None, :]]
    h1, _ = hashing._VEC["murmur3"](mat, 0)
    return h1, np.concatenate(([0], np.cumsum(n_shingles)))


def _concat_aranges(counts: np.ndarray) -> np.ndarray:
    """[arange(c) for c in counts] concatenated, vectorized."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(counts)
    idx = np.arange(total)
    return idx - np.repeat(ends - counts, counts)


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 128, shingle_k: int = 5,
                       seed: int = 1) -> DataFrame:
    """[id, sig array<long>] — minhash over k-char shingles.

    Permutations are the standard universal-hash family
    ``(a·h + b) mod p`` (p = 2^61−1) over the shingle's 64-bit murmur
    hash; min per permutation. One numpy matmul-shaped min-reduce per
    doc, Arrow-batched. A null text gets a null signature.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm).astype(np.uint64)

    @F.arrow_udf(ArrayType(LongType()))
    @_by_text
    def sig(docs: list) -> pa.Array:
        # fully vectorized across the batch: one permutation row at a
        # time over ALL docs' shingle hashes (the per-doc temp stays
        # ~8 B/shingle, cache-friendly), then one minimum.reduceat per
        # row collapses to per-doc minima. min over duplicate shingles
        # equals min over distinct ones, so no per-doc np.unique; the
        # old per-doc python loop (unique + (64, n_i) perm matrix per
        # doc) dominated the signature stage.
        out = np.empty((num_perm, len(docs)), dtype=np.uint64)
        if docs:
            h1, offs = _shingle_hashes_flat(docs, shingle_k)
            h = _red61(h1)
            for j in range(num_perm):
                row = _red61(_mulmod61(a[j], h) + b[j])
                out[j] = np.minimum.reduceat(row, offs[:-1])
        return pa.ListArray.from_arrays(
            pa.array(np.arange(len(docs) + 1, dtype=np.int32) * num_perm),
            pa.array(out.T.astype(np.int64).ravel()))

    return df.select(F.col(id_col).alias("id"),
                     sig(F.col(text_col)).alias("sig"))


def _band_bucket_cols(num_perm: int, bands: int) -> list:
    """Per-band bucket columns over a ``sig`` array column. Bands are
    clamped to ``min(bands, num_perm)`` (a slice past the signature end
    would hash a constant empty array — every doc in one bucket →
    quadratic self-join) and the LAST band absorbs ``num_perm % bands``
    trailing values so no signature positions are silently dropped."""
    bands = min(bands, num_perm)
    rows_per_band = max(1, num_perm // bands)
    cols = []
    for i in range(bands):
        length = (rows_per_band if i < bands - 1
                  else num_perm - (bands - 1) * rows_per_band)
        cols.append(F.hash(F.slice("sig", i * rows_per_band + 1, length)))
    return cols


def _bucket_pairs(rows: DataFrame, keys: list,
                  max_bucket_size: int | None = None,
                  carry: tuple = ()) -> DataFrame:
    """The candidate join of every near-dup family: each row of
    ``rows`` lands in one bucket per key column, ``(band, key)`` with
    ``band`` the key's position in ``keys``, and ONE self-join on
    ``(band, key)`` with ``a.id < b.id`` pairs the rows that share a
    bucket. One shuffle of (id, band, key) rows, never one join per
    key. Output ``[id_a, id_b]`` plus ``<c>_a`` and ``<c>_b`` for each
    ``carry`` column; a pair sharing several buckets repeats, so
    callers dedup.

    ``max_bucket_size`` drops the buckets holding more rows than that
    (a cheap count + broadcast anti-join): a bucket of B rows adds B²
    join rows, so one hot key at corpus scale is a quadratic block. A
    pair is lost only if EVERY bucket it shares is hot."""
    banded = rows.select("id", *carry,
                         F.posexplode(F.array(*keys)).alias("band", "key"))
    if max_bucket_size:
        hot = (banded.groupBy("band", "key").count()
               .where(F.col("count") > max_bucket_size)
               .select("band", "key"))
        banded = banded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.key") == F.col("b.key"),
                       F.col("a.id") < F.col("b.id")])
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    *(F.col(f"{s}.{c}").alias(f"{c}_{s}")
                      for c in carry for s in "ab")))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 32,
                        num_perm: int | None = None) -> DataFrame:
    """Band the signatures and emit candidate pairs that share ≥1 band
    bucket. Relational core: per-band bucket = ``F.hash(F.slice(sig,
    ...))`` (order-deterministic, narrow — no shuffle before the join)
    → :func:`_bucket_pairs` self-join on (band, bucket) → distinct
    (a < b) pairs. Shuffles only (id, band, bucket-hash) rows.

    ``num_perm`` is required (callers know their signature length; a
    driver-side ``.first()`` sniff would add a hidden job).

    (Previous shape — posexplode → groupBy(id, band) →
    ``F.hash(collect_list(v))`` — depended on collect_list element
    order, which Spark does not guarantee across shuffles; slice keeps
    signature order by construction and drops the extra Exchange.)"""
    if num_perm is None:
        raise ValueError("num_perm is required (signature length)")
    return _bucket_pairs(sigs, _band_bucket_cols(num_perm, bands)).distinct()


def minhash_dedup_pairs(df: DataFrame, text_col: str, id_col: str,
                        threshold: float = 0.8, num_perm: int = 128,
                        bands: int = 16, shingle_k: int = 5,
                        seed: int = 1) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates →
    signature-agreement prefilter (JVM zip_with, unbiased Jaccard
    estimator) → verify survivors with the **exact** shingle Jaccard.
    Output: [id_a, id_b, jaccard] with jaccard ≥ threshold. Exactness
    of the verify step means the pipeline can only *miss* pairs
    (LSH/prefilter recall), never emit a false positive."""
    # signatures feed the band join plus both sides of the agreement
    # prefilter — persist so the UDF runs once per row
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k,
                              seed).persist()
    # The band join (lsh_candidate_pairs) carries ONLY (id, band,
    # bucket); candidate pairs are DEDUPED FIRST, then the signatures
    # re-attach for the agreement prefilter. On low-entropy corpora the raw band-collision output
    # is near-quadratic (≈1M rows from 5k docs here) while the distinct
    # pair set is ~20× smaller — and the prefilter's zip_with/aggregate
    # runs INTERPRETED per pair, so evaluating it on the raw join
    # output (the r4-r5 shape, which carried the sig through the join
    # to avoid re-join shuffles) burned ~6 s of lambda evaluation to
    # save a 16 MB id-pair shuffle. Dedup-first pays one narrow
    # shuffle of (id_a, id_b) rows; the signature re-attach joins a
    # doc-count-sized table (AQE broadcasts it when small) and the
    # estimator runs once per DISTINCT pair. Estimator semantics are
    # unchanged — est is a pure function of the pair, so filtering
    # before or after the dedup selects the same pairs.
    pair_ids = lsh_candidate_pairs(sigs, bands, num_perm)
    # JVM prefilter: fraction of agreeing permutations estimates Jaccard;
    # exact-verify only pairs estimated ≥ ~threshold (small slack for
    # estimator variance ≈ sqrt(t(1-t)/num_perm))
    slack = 2.0 * (threshold * (1 - threshold) / num_perm) ** 0.5
    est = F.aggregate(
        F.zip_with(F.col("_sa"), F.col("_sb"),
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x) / num_perm
    cands = (pair_ids
             .join(sigs.select(F.col("id").alias("id_a"),
                               F.col("sig").alias("_sa")), "id_a")
             .join(sigs.select(F.col("id").alias("id_b"),
                               F.col("sig").alias("_sb")), "id_b")
             .where(est >= threshold - slack)
             .select("id_a", "id_b"))
    # the prefiltered candidate set is small (survivors of the ≥threshold
    # estimate); materialize it so the cached signatures can be released
    # instead of pinning executor memory for the verify stage's lifetime
    cands = cands.localCheckpoint(eager=True)
    sigs.unpersist()
    # exact verify: materialize each CANDIDATE doc's distinct shingle-hash
    # array ONCE (a doc in P candidate pairs was previously re-shingled P
    # times, and full texts were shuffled into the pair join); the pair
    # join then carries only (id, hash-array) and intersects arrays.
    cand_ids = (cands.select(F.col("id_a").alias("id"))
                .unionByName(cands.select(F.col("id_b").alias("id")))
                .distinct())

    @F.arrow_udf(ArrayType(LongType()))
    @_by_text
    def sh_hashes(docs: list) -> pa.Array:
        # each doc's DISTINCT shingle hashes: |A∩B| = size(array_intersect)
        h1, offs = _shingle_hashes_flat(docs, shingle_k)
        hs = [np.unique(h1[offs[i]:offs[i + 1]]) for i in range(len(docs))]
        return pa.ListArray.from_arrays(
            pa.array(np.cumsum([0, *map(len, hs)], dtype=np.int32)),
            pa.array(np.concatenate([np.zeros(0, np.uint64), *hs])
                     .astype(np.int64)))

    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    cand_hashes = (texts.join(F.broadcast(cand_ids), "id")
                   .select("id", sh_hashes("_t").alias("_h")))
    paired = (cands
              .join(cand_hashes.select(F.col("id").alias("id_a"),
                                       F.col("_h").alias("_ha")), "id_a")
              .join(cand_hashes.select(F.col("id").alias("id_b"),
                                       F.col("_h").alias("_hb")), "id_b"))

    # exact Jaccard fully JVM-side: the hash arrays are distinct by
    # construction, so |A∩B| = size(array_intersect) exactly — stays in
    # whole-stage codegen instead of round-tripping every candidate
    # pair's arrays through Arrow into a Python UDF
    common = F.size(F.array_intersect("_ha", "_hb"))
    jaccard = (common.cast("double")
               / F.greatest(F.lit(1),
                            F.size("_ha") + F.size("_hb") - common))
    return (paired
            .withColumn("jaccard", jaccard)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """[id, simhash long] — 64-bit SimHash over whitespace words:
    sign of the count-weighted ±1 sum per bit of each word's murmur3
    hash. Vectorized: all words of an Arrow batch hashed at once,
    per-doc bit sums via ``np.add.reduceat``. A null text reads null."""
    @F.arrow_udf(LongType())
    @_by_text
    def sh(texts: list) -> pa.Array:
        words_per_doc = [t.lower().split() for t in texts]
        counts = [len(w) for w in words_per_doc]
        flat = [w.encode("utf-8") for ws in words_per_doc for w in ws]
        if not flat:
            return pa.array(np.zeros(len(texts), dtype=np.int64))
        h1, _ = hashing.hash_bytes_batch(flat, "murmur3")
        bits = ((h1[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int64) * 2 - 1
        offsets = np.concatenate(([0], np.cumsum(counts)))[:-1]
        # reduceat quirks: indices must be < len, and an empty segment
        # copies the row at its index — clip, then zero empty docs
        offsets = np.minimum(offsets, max(0, len(bits) - 1))
        sums = np.add.reduceat(bits, offsets, axis=0)
        empty = np.array(counts) == 0
        sums[empty] = 0
        sig = (sums > 0).astype(np.uint64)
        vals = np.zeros(len(texts), dtype=np.uint64)
        for j in range(64):
            vals |= sig[:, j] << np.uint64(j)
        return pa.array(vals.astype(np.int64))

    return df.select(F.col(id_col).alias("id"), sh(F.col(text_col)).alias("simhash"))


def _hamming_pairs(sims: DataFrame, keys: list, max_hamming: int,
                   max_bucket_size: int | None, eager: bool) -> DataFrame:
    """The SimHash verify tail: candidate pairs sharing a bucket of
    ``keys`` (:func:`_bucket_pairs`, carrying ``simhash``), the exact
    hamming distance (``bit_count(xor)``, JVM-side) kept when ≤
    ``max_hamming`` — BEFORE the distinct: the survivors are few, and
    duplicates across buckets drop on that small set. Output:
    [id_a, id_b, hamming].

    ``eager``: the signature table is cached for the join (both sides
    and the optional hot-bucket count read it, so an upstream UDF runs
    once, not once per consumer), the verified pair set materialized,
    and the cache RELEASED before returning — repeated calls in one
    session don't accumulate pinned signature tables (the same
    lifecycle as ``minhash_dedup_pairs``). ``eager=False`` returns the
    fully lazy plan and does NOT persist: for plan inspection or
    composition into a larger lazy pipeline, with the caller owning any
    caching of ``sims``."""
    if eager:
        sims = sims.persist()
    out = (_bucket_pairs(sims, keys, max_bucket_size, carry=("simhash",))
           .withColumn("hamming", F.bit_count(
               F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
           .where(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b", "hamming")
           .distinct())
    if eager:
        out = out.localCheckpoint(eager=True)
        sims.unpersist()
    return out


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3,
                       n_chunks: int | None = None,
                       max_bucket_size: int | None = None,
                       eager: bool = True) -> DataFrame:
    """Near-dup candidates by pigeonhole: split the 64-bit simhash into
    ``n_chunks`` (default ``max_hamming + 1``) bit ranges; hamming ≤
    max_hamming ⇒ at least one chunk matches exactly, so pairs sharing
    a (chunk, value) bucket are ALL such pairs (no recall loss). Each
    row is exploded into its ``n_chunks`` chunk values and ONE
    equi-join on (chunk, value) finds them — the Manku scheme of
    :func:`simhash_manku_pairs` with single-block tables. Exact hamming
    is re-checked JVM-side (``bit_count(xor)``). Output:
    [id_a, id_b, hamming].

    Cost/selectivity trade-off: more chunks → complete for larger
    hamming radii but narrower chunks → bigger candidate buckets.

    ``max_bucket_size`` bounds the candidate volume at extreme scale:
    a chunk value shared by B docs contributes O(B²) join rows, so one
    hot 16-bit value at 10⁹ docs is a quadratic block. With the cap,
    chunk-i buckets larger than the cap are excluded from the join
    (a cheap count + broadcast anti-join). Recall trade, like
    ``ngram_jaccard_pairs(max_gram_df=...)``: a pair is lost only if
    EVERY chunk where it matches is hot — pairs matching in any cold
    chunk are still found. Default off for pigeonhole completeness.

    ``eager`` (default) caches the signature table for the join,
    materializes the (small) verified pair set and releases the cache
    before returning; ``eager=False`` returns the fully lazy plan and
    persists nothing (see :func:`_hamming_pairs`).
    """
    if n_chunks is None:
        n_chunks = min(16, max_hamming + 1)
    bounds = np.linspace(0, 64, n_chunks + 1).astype(int)
    chunks = [F.shiftrightunsigned(F.col("simhash"), int(lo))
              .bitwiseAND(F.lit((1 << int(hi - lo)) - 1))
              for lo, hi in zip(bounds[:-1], bounds[1:])]
    return _hamming_pairs(sims, chunks, max_hamming, max_bucket_size, eager)


def simhash_manku_pairs(sims: DataFrame, max_hamming: int = 6,
                        n_blocks: int = 8,
                        max_bucket_size: int | None = None,
                        eager: bool = True) -> DataFrame:
    """Complete hamming-≤k candidate generation for LARGER radii than
    the plain pigeonhole can afford, after Manku/Jain/Sarma's permuted-
    table scheme ("Detecting Near-Duplicates for Web Crawling", WWW'07
    §3): split the 64-bit simhash into ``n_blocks`` equal blocks; a
    pair within hamming k differs in ≤ k blocks, so at least
    ``n_blocks − k`` blocks match — and therefore SOME
    (n_blocks−k)-subset of blocks matches exactly. One probe table per
    such subset, keyed by that subset's concatenated bits, finds every
    pair (no recall loss), with a key (n_blocks−k)/n_blocks·64 bits
    wide — far more selective than the plain pigeonhole's single
    64/(k+1)-bit chunk at the same radius (k=6: 16-bit keys over 28
    tables vs 9-bit chunks whose buckets go quadratic).

    Execution shape (the 100-TB consideration): rather than
    C(n_blocks, n_blocks−k) separate self-joins, each row is EXPLODED
    into its C table keys — (id, tbl, key) rows — and ONE equi-join on
    (tbl, key) produces all candidates (:func:`_bucket_pairs`): a
    single shuffle whose input is C× the signature table (k=6 ⇒
    28×64-bit keys per doc, still ≪ the text), never C plan-duplicated
    scans. ``max_bucket_size`` caps hot (tbl, key) buckets exactly like
    :func:`simhash_near_pairs`. Output: [id_a, id_b, hamming].

    ``eager`` semantics as in :func:`simhash_near_pairs`.
    """
    from itertools import combinations
    if 64 % n_blocks:
        raise ValueError("n_blocks must divide 64")
    if not 0 < max_hamming < n_blocks:
        raise ValueError("need 0 < max_hamming < n_blocks")
    w = 64 // n_blocks
    m = n_blocks - max_hamming  # blocks that must match exactly
    blocks = [F.shiftrightunsigned(F.col("simhash"), i * w)
              .bitwiseAND(F.lit((1 << w) - 1)) for i in range(n_blocks)]
    keys = []
    for combo in combinations(range(n_blocks), m):
        key = F.lit(0).cast("long")
        for i in combo:
            key = F.shiftleft(key, w).bitwiseOR(blocks[i])
        keys.append(key)
    return _hamming_pairs(sims, keys, max_hamming, max_bucket_size, eager)


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        block_col: str | None = None,
                        max_gram_df: int | None = None) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all pairs (optionally
    blocked by ``block_col`` to bound the join) — fully relational:

    shingles(id, gram) → self-join on gram → |A∩B| per pair →
    jaccard = common / (|A| + |B| − common).

    This is the ground-truth oracle for the MinHash pipeline and is
    DuckDB-expressible (driver oracle). Output: [id_a, id_b, jaccard].

    ``max_gram_df`` (default off, preserving exactness): drop grams
    shared by more than that many docs from the *pairing* join. A gram
    in T docs contributes a T² candidate block — at 100 TB one hot
    boilerplate gram ("all rights reserved …") makes the self-join
    quadratic. Near-dup pairs share many grams, of which the hot ones
    are a small fraction, so capping slightly *underestimates* jaccard
    (per-doc gram counts in the denominator are NOT capped) and can
    only drop pairs sitting exactly at the threshold — planted-dup
    recall is tested in tests/test_pipeline_ops.py.
    """
    # three consumers (sizes + both self-join sides) and Catalyst does
    # not dedup common subtrees: checkpoint so the corpus-scale
    # explode+distinct (and its shuffle) runs once, not three times
    # (same pattern as cross_doc_dup_fraction)
    grams = _word_grams(df, text_col, id_col, n,
                        block_col=block_col).localCheckpoint(eager=False)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    join_grams = grams
    if max_gram_df is not None:
        # one extra hash-agg on (gram) — cheap next to the self-join it caps
        rare = (grams.groupBy("gram")
                .agg(F.count("*").alias("_df"))
                .where(F.col("_df") <= max_gram_df)
                .select("gram"))
        join_grams = grams.join(rare, "gram")
    a = join_grams.alias("a")
    b = join_grams.alias("b")
    join_cond = [F.col("a.gram") == F.col("b.gram"), F.col("a.id") < F.col("b.id")]
    if block_col:
        join_cond.append(F.col("a._blk") == F.col("b._blk"))
    common = (a.join(b, join_cond)
              .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
              .agg(F.count("*").alias("common")))
    return (common
            .join(sizes.withColumnRenamed("id", "id_a")
                  .withColumnRenamed("n_grams", "na"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b")
                  .withColumnRenamed("n_grams", "nb"), "id_b")
            .withColumn("jaccard", F.col("common")
                        / (F.col("na") + F.col("nb") - F.col("common")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def embedding_dedup_pairs(emb: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding", *,
                          threshold: float = 0.9, method: str = "lsh",
                          n_bits: int = 64, n_chunks: int = 8,
                          seed: int = 9,
                          max_bucket_size: int | None = None,
                          exact_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ``[id_a, id_b, cosine]``
    with cosine ≥ threshold — the fifth dedup family (exact, MinHash,
    SimHash, n-gram Jaccard, embedding-cosine).

    ``method='exact'``: all-pairs cosine via BLOCKED MATMUL — rows hash
    into ``exact_blocks`` groups, every unordered block pair becomes one
    task whose pairwise-cosine matrix is a single numpy matmul (each
    block ships ``exact_blocks`` times: total shuffle is n·blocks rows,
    never n² — and the n² arithmetic runs vectorized instead of one
    interpreted ``zip_with``/``aggregate`` fold per pair, which the
    optimizer additionally pushed into the nested-loop join condition
    where it was evaluated for BOTH orderings of every pair).
    Quadratic by nature: the verification/oracle path, fine for bounded
    id ranges only.

    ``method='lsh'`` (the 100 TB path): random-hyperplane signature
    (one matmul per Arrow batch, :func:`similarity.hyperplane_signature`)
    → candidate pairs from ONE equi-join on (chunk, value) over the
    ``n_chunks`` chunk values (the SimHash pigeonhole machinery,
    :func:`_bucket_pairs` — complete for signature hamming ≤ n_chunks−1,
    which at threshold t covers expected hamming n_bits·arccos(t)/π;
    ``max_bucket_size`` bounds hot buckets) → EXACT cosine re-check on
    candidates only. Precision is exact by construction; recall < 1
    with the standard LSH trade."""
    from gostatix_spark import similarity

    va = F.col("_va").cast("array<double>")
    vb = F.col("_vb").cast("array<double>")
    if method == "exact":
        return _exact_pairs_blocked(emb, id_col, vec_col, threshold,
                                    exact_blocks)
    if method != "lsh":
        raise ValueError(f"unknown method {method!r} (exact | lsh)")
    # one band-style join over the chunk values (_bucket_pairs): a pair
    # matching on any chunk is a candidate — pigeonhole-complete for
    # signature hamming ≤ n_chunks−1
    sigs = (similarity.hyperplane_signature(emb, vec_col, None, n_bits, seed)
            .select(F.col(id_col).alias("id"), "lsh_sig"))
    width = max(1, n_bits // n_chunks)
    chunks = [F.shiftrightunsigned("lsh_sig", i * width)
              .bitwiseAND(F.lit((1 << width) - 1)) for i in range(n_chunks)]
    cands = _bucket_pairs(sigs, chunks, max_bucket_size).distinct()
    unit = similarity.unit_vector_col(F.col(vec_col))
    va_side = emb.select(F.col(id_col).alias("id_a"), unit.alias("_va"))
    vb_side = emb.select(F.col(id_col).alias("id_b"), unit.alias("_vb"))
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (cands.join(va_side, "id_a").join(vb_side, "id_b")
            .withColumn("cosine", dot)
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def _exact_pairs_blocked(emb: DataFrame, id_col: str, vec_col: str,
                         threshold: float, n_blocks: int) -> DataFrame:
    """All-pairs cosine ≥ threshold by blocked matmul (see
    :func:`embedding_dedup_pairs` ``method='exact'``). Each row lands in
    block ``xxhash64(id) mod n_blocks``; one task per unordered block
    pair computes its cosine sub-matrix with numpy and emits the
    surviving ``(id_a, id_b, cosine)`` rows with ``id_a < id_b``.
    Vectors are L2-normalized in float64, so the cosine equals the
    unit-vector dot product (summation order differs from a left-fold
    by O(ulp) — callers thresholding near-ties should keep the margin
    analysis of their oracle, as q:embedding_dedup does)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = emb.schema[id_col].dataType
    out_schema = StructType([
        StructField("id_a", id_type, True),
        StructField("id_b", id_type, True),
        StructField("cosine", DoubleType(), True)])
    nb = max(1, int(n_blocks))
    sides = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int")
        .alias("_blk"))
    blocks = sides.groupBy("_blk").agg(
        F.collect_list(F.struct(F.col("_id"), F.col("_v"))).alias("_rows"))
    bp = (blocks.alias("a")
          .join(blocks.alias("b"), F.col("a._blk") <= F.col("b._blk"))
          .select(F.col("a._blk").alias("_ba"), F.col("b._blk").alias("_bb"),
                  F.col("a._rows").alias("_ra"), F.col("b._rows").alias("_rb"))
          # one task per block pair: each carries two O(n/nb) vector
          # lists and does an O((n/nb)²·dim) matmul — spread them
          .repartition(nb * (nb + 1) // 2, "_ba", "_bb"))
    thr = float(threshold)

    def _unit(rows: pa.ListScalar) -> tuple[np.ndarray, np.ndarray]:
        ids = rows.values.field("_id").to_numpy(zero_copy_only=False)
        X = np.stack(rows.values.field("_v").to_numpy(zero_copy_only=False))
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        return ids, X / norms

    def score(batches):
        for batch in batches:
            id_t = batch["_ra"].type.value_type.field("_id").type
            for ra, rb, same in zip(batch["_ra"], batch["_rb"], pc.equal(
                    batch["_ba"], batch["_bb"]).to_pylist()):
                if len(ra) == 0 or len(rb) == 0:
                    continue
                ia, A = _unit(ra)
                if same:
                    ib, B = ia, A
                else:
                    ib, B = _unit(rb)
                S = A @ B.T
                if same:
                    # upper triangle by id: each unordered pair once
                    ii, jj = np.nonzero((S >= thr)
                                        & (ia[:, None] < ib[None, :]))
                    lo, hi = ia[ii], ib[jj]
                else:
                    # distinct blocks hold distinct ids; order per pair
                    ii, jj = np.nonzero(S >= thr)
                    lo = np.minimum(ia[ii], ib[jj])
                    hi = np.maximum(ia[ii], ib[jj])
                yield pa.RecordBatch.from_arrays(
                    [pa.array(lo, id_t), pa.array(hi, id_t),
                     pa.array(S[ii, jj])], ["id_a", "id_b", "cosine"])

    return bp.mapInArrow(score, out_schema) \
        .select("id_a", "id_b", "cosine")


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b", max_iter: int = 25
                         ) -> DataFrame:
    """Connected components over an undirected edge list — the cluster
    step of a dedup pipeline (near-dup pairs → duplicate groups →
    keep one canonical doc per group).

    Algorithm: alternating **large-star / small-star** contractions
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    ACM SoCC 2014) — each round is two node-keyed shuffles (a groupBy
    computing every node's minimum neighbour and an equi-join
    scattering it back), and the edge set provably contracts to star
    forests (every node → its component's minimum id) in O(log²ⁿ)
    rounds. This is the 100-TB-safe choice over naive min-label
    propagation, whose round count is the graph DIAMETER (a duplicate
    chain of length k needs k rounds; large/small-star needs ~log k).

    The loop stops on the deterministic star test — no node appears as
    both a member (``u``) and a centre (``v``), and no member has two
    centres — i.e. both transformations are no-ops, NOT on a
    probabilistic checksum. Edge state is ``localCheckpoint()``-ed per
    round so lineage stays O(1) across iterations instead of doubling
    the plan each round.

    Returns one row per non-isolated node: ``(node, component)`` with
    ``component`` = the smallest node id in its component. Callers
    wanting isolated nodes labelled too should left-join this onto
    their node list and coalesce to the node id.
    """
    # canonical down-pointing form: (u, v) with u > v, deduped
    e = (pairs.select(F.col(a_col).cast("long").alias("x"),
                      F.col(b_col).cast("long").alias("y"))
              .where(F.col("x") != F.col("y"))
              .select(F.greatest("x", "y").alias("u"),
                      F.least("x", "y").alias("v"))
              .distinct()
              .localCheckpoint())

    def large_star(edges: DataFrame) -> DataFrame:
        # for every node n: m = min(N(n) ∪ {n}); emit (w, m) for each
        # neighbour w > n. Needs the symmetric neighbour view.
        # NO dedup here: duplicate edges never change any min, the next
        # small_star's groupBy absorbs them, and every .distinct() in
        # the loop body is one more Exchange + AQE stage round-trip —
        # the loop's actual cost on contracted edge sets. Transient
        # growth is bounded (each input edge yields ≤ 2 emissions).
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                   .select("u", F.least("u", "mn").alias("m")))
        return (sym.join(mins, "u")
                   .where(F.col("v") > F.col("u"))
                   .select(F.col("v").alias("u"), F.col("m").alias("v"))
                   .where(F.col("u") != F.col("v")))

    def small_star(edges: DataFrame, dedup: bool) -> DataFrame:
        # canonical edges group by u = exactly the smaller neighbours
        # N⁻(u); m = min(N⁻(u)); emit (w, m) for w ∈ N⁻(u)\{m} plus
        # (u, m) itself. ``dedup`` is applied only on the LAST round
        # before a checkpoint/test (the star test's multi-centre count
        # needs a deduped edge set; intermediate rounds don't).
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        out = (edges.join(mins, "u")
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .where(F.col("u") != F.col("v"))
                    .union(mins.select("u", F.col("m").alias("v"))))
        return out.distinct() if dedup else out

    for _ in range(max_iter):
        # CONTRACT FIRST, test after: the first star test almost
        # always finds violations on a real near-dup graph, so the
        # pre-test of the raw edges was a wasted driver action;
        # running a contraction round on an already-converged input
        # is a provable no-op, so the reorder can never change the
        # result. TWO contraction rounds per checkpoint+test: the
        # test costs a driver action either way, extra rounds past
        # convergence are no-ops, and round count is O(log² n) —
        # halving the action count costs at most one no-op round.
        e = small_star(large_star(e), dedup=False)
        e = small_star(large_star(e), dedup=True).localCheckpoint(eager=False)
        # star test: members (u) and centres (v) disjoint, one centre
        # per member — equivalently both stars are no-ops. ONE
        # aggregation + ONE action (the driver round-trips and AQE
        # stage count, not the row counts, dominate on contracted edge
        # sets): per node n, su = #edges where n is a member, sv = n
        # seen as a centre; violation ⇔ (member AND centre) OR
        # (member of > 1 centre — su counts exact edges because the
        # round above ended in .distinct()). The count also
        # materializes this round's lazy checkpoint, so each round is
        # a single job.
        roles = (e.select(F.col("u").alias("n"),
                          F.lit(1).alias("iu"), F.lit(0).alias("iv"))
                  .union(e.select(F.col("v").alias("n"),
                                  F.lit(0).alias("iu"),
                                  F.lit(1).alias("iv"))))
        n_viol = (roles.groupBy("n")
                       .agg(F.sum("iu").alias("su"), F.max("iv").alias("sv"))
                       .where(((F.col("su") > 0) & (F.col("sv") > 0))
                              | (F.col("su") > 1))
                       .count())
        if n_viol == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large+small-star rounds — the paper bound is O(log² n); "
            "raise max_iter only if the input really has ~2^(sqrt("
            f"{max_iter})) nodes")

    centers = e.select(F.col("v").alias("node"),
                       F.col("v").alias("component")).distinct()
    members = e.select(F.col("u").alias("node"),
                       F.col("v").alias("component"))
    return members.union(centers)


def _word_grams(df: DataFrame, text_col: str, id_col: str,
                n: int, distinct: bool = True,
                block_col: str | None = None) -> DataFrame:
    """[id, gram] — DISTINCT lower-cased word ``n``-grams per document
    (split on single spaces, matching the DuckDB-oracle convention used
    across this module). Pure JVM expressions: split → sequence →
    transform(slice → concat_ws) → explode; no Python in the path.
    ``block_col`` is carried through as ``_blk`` (between id and gram).

    ``distinct=False`` skips the (id, gram) dedup shuffle — for callers
    that filter the exploded grams first and dedup the (far smaller)
    survivor set themselves; a row-wise gram predicate commutes with
    the dedup, so the result is identical."""
    words = F.split(F.lower(F.col(text_col)), " ")
    out = (df.select(F.col(id_col).alias("id"),
                     *([F.col(block_col).alias("_blk")] if block_col else []),
                     words.alias("w"))
           .where(F.size("w") >= n)
           .select("id", *(["_blk"] if block_col else []),
                   F.explode(F.expr(
                       f"transform(sequence(0, size(w)-{n}), "
                       f"i -> concat_ws(' ', slice(w, i+1, {n})))"))
                   .alias("gram")))
    return out.distinct() if distinct else out


def ngram_decontaminate(train: DataFrame, eval_df: DataFrame,
                        text_col: str, id_col: str, *, n: int = 13,
                        n_shards: int = 4, eps: float = 1e-3) -> DataFrame:
    """Benchmark decontamination: find training documents sharing at
    least one word ``n``-gram with an evaluation/benchmark set — the
    GPT-3-style overlap rule (Brown et al. 2020 used 13-grams; the
    reference library has no such op, this is brief-driven pipeline
    surface). Output ``[id, n_hit_grams]``: one row per CONTAMINATED
    training doc with the count of its distinct overlapping grams —
    exact, so DuckDB-oracle-checkable.

    Scale shape (the asymmetry is the whole design): the eval side is
    small by definition (benchmark suites: 10³–10⁶ docs) while train is
    the 100-TB side. Train-side grams are filtered MAP-SIDE by a
    sharded Bloom filter built over the distinct eval grams
    (:func:`gostatix_spark.agg.bloom_build_sharded`, broadcast blobs,
    no false negatives), so the only train rows that reach a shuffle
    are true hits plus an ``eps`` fraction of false positives; those
    survivors are verified with an exact broadcast semi join against
    the eval grams (killing the FPs — the result is EXACT), then one
    partial-aggregated groupBy on the doc id. Nothing data-sized is
    collected: the two driver actions here (eval-gram count for Bloom
    sizing, shard-blob collect) touch only the small side.

    The eval-gram DataFrame stays persisted until the returned plan is
    consumed (it feeds both the Bloom build and the verify join);
    Spark evicts it LRU, or the caller may ``spark.catalog.clearCache()``
    after materializing the result."""
    from gostatix_spark.agg import bloom_build_sharded
    from gostatix_spark.query import bloom_contains_sharded

    ev = _word_grams(eval_df, text_col, id_col, n, distinct=False) \
        .select("gram").distinct().persist()
    n_ev = ev.count()
    # train side: raw (id, gram) rows — the Bloom prefilter and exact
    # semi join are row-wise gram predicates, so they COMMUTE with the
    # per-doc dedup. Filtering first means the corpus-scale explode
    # never shuffles: only true hits (+ the eps FP sliver) reach the
    # survivor distinct, where the old shape paid a full (id, gram)
    # dedup shuffle of every training gram before filtering any.
    tr = _word_grams(train, text_col, id_col, n, distinct=False)
    if n_ev:
        spark = train.sparkSession
        states = bloom_build_sharded(ev, "gram", n=n_ev, eps=eps,
                                     element="string", n_shards=n_shards)
        shard_map = {r["shard"]: bytes(r["state"])
                     for r in states.collect()}
        tr = tr.where(bloom_contains_sharded(spark, shard_map,
                                             F.col("gram"), "string",
                                             n_shards=n_shards))
    return (tr.join(F.broadcast(ev), "gram", "left_semi")
            .distinct()
            .groupBy("id")
            .agg(F.count("*").alias("n_hit_grams")))


def cross_doc_dup_fraction(df: DataFrame, text_col: str, id_col: str,
                           *, n: int = 8,
                           fingerprint: bool = False) -> DataFrame:
    """Corpus-level duplicate-n-gram fraction per document: for each
    doc, the share of its DISTINCT word ``n``-grams that also occur in
    at least one OTHER document. The cross-document complement of the
    within-doc signals in :func:`textstats.repetition_features` —
    MassiveText-style corpora gate on both (Rae et al. 2021 §A1.2:
    within-doc repetition filters; near-dup/overlap filters across
    docs). High ``dup_frac`` marks boilerplate, mirrors and template
    spam that per-doc quality scores cannot see. Output
    ``[id, n_grams, n_dup_grams, dup_frac]`` — exact counts, so
    DuckDB-oracle-checkable.

    Plan shape: distinct (id, gram) pairs → one partial-aggregated
    ``groupBy(gram)`` for document frequency → equi-join back on gram →
    one ``groupBy(id)``. Nothing is collected; no Python anywhere.
    The gram table feeds BOTH join sides, and Catalyst does not dedup
    common subtrees — without materialization the corpus-scale
    explode+distinct (including its shuffle) would run twice — so it
    is ``localCheckpoint(eager=False)``-ed: computed once at the first
    action, lineage truncated, both branches read the checkpointed
    blocks (the same pattern as :func:`connected_components`). The DF
    side stays a partial-aggregated groupBy (hot-gram-immune); the
    join probe side's gram skew is AQE-splittable.

    Scale path (``fingerprint=True``): long string grams dominate the
    two gram-keyed shuffles at corpus scale, so hash each gram to a
    JVM-side ``xxhash64`` BIGINT first — shuffle rows shrink from
    ~n×8 string bytes to 8 bytes, everything downstream is identical.
    A collision (2⁻⁶⁴ per pair) can only merge two grams' doc sets,
    i.e. nudge ``df`` up — equivalence with the exact path is
    pytest-gated at test scale. Hot grams (millions-of-docs
    boilerplate) skew the join's gram partitions; df_counts is one
    row per gram so AQE's skew-join split handles the big side.
    """
    grams = _word_grams(df, text_col, id_col, n)
    if fingerprint:
        grams = grams.select("id", F.xxhash64("gram").alias("gram"))
    grams = grams.localCheckpoint(eager=False)
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    return (grams.join(dfreq, "gram")
            .groupBy("id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
                  .alias("n_dup_grams"))
            .withColumn("dup_frac",
                        F.col("n_dup_grams") / F.col("n_grams")))
