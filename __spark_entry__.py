"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship query (sf0.001 smoke).
``queries``  — one entry per implemented operator (SURVEY.md §2 +
               training-pipeline ops); each callable (spark, sf_dir) → DataFrame.
``oracle_sql`` — DuckDB-runnable ANSI SQL equivalents for every
               deterministically-SQL-expressible query; estimate-only /
               LSH-recall queries intentionally have no oracle (the
               driver records a rows-only check for those, and their
               error bounds are gated in tests/ instead).

Column names/aliases match between Spark and SQL on every oracle query
(the driver's compare hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from gostatix_spark import (dedup, packing, params, sampling, similarity,
                            textstats)
from gostatix_spark.agg import (bloom_build_sharded, cuckoo_apply_removals,
                                cuckoo_build, sketch_agg)
from gostatix_spark.query import (bloom_contains, bloom_contains_sharded,
                                  cms_counts, cuckoo_contains, hll_estimate,
                                  quantiles, topk_values)
from gostatix_spark.sources import load_sketches, save_sketches

HLL_M = 4096
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: HLL distinct-users-per-event-type on sf0.001, with the
    published-bound gate computed alongside the exact answer."""
    return q_hll_bound_gate(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# sketch queries
# ---------------------------------------------------------------------------


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate per event_type (estimate-only → no oracle; the
    3·1.04/√m bound for this exact pipeline is gated in q_hll_bound_gate
    and tests/test_agg_spark.py)."""
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, "hll", "user_id", key_col="event_type", m=HLL_M)
    return hll_estimate(states).select("event_type", "est_distinct")


def q_hll_bound_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checks |est − exact|/exact ≤ 3·1.04/√m per event_type. The
    oracle asserts the gate is ALWAYS true — the Spark side genuinely
    computes both the estimate and the exact count."""
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, "hll", "user_id", key_col="event_type", m=HLL_M)
    est = hll_estimate(states).select("event_type", "est_distinct")
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    bound = 3 * params.hll_accuracy(HLL_M)
    return (est.join(exact, "event_type")
            .select("event_type",
                    (F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                     / F.col("exact_distinct") <= bound).alias("within_bound"))
            )


def q_hll_intersect_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: pairwise distinct-user INTERSECTION estimates
    between event types by inclusion–exclusion over the mergeable
    sketches (query.hll_intersect_pairs), gated against the exact
    pairwise intersection at 3σ with the RSS error bound
    σ = (1.04/√m)·sqrt(est_a² + est_b² + est_union²). The Spark side
    genuinely computes both; the oracle asserts every pair passes."""
    from gostatix_spark.query import hll_intersect_pairs
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, "hll", "user_id", key_col="event_type",
                        m=HLL_M)
    est = hll_intersect_pairs(states, "event_type")
    # distinct (event_type, user_id) pairs first: repeat events by one
    # user would otherwise multiply the self-join's rows
    pairs = events.select("event_type", "user_id").distinct()
    ea = pairs.withColumnRenamed("event_type", "key_a")
    eb = pairs.withColumnRenamed("event_type", "key_b")
    exact = (ea.join(eb, "user_id")
             .where(F.col("key_a") < F.col("key_b"))
             .groupBy("key_a", "key_b")
             .agg(F.count("*").alias("exact_intersect")))
    sigma = params.hll_accuracy(HLL_M) * F.sqrt(
        F.col("est_a") ** 2 + F.col("est_b") ** 2 + F.col("est_union") ** 2)
    return (est.join(exact, ["key_a", "key_b"])
            .select("key_a", "key_b",
                    (F.abs(F.col("est_intersect")
                           - F.col("exact_intersect"))
                     <= 3 * sigma).alias("within_bound")))


def q_bloom_cardinality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swamidass–Baldi fill-ratio cardinality recovered from the bloom
    BITSET (query.bloom_cardinality) vs the exact distinct count —
    gated at 3% (generous: the estimator's σ at this fill is ≪1%).
    Deterministic: fixed hashes ⇒ fixed fill ⇒ fixed estimate."""
    from gostatix_spark.query import bloom_cardinality
    orders = _read(spark, sf_dir, "orders")
    # size the filter from the ROW count — an upper bound on distinct
    # custkeys answered from parquet metadata, replacing the former
    # exact-countDistinct .collect() pre-scan (VERDICT r3 #8). The
    # overprovisioned m only lowers the fill; the fill-ratio estimator
    # is unbiased at any fill. The exact distinct count the GATE needs
    # is computed inside the returned plan (one scan, no collect).
    n_upper = orders.count()
    states = sketch_agg(orders, "bloom", "o_custkey",
                        n=max(int(n_upper), 1), eps=0.01)
    exact_df = orders.agg(F.countDistinct("o_custkey").alias("_exact"))
    return (bloom_cardinality(states).crossJoin(exact_df)
            .select((F.abs(F.col("est_items") - F.col("_exact"))
                     / F.col("_exact").cast("double") <= 0.03)
                    .alias("within_bound")))


def q_cms_join_size_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from sketches alone (the planner's use
    case): CMS inner product over orders.o_custkey × customer.c_custkey
    (query.cms_inner_product) vs the EXACT join count, gated by the
    published guarantee — never underestimates, overestimate
    ≤ ε·‖a‖₁·‖b‖₁ with ε = e/w. Deterministic (fixed hashes)."""
    from gostatix_spark.query import cms_inner_product
    d, w = 7, 27183
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    # ONE scan per side (VERDICT r4 #6): aggregate to (key, count)
    # first — the exact side needs that GROUP BY anyway — and build
    # the CMS FROM the aggregated table via weight_col (CMS linearity
    # makes it bit-identical to the raw-row build,
    # count_min_sketch.go:60 Update(data, count)). The persisted
    # narrow aggregates (~1 distinct-key row each) feed both the
    # sketch build and the exact join; orders/customer are each
    # scanned exactly once.
    # coalesce(4): the aggregates are tiny, and every phase-1 partition
    # emits a d·w (1.5 MB) partial — 4 partials merge in one hop where
    # 32 would pay a 48 MB shuffle for no parallelism gain
    oa = orders.groupBy(F.col("o_custkey").alias("ck")) \
        .agg(F.count("*").alias("cnt_a")).coalesce(4).persist()
    ob = cust.groupBy(F.col("c_custkey").alias("ck")) \
        .agg(F.count("*").alias("cnt_b")).coalesce(4).persist()
    sa = sketch_agg(oa, "cms", "ck", element="int64", d=d, w=w,
                    weight_col="cnt_a").persist()
    sb = sketch_agg(ob, "cms", "ck", element="int64", d=d, w=w,
                    weight_col="cnt_b").persist()
    est_df = cms_inner_product(sa, sb)
    # exact join size as Σ_key cnt_a(key)·cnt_b(key); ‖a‖₁/‖b‖₁ for
    # the guarantee bound come from the cached states' n_items (= the
    # weighted totals). Everything composes into ONE lazy plan — the
    # whole gate is a single Spark action for the caller (r3 #7).
    exact_df = (oa.join(ob, "ck")
                .agg(F.coalesce(F.sum(F.col("cnt_a") * F.col("cnt_b")),
                                F.lit(0)).alias("_exact")))
    return (est_df
            .crossJoin(sa.select(F.col("n_items").alias("_na")))
            .crossJoin(sb.select(F.col("n_items").alias("_nb")))
            .crossJoin(exact_df)
            .select(((F.col("_exact") <= F.col("est_join_size"))
                     & (F.col("est_join_size") <= F.col("_exact")
                        + F.lit(float(np.e) / w) * F.col("_na")
                        * F.col("_nb"))).alias("within_bound")))


def q_cms_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point queries for every event type. d=5, w=2719 with ~5
    distinct keys → estimates are exact (deterministic hashing), so the
    exact GROUP BY is a valid oracle."""
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, "cms", "event_type", element="string",
                        d=5, w=2719)
    return (cms_counts(states, EVENT_TYPES, element="string")
            .select(F.col("item").alias("event_type"),
                    F.col("est_count").alias("cnt")))


def q_cms_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-side CMS: broadcast the merged sketch and annotate every
    row with its frequency estimate (``count_min_sketch.go:76-92``
    vectorized per Arrow batch), then distinct — with w ≫ distinct
    keys the estimates are exact, so GROUP BY count is the oracle."""
    from gostatix_spark.query import cms_count_col
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, "cms", "event_type", element="string",
                        d=5, w=2719)
    blob = bytes(states.collect()[0]["state"])
    return (events.select("event_type")
            .withColumn("est_count",
                        cms_count_col(spark, blob, F.col("event_type"),
                                      "string"))
            .distinct())


def q_topk_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Top-K (k=20) heavy hitters over lineitem.l_partkey,
    exact mode (candidate slack covers the true top-k; counts are the
    summed per-partition exact counts)."""
    li = _read(spark, sf_dir, "lineitem")
    states = sketch_agg(li, "topk", "l_partkey", k=20, eps=0.0001, slack=8)
    return (topk_values(states, exact=True, decode="int64")
            .select("rank", F.col("element").alias("l_partkey"),
                    F.col("est_count").alias("cnt")))


def q_topk_partkeys_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-semantics Top-K (counts are merged-CMS estimates).
    At driver-correctness scale (sf0.01) the CMS width dwarfs the
    distinct-key count, so estimates are exact w.h.p. and the exact
    GROUP BY oracles it (see oracle_sql); ε·N bounds at other scales
    are tested in tests/test_agg_spark.py."""
    li = _read(spark, sf_dir, "lineitem")
    states = sketch_agg(li, "topk", "l_partkey", k=20, eps=0.0001, slack=8)
    return (topk_values(states, exact=False, decode="int64")
            .select("rank", F.col("element").alias("l_partkey"),
                    F.col("est_count").alias("cnt")))


def q_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K heavy hitters over a STRING element (words of
    documents.text) — the canonical URL/domain-style workload; phase 1
    counts each Arrow batch with one C++ value_counts call and keeps
    the counts as Arrow arrays (kernels/topk.py BytesCounts), so Python
    touches only each partial's k·slack candidates. The word
    vocabulary (~31) is far below k·slack=160, so every partition's
    candidate set contains ALL distinct words and exact mode is
    guaranteed exact — the GROUP BY is a true oracle."""
    docs = _read(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    states = sketch_agg(words, "topk", "word", k=20, eps=0.0001, slack=8)
    return (topk_values(states, exact=True, decode="string")
            .select("rank", F.col("element").alias("word"),
                    F.col("est_count").alias("cnt")))


def q_topk_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memory-BOUNDED Top-K over a near-unique string column — the
    10⁹-distinct URL/doc-id workload shape (SURVEY.md T5 scale note):
    ~14.7k distinct elements (10 planted heavy hitters over a
    near-unique tail) against ``max_distinct=4096``, so every
    partition's phase-1 accumulator COMPACTS several times
    (``kernels/topk.py Counts.update_counts`` — tail counts spill to
    the partial's CMS, memory stays O(cap) regardless of column
    cardinality). Read back in CMS-estimate mode (the capped contract;
    exact=True raises on the capped state).

    Oracle validity: the CMS is sized (eps=1e-4 ⇒ w=27,183 ≫ 14.7k
    distinct) so the min-over-d=5-rows estimate equals the exact count
    w.h.p. (the hashing is deterministic — equality with the exact
    GROUP BY verified against DuckDB at sf0.001/0.01/0.1), making the
    exact GROUP BY a full value oracle: ranks, elements AND counts.
    (r5 used eps=2e-5 ⇒ w=135,915: each of 32 phase-1 partitions
    shipped a 5.4 MB d·w partial into ONE merge group — ~174 MB through
    a single reducer for no extra oracle margin; 1e-4 cuts that 5×.)"""
    li = _read(spark, sf_dir, "lineitem")
    elems = li.selectExpr(
        "CASE WHEN l_partkey % 20 = 0"
        " THEN concat('hot', cast(l_partkey % 200 as string))"
        " ELSE concat('u', cast(l_orderkey % 20000 as string)) END AS elem") \
        .repartition(32)  # single-file testdata → parallelize phase 1
    states = sketch_agg(elems, "topk", "elem", k=10, eps=0.0001,
                        slack=8, max_distinct=4096)
    return (topk_values(states, exact=False, decode="string")
            .select("rank", F.col("element").alias("elem"),
                    F.col("est_count").alias("cnt")))


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARDED bloom over all document ids, probe the same ids: a Bloom
    filter has NO false negatives, so `contained` is exactly TRUE for
    all. The sharded build (8 shards here) is the n=10⁹ scale path —
    no single filter blob ever exists; probes route by the shared
    shard_of rule and broadcast 8 small blobs instead of one ~1 GB one."""
    docs = _read(spark, sf_dir, "documents")
    n = docs.count()
    states = bloom_build_sharded(docs, "doc_id", n=max(n, 1), eps=0.01,
                                 n_shards=8)
    shard_map = {r["shard"]: bytes(r["state"]) for r in states.collect()}
    return docs.select("doc_id").withColumn(
        "contained", bloom_contains_sharded(spark, shard_map,
                                            F.col("doc_id"), "int64",
                                            n_shards=8))


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated semi join: prefilter orders by a SHARDED bloom
    of the selected customer keys, then exact semi join to drop the
    (possible) false positives — result equals the plain semi join; the
    bloom prunes the shuffle."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").where("c_custkey % 3 = 0")
    n = max(cust.count(), 1)
    states = bloom_build_sharded(cust, "c_custkey", n=n, eps=0.01, n_shards=4)
    shard_map = {r["shard"]: bytes(r["state"]) for r in states.collect()}
    pre = orders.where(bloom_contains_sharded(
        spark, shard_map, F.col("o_custkey"), "int64", n_shards=4))
    return (pre.join(cust, pre.o_custkey == cust.c_custkey, "left_semi")
            .select("o_orderkey"))


def q_cuckoo_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo insert→remove→lookup, FULLY DISTRIBUTED: sharded build
    over all supplier keys, removals routed to their shards as a
    DataFrame (vectorized batch-remove kernel, ``cuckoo_filter.go:
    128-144`` semantics), probe the odd keys via the broadcast shard
    states — no false negatives, so `contained` is exactly TRUE. No
    element ever passes through the driver (the round-1 version
    collected every key and removed in a Python loop)."""
    supp = _read(spark, sf_dir, "supplier")
    n_shards = 4
    states = cuckoo_build(supp, "s_suppkey", n_shards=n_shards, eps=0.001)
    removals = supp.where("s_suppkey % 2 = 0").select("s_suppkey")
    states = cuckoo_apply_removals(states, removals, "s_suppkey",
                                   n_shards=n_shards)
    shard_map = {r["shard"]: bytes(r["state"]) for r in states.collect()}
    odd = supp.where("s_suppkey % 2 = 1").select("s_suppkey")
    return odd.withColumn(
        "contained", cuckoo_contains(spark, shard_map, F.col("s_suppkey"),
                                     "int64", n_shards=n_shards))


def q_cuckoo_membership_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same insert→remove→lookup semantics as q_cuckoo_membership but
    probing through the BROADCAST-FREE path (`cuckoo_contains_join`):
    probes shuffle to their owning shard's state row and the lookup
    runs next to it in a sorted stream — the plan that still works when
    total filter state is tens of GB. Same oracle: no false negatives ⇒
    all TRUE."""
    from gostatix_spark.query import cuckoo_contains_join
    supp = _read(spark, sf_dir, "supplier")
    n_shards = 4
    states = cuckoo_build(supp, "s_suppkey", n_shards=n_shards, eps=0.001)
    removals = supp.where("s_suppkey % 2 = 0").select("s_suppkey")
    states = cuckoo_apply_removals(states, removals, "s_suppkey",
                                   n_shards=n_shards)
    odd = supp.where("s_suppkey % 2 = 1").select("s_suppkey")
    return cuckoo_contains_join(states, odd, "s_suppkey",
                                n_shards=n_shards)


def q_sketch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence round-trip: build a bloom → save_sketches (parquet
    sink with sketch_kind + snapshot lineage) → load_sketches → probe
    every inserted key through the LOADED state. Exercises the
    Export/Import/WriteTo/ReadFrom analog surface
    (``bloom_filter.go:124-139,246-320``) under the correctness gate:
    no false negatives ⇒ `contained` is TRUE for every key."""
    import shutil
    import tempfile
    cust = _read(spark, sf_dir, "customer")
    n = cust.count()
    states = sketch_agg(cust, "bloom", "c_custkey", n=max(n, 1), eps=0.01)
    tmp = tempfile.mkdtemp(prefix="gsx_roundtrip_")
    try:
        path = f"{tmp}/bloom_states"
        save_sketches(states, path, kind="bloom", source_ref=sf_dir)
        loaded = load_sketches(spark, path, kind="bloom")
        blob = bytes(loaded.collect()[0]["state"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return cust.select("c_custkey").withColumn(
        "contained", bloom_contains(spark, blob, F.col("c_custkey"), "int64"))


def _quantile_gate(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Per-event-type quantile sketch; gate = the estimated quantile's
    TRUE rank is within 0.05 of the requested q (the sketch's rank-error
    guarantee, checked genuinely against the data)."""
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, kind, "value", key_col="event_type")
    est = quantiles(states, [0.1, 0.5, 0.9])
    n_per = events.groupBy("event_type").agg(F.count("*").alias("_n"))
    ranked = (est.alias("e")
              .join(events.alias("ev"), "event_type")
              .groupBy("event_type", "q", "quantile_value")
              .agg(F.sum((F.col("ev.value") <= F.col("quantile_value"))
                         .cast("long")).alias("_below"))
              .join(n_per, "event_type"))
    return (ranked
            .select("event_type", "q",
                    (F.abs(F.col("_below") / F.col("_n") - F.col("q"))
                     <= 0.05).alias("within_bound"))
            )


def q_tdigest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles (north_rule sketch set) with rank-error gate."""
    return _quantile_gate(spark, sf_dir, "tdigest")


def q_kll_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles (north_rule sketch set) with rank-error gate."""
    return _quantile_gate(spark, sf_dir, "kll")


def q_quantile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw t-digest quantile estimates (estimate-only → rows-only)."""
    events = _read(spark, sf_dir, "events")
    states = sketch_agg(events, "tdigest", "value", key_col="event_type")
    return quantiles(states, [0.1, 0.5, 0.9])


# ---------------------------------------------------------------------------
# training-pipeline queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id") \
        .select("keep_id", "n_dupes")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                      threshold=0.5, block_col="source")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 11 != 0)
    sharing any word 3-gram with the held-out eval split
    (doc_id % 11 == 0). Bloom-prefiltered map-side, then exact-verified
    → result is EXACT and fully oracled. (Production default is
    n=13 per GPT-3; n=3 here so the sf-scale corpus actually overlaps.)"""
    docs = _read(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 11 != 0)
    ev = docs.where(F.col("doc_id") % 11 == 0)
    return (dedup.ngram_decontaminate(train, ev, "text", "doc_id", n=3)
            .orderBy("id"))


def q_dup_gram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-3-gram fraction per document
    (dedup.cross_doc_dup_fraction) — the cross-document complement of
    q:repetition_features' within-doc signals. Exact counts, fully
    oracled; the xxhash64 fingerprint scale path is pytest-gated
    equivalent. One row per doc (full result — the driver compare is
    order-insensitive, so no tie-sensitive LIMIT)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.cross_doc_dup_fraction(docs, "text", "doc_id", n=3)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified (LSH recall is
    probabilistic → rows-only check; precision is exact by construction).
    The sf tables are single parquet files, so the signature scan is
    repartitioned to parallelize the UDF."""
    docs = _read(spark, sf_dir, "documents").repartition(32)
    return (dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5,
                                      num_perm=64, bands=16)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, pigeonhole-complete) —
    hash-defined, not SQL-expressible → rows-only."""
    docs = _read(spark, sf_dir, "documents").repartition(32)
    sims = dedup.simhash(docs, "text", "doc_id")
    return dedup.simhash_near_pairs(sims, max_hamming=3)


def q_simhash_manku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku permuted-table SimHash at hamming ≤ 6 — the larger-radius
    scale path (one equi-join over C(8,2)=28 block-subset probe
    tables, 16-bit keys; dedup.simhash_manku_pairs). Hash-defined →
    rows-only; completeness and plain-pigeonhole equivalence are
    pytest-gated."""
    docs = _read(spark, sf_dir, "documents").repartition(32)
    sims = dedup.simhash(docs, "text", "doc_id")
    return dedup.simhash_manku_pairs(sims, max_hamming=6)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (textstats.token_stats(docs, "text", "doc_id")
            .select("doc_id", "n_ws_tokens", "n_chars",
                    F.round("avg_token_len", 6).alias("avg_token_len"),
                    "est_bpe_tokens"))


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return textstats.quality_features(docs, "text", "doc_id")


def q_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (textstats.py
    repetition_features): per-doc distinct-word / top-word / top- and
    dup-bigram fractions, all relational and doc-id-keyed."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.repetition_features(docs, "text", "doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return textstats.language_id(docs, "text", "doc_id") \
        .select("doc_id", "lang_guess")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return textstats.content_fingerprint(docs, "text", "doc_id")


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return textstats.scrub_pii(docs, "text", "doc_id")


def q_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed sketch: distinct users per (event_type, hour) —
    composite key demo; gate = estimates within the published bound
    (estimates themselves are rows-only; the gate has an oracle)."""
    # two consumers (sketch build + exact countDistinct) share the
    # repartition Exchange via ReuseExchange — an explicit persist was
    # A/B-measured SLOWER (cache write for no saved work)
    events = _read(spark, sf_dir, "events").repartition(32).withColumn(
        "etype_hour", F.concat_ws("|", "event_type",
                                  F.date_format(F.date_trunc("hour", "ts"),
                                                "yyyy-MM-dd HH")))
    states = sketch_agg(events, "hll", "user_id", key_col="etype_hour",
                        m=4096)
    est = hll_estimate(states).select("etype_hour", "est_distinct")
    exact = events.groupBy("etype_hour").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    # 1.04/√m is an asymptotic std error; for tiny per-window counts a
    # single register collision dominates, so gate on
    # |err| ≤ max(3·acc·exact, 3) — relative for large n, absolute ±3
    # (collision noise) for small n
    bound = 3 * params.hll_accuracy(4096)
    tol = F.greatest(F.col("exact_distinct") * bound, F.lit(3.0))
    return (est.join(exact, "etype_hour")
            .select("etype_hour",
                    (F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                     <= tol).alias("within_bound")))


def q_hll_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The many-key scale path of the HLL set algebra under the gate:
    user overlap between ADJACENT HOURS of each event type, computed
    with hll_intersect_pairs(pairs=...) — an explicit ~3k-row pair
    DataFrame (two equi-joins + vectorized register math) instead of
    the K²/2 ≈ 5.7M all-pairs join the default would run over these
    windowed keys. Gate: every adjacent-window intersection estimate
    within the RSS 3σ bound of the exact overlap (floor of ±9 for
    single-register collision noise on tiny windows — same rationale
    as q_windowed_hll's gate)."""
    from gostatix_spark.query import hll_intersect_pairs
    m = 4096
    # three consumers (states / window list / exact overlap) — persist
    # so the scan+repartition runs once, not per branch
    events = (_read(spark, sf_dir, "events").repartition(32)
              .withColumn("h", F.date_trunc("hour", "ts"))
              .withColumn("etype_hour",
                          F.concat_ws("|", "event_type",
                                      F.date_format("h", "yyyy-MM-dd HH")))
              .persist())
    # states feeds BOTH sides (key_a / key_b) of the pair scoring join
    # and the two-phase keyed HLL build is this query's most expensive
    # subtree (~3.7 s: 32 partitions × 3.4k keys of 4 KB partials) —
    # Catalyst does not dedup common subtrees, so without the persist
    # it ran TWICE inside the estimate branch. 3.4k final rows × 4 KB
    # ≈ 14 MB cached. (wins/pairs stay unpersisted: they are cheap
    # projections whose fresh plans keep their joins broadcastable —
    # persisting them was measured SLOWER, InMemoryRelation's default
    # stats turn the small-side joins into sort-merge.)
    states = sketch_agg(events, "hll", "user_id", key_col="etype_hour",
                        m=m).persist()
    wins = events.select("event_type", "h").distinct()
    key = lambda side: F.concat_ws(  # noqa: E731
        "|", F.col(f"{side}.event_type"),
        F.date_format(F.col(f"{side}.h"), "yyyy-MM-dd HH"))
    pairs = (wins.alias("a")
             .join(wins.alias("b"),
                   (F.col("a.event_type") == F.col("b.event_type"))
                   & (F.col("b.h") == F.col("a.h")
                      + F.expr("INTERVAL 1 HOUR")))
             .select(key("a").alias("key_a"), key("b").alias("key_b")))
    est = hll_intersect_pairs(states, "etype_hour", pairs=pairs)
    # exact overlap ONLY for the requested pairs: joining the pair list
    # first keeps the user self-join linear in (pairs × window users) —
    # an unrestricted users⋈users on user_id would enumerate every
    # co-occurring window pair (~67M rows at sf0.1) to then discard
    # all but the adjacent ones. users feeds both join sides: persist.
    users = events.select("etype_hour", "user_id").distinct().persist()
    exact = (pairs
             .join(users.alias("ua"),
                   F.col("key_a") == F.col("ua.etype_hour"))
             .join(users.alias("ub"),
                   (F.col("key_b") == F.col("ub.etype_hour"))
                   & (F.col("ua.user_id") == F.col("ub.user_id")))
             .groupBy("key_a", "key_b")
             .agg(F.count("*").alias("exact_overlap")))
    sigma = params.hll_accuracy(m) * F.sqrt(
        F.col("est_a") ** 2 + F.col("est_b") ** 2 + F.col("est_union") ** 2)
    tol = F.greatest(3 * sigma, F.lit(9.0))
    return (est.join(exact, ["key_a", "key_b"], "left")
            .select("key_a", "key_b",
                    (F.abs(F.col("est_intersect")
                           - F.coalesce("exact_overlap", F.lit(0)))
                     <= tol).alias("within_bound")))


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling murmur3 k-grams) — rows-only."""
    docs = _read(spark, sf_dir, "documents")
    return (textstats.winnowing_fingerprints(docs, "text", "doc_id")
            .select("doc_id", F.size("fingerprints").alias("n_fingerprints")))


SPLITS = {"train": 0.98, "val": 0.01, "test": 0.01}
MIX_FRACTIONS = {"src1": 0.8, "src2": 0.5, "src3": 0.25}
MIX_DEFAULT = 0.1


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment for every document —
    md5-hash-space partition (sampling.assign_split): disjoint,
    exhaustive, reproducible on any cluster size, zero shuffle. The
    DuckDB oracle recomputes the same md5 thresholds, so assignment is
    checked row-for-row."""
    docs = _read(spark, sf_dir, "documents")
    return (sampling.assign_split(docs, "doc_id", SPLITS)
            .select("doc_id", "split"))


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training-mix sampling: per-source keep fractions
    (sampling.stratified_sample — the deterministic sampleBy) with a
    default rate for unlisted sources. Narrow CASE filter, no shuffle;
    oracle recomputes the identical md5 draws."""
    docs = _read(spark, sf_dir, "documents")
    return (sampling.stratified_sample(docs, "doc_id", "source",
                                       MIX_FRACTIONS, default=MIX_DEFAULT)
            .select("doc_id", "source"))


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size-100 deterministic uniform sample of documents
    (sampling.reservoir_sample — k smallest md5 priorities;
    TakeOrderedAndProject, no global sort). The oracle recomputes the
    identical ORDER BY md5 LIMIT, so the sample is checked row-exact."""
    docs = _read(spark, sf_dir, "documents")
    return (sampling.reservoir_sample(docs, "doc_id", 100)
            .select("doc_id", "source"))


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding in the at-scale shape: 16 hash-prefix
    partitions, per-partition deterministic order + running-token
    cumsum, shard boundary every 1000 tokens (sampling.token_shards).
    The DuckDB oracle recomputes the identical windows, so shard
    assignment is checked row-for-row."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split(F.col("text"), " ")))
    return (sampling.token_shards(docs, "doc_id", "n_tok", budget=1000,
                                  part_hex_chars=1)
            .select("doc_id", "part", "shard"))


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf terms (textstats.distinctive_terms,
    linear idf): scores are tf·(N/df) — integer counts through one
    correctly-rounded IEEE division and multiplication, so the doubles
    are bit-identical across engines and the DuckDB oracle hashes
    ranks, terms, counts AND scores."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.distinctive_terms(docs, "text", "doc_id", k=3)
    return out.select("doc_id", F.col("rank").cast("int").alias("rank"),
                      "term", "tf", F.col("df").alias("dfreq"), "score")


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary (packing.build_vocab): whitespace
    tokens with count >= 2, ids dense 0-based under (count DESC, token
    ASC). Two-phase hash agg + TakeOrderedAndProject; the DuckDB
    oracle recomputes the identical ranking, so ids, counts and the
    tie-break are checked row-exact."""
    docs = _read(spark, sf_dir, "documents")
    return (packing.build_vocab(docs, "text", vocab_size=500, min_count=2)
            .select("token", F.col("count").alias("cnt"), "token_id"))


def q_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding (packing.encode_tokens) against a top-25
    vocabulary — small on purpose so real OOV traffic exercises the
    unk path. The id sequence itself is compared content-exactly via
    an md5 fingerprint of the space-joined ids (engine-portable; the
    DuckDB oracle rebuilds the same vocab, join and ordering)."""
    docs = _read(spark, sf_dir, "documents")
    vocab = packing.build_vocab(docs, "text", vocab_size=25)
    enc = packing.encode_tokens(docs, "doc_id", "text", vocab)
    return enc.select(
        "doc_id", "n_tok", "n_unk",
        F.md5(F.expr("array_join(transform(token_ids,"
                     " x -> cast(x as string)), ' ')")).alias("ids_fp"))


def q_decode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip decode (packing.decode_tokens) of q:encode_tokens'
    id sequences back through the same top-25 vocabulary. The decoded
    string must equal the source text with every out-of-vocabulary
    word replaced by '<unk>' — the DuckDB oracle computes that
    expected string DIRECTLY from the documents table (word-wise
    replacement), so the check closes the encode→decode loop against
    the source rather than against the encoder's own output."""
    docs = _read(spark, sf_dir, "documents")
    vocab = packing.build_vocab(docs, "text", vocab_size=25)
    enc = packing.encode_tokens(docs, "doc_id", "text", vocab)
    dec = packing.decode_tokens(enc, "doc_id", "token_ids", vocab)
    return dec.select("doc_id", "n_tok", "n_unk",
                      F.md5(F.col("text")).alias("text_fp"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (packing.pack_sequences) in the
    at-scale shape: 16 hash-prefix parts, per-part deterministic
    order + offset cumsum, 512-token packs, documents straddling pack
    boundaries. Each pack's content travels as an md5 fingerprint of
    its tokens in stream order, so the DuckDB oracle checks the packed
    STREAMS byte-for-byte, not just the bucketing."""
    docs = _read(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, "doc_id", "text", seq_len=512,
                                  part_hex_chars=1)


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the fifth dedup family), exact
    method over a bounded id range so the self-join stays square-root
    scale — deterministic and fully SQL-expressible, so DuckDB's
    list_cosine_similarity is a hard oracle. Ids only in the output
    (float cosine stays engine-internal to keep the value-hash stable).
    Threshold 0.35 sits in the synthetic embeddings' real upper tail
    (max pairwise cosine ≈ 0.48) so the oracle checks ~300 genuine
    pairs rather than a vacuous empty set. Oracle robustness (ADVICE
    r3): the nearest pairwise cosine to the threshold is ≥ 7.8e-6 away
    at every SF (measured 3.8e-5 / 2.9e-5 / 7.8e-6 at sf0.001/0.01/
    0.1) — orders of magnitude above the ~1e-15 summation-order
    discrepancy between the engines, so no pair can flip sides;
    tests/test_entry.py guards the margin against data regeneration."""
    # no input repartition: the blocked-matmul exact path reshuffles by
    # block hash immediately (its own parallelism knob), so an up-front
    # repartition of the single-file scan was one pure-overhead Exchange
    emb = _read(spark, sf_dir, "embeddings").where("vec_id < 1200")
    return (dedup.embedding_dedup_pairs(emb, "vec_id", "embedding",
                                        threshold=0.35, method="exact")
            .select("id_a", "id_b"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group clustering: connected components (alternating
    large/small-star, dedup.connected_components) over the oracled
    embedding-cosine near-dup pairs of q:embedding_dedup — the step
    that turns pairwise near-dups into keep-one-per-group decisions.
    The sf0.01 graph is non-trivial (~270 edges, ~75 components,
    largest ~59 nodes, diameter >> 1), so the star contraction
    genuinely iterates. Oracle: DuckDB recursive-CTE transitive
    closure over the same pair predicate — component = min reachable
    id; cluster_size via a window, making both the labels AND the
    group shapes value-checked."""
    pairs = q_embedding_dedup(spark, sf_dir)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("component")
    return cc.select(F.col("node").alias("vec_id"),
                     F.col("component").alias("cluster_id"),
                     F.count("*").over(w).alias("cluster_size"))


def q_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for the same operator: hyperplane-signature chunk
    candidates → exact cosine verify (recall < 1 by design → rows-only;
    precision exactness and planted-dup recall are pytest-gated).
    8-bit chunks: recall grows steeply with similarity (≈0.94 at
    cosine 0.9, where near-dup detection actually operates; true
    duplicates are never missed — identical signatures)."""
    emb = _read(spark, sf_dir, "embeddings").repartition(32)
    return (dedup.embedding_dedup_pairs(emb, "vec_id", "embedding",
                                        threshold=0.35, method="lsh",
                                        n_bits=64, n_chunks=8)
            .select("id_a", "id_b"))


def q_multimodal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary columns under the hard gate: every document's
    text is encoded into a REAL media payload — RIFF/WAVE PCM (stdlib
    ``wave``), zlib 'zraw' or a binary netpbm P5 image, routed doc_id
    mod 3 (multimodal.py:text_assets) — decoded back through the
    validating decode paths (each parses its actual container format
    and raises on corrupt payloads), and pooled features are extracted
    (decode_features). The oracle compares the DECODED text
    byte-for-byte against the source column, so a decode that
    fabricates or truncates a single byte in ANY of the three codecs
    hash-mismatches."""
    from gostatix_spark import multimodal
    docs = _read(spark, sf_dir, "documents").repartition(32)
    # assets feed two decode consumers — persist so the encode UDF runs
    # once, not once per downstream branch
    assets = multimodal.text_assets(docs, "text", "doc_id").persist()
    decoded = multimodal.decode_payloads(assets)
    feats = multimodal.decode_features(assets, out_dim=8)
    return (decoded.join(feats.select("asset_id",
                                      F.size("features").alias("feat_dim")),
                         "asset_id")
            .select(F.col("asset_id").alias("doc_id"),
                    F.col("payload").cast("string").alias("decoded_text"),
                    "n_samples", "feat_dim"))


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 3 vectors (ids only —
    float scores stay engine-internal)."""
    emb = _read(spark, sf_dir, "embeddings") \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = (emb.where("vec_id < 3")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (similarity.brute_force_topk(emb, queries, k=5)
            .select("q_id", "rank", "vec_id"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (similarity.build_ivf_index + ivf_topk): spherical-
    k-means coarse quantizer, table partitioned by centroid id,
    queries probe their nearest lists with static cid partition
    pruning. Run here at nprobe = n_centroids, where IVF provably
    equals exact brute force — a hard DuckDB oracle that the index
    partitions the corpus without losing or duplicating a single
    vector (the brute_force oracle SQL applies verbatim). The
    partial-probe recall/pruning behavior is pytest-gated
    (tests/test_pipeline_ops.py)."""
    import os
    import tempfile
    # no up-front repartition: the index build reshuffles by centroid
    # id before its partitioned write anyway, and the assign UDF over
    # one scan partition is a single small matmul — the old
    # repartition(32) was one extra full-table Exchange
    emb = _read(spark, sf_dir, "embeddings")
    # q_vec in double: float⊗double promotes per element, so the
    # cosine accumulates in double exactly like the oracle's
    # CAST(... AS DOUBLE[]) — near-tie ranks can't flip on precision
    queries = (emb.where("vec_id < 3")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").cast("array<double>")
                       .alias("q_vec")))
    # session-scoped scratch keyed by sf: outlives this function so the
    # returned plan stays LAZY (no .collect() materialization — r4
    # nit); each run overwrites in place, so nothing accumulates
    path = os.path.join(tempfile.gettempdir(),
                        f"gostatix_ivf_{os.path.basename(sf_dir.rstrip('/'))}")
    similarity.build_ivf_index(emb, path, n_centroids=16, train_rows=2000)
    return (similarity.ivf_topk(spark, path, queries, k=5, nprobe=16)
            .select("q_id", "rank", "vec_id"))


def q_ann_ivf_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at nprobe=4 of 16 — the recall/cost trade the index exists
    for, visible in the driver suite (VERDICT r4 #8): only the 4
    nearest inverted lists per query are scanned (static cid partition
    pruning), so recall < 1 by design → rows-only. The quantitative
    recall floor is pytest-gated (tests/test_pipeline_ops.py). Reuses
    q_ann_ivf's session-scoped index when its sidecar matches (the
    amortized build-once-probe-many usage); rebuilds otherwise."""
    import json
    import os
    import tempfile
    emb = _read(spark, sf_dir, "embeddings")
    queries = (emb.where("vec_id < 3")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").cast("array<double>")
                       .alias("q_vec")))
    path = os.path.join(tempfile.gettempdir(),
                        f"gostatix_ivf_{os.path.basename(sf_dir.rstrip('/'))}")
    need_build = True
    try:
        with open(os.path.join(path, "_ivf_index.json")) as f:
            p = json.load(f)
        need_build = p.get("n_centroids") != 16
    except (OSError, ValueError):
        pass
    if need_build:
        similarity.build_ivf_index(emb, path, n_centroids=16,
                                   train_rows=2000)
    return (similarity.ivf_topk(spark, path, queries, k=5, nprobe=4)
            .select("q_id", "rank", "vec_id"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (recall < 1 by design) — rows-only. dim is
    inferred worker-side from the vectors (no driver .first() sniff)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = (emb.where("vec_id < 3")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (similarity.lsh_topk(emb, queries, k=5,
                                n_bits=8, prefix_bits=2)
            .select("q_id", "rank", "vec_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "hll_users": q_hll_users,
        "hll_bound_gate": q_hll_bound_gate,
        "hll_intersect_gate": q_hll_intersect_gate,
        "bloom_cardinality_gate": q_bloom_cardinality_gate,
        "cms_join_size_gate": q_cms_join_size_gate,
        "cms_event_counts": q_cms_event_counts,
        "cms_annotate": q_cms_annotate,
        "topk_partkeys": q_topk_partkeys,
        "topk_partkeys_cms": q_topk_partkeys_cms,
        "topk_words": q_topk_words,
        "topk_capped": q_topk_capped,
        "bloom_membership": q_bloom_membership,
        "bloom_semijoin": q_bloom_semijoin,
        "cuckoo_membership": q_cuckoo_membership,
        "cuckoo_membership_join": q_cuckoo_membership_join,
        "sketch_roundtrip": q_sketch_roundtrip,
        # ann_ivf before ann_ivf_partial (the partial probe reuses the
        # session-scoped index); both moved UP from the dict tail after
        # the r5 driver correctness run was wall-clock-truncated before
        # its last two entries (VERDICT r5 #2) — dict order is the
        # driver's execution order, and nothing here depends on the
        # later queries
        "ann_ivf": q_ann_ivf,
        "ann_ivf_partial": q_ann_ivf_partial,
        "tdigest_gate": q_tdigest_gate,
        "kll_gate": q_kll_gate,
        "quantile_values": q_quantile_values,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_decontaminate": q_ngram_decontaminate,
        "dup_gram_fraction": q_dup_gram_fraction,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "simhash_manku": q_simhash_manku,
        "token_stats": q_token_stats,
        "quality_features": q_quality_features,
        "repetition_features": q_repetition_features,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "scrub_pii": q_scrub_pii,
        "windowed_hll_gate": q_windowed_hll,
        "hll_window_overlap": q_hll_window_overlap,
        "winnowing": q_winnowing,
        "multimodal_roundtrip": q_multimodal_roundtrip,
        "split_assign": q_split_assign,
        "mixture_sample": q_mixture_sample,
        "token_shards": q_token_shards,
        "reservoir_sample": q_reservoir_sample,
        "vocab_build": q_vocab_build,
        "encode_tokens": q_encode_tokens,
        "decode_tokens": q_decode_tokens,
        "pack_sequences": q_pack_sequences,
        "distinctive_terms": q_distinctive_terms,
        "embedding_dedup": q_embedding_dedup,
        "dedup_clusters": q_dedup_clusters,
        "embedding_dedup_lsh": q_embedding_dedup_lsh,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_lsh": q_ann_lsh,
    }


def oracle_sql() -> dict[str, str]:
    stop = {lg: ws for lg, ws in textstats.STOPWORDS.items()}

    def occ(expr: str, needle: str) -> str:
        n = needle.replace("'", "''")
        return (f"CAST((length({expr}) - length(replace({expr}, '{n}', '')))"
                f" / {len(needle)} AS BIGINT)")

    def stop_score(lang: str) -> str:
        padded = "concat(' ', lower(text), ' ')"
        return " + ".join(occ(padded, w) for w in stop[lang])

    lang_case = ("CASE WHEN " +
                 " = 0 AND ".join(f"s_{lg}" for lg in sorted(stop)) +
                 " = 0 THEN 'und' " +
                 " ".join(
                     f"WHEN s_{lg} = greatest(" +
                     ", ".join(f"s_{x}" for x in sorted(stop)) +
                     f") THEN '{lg}'" for lg in sorted(stop)) +
                 " END")

    punct = " + ".join(occ("text", c) for c in [".", ",", "!", "?", ";"])
    stop_en = " + ".join(occ("lower(text)", w) for w in stop["en"])

    return {
        "hll_bound_gate": (
            "SELECT DISTINCT event_type, TRUE AS within_bound FROM events"),
        "hll_intersect_gate": (
            "SELECT a.event_type AS key_a, b.event_type AS key_b,"
            " TRUE AS within_bound"
            " FROM (SELECT DISTINCT event_type FROM events) a"
            " JOIN (SELECT DISTINCT event_type FROM events) b"
            " ON a.event_type < b.event_type"),
        "bloom_cardinality_gate": "SELECT TRUE AS within_bound",
        "cms_join_size_gate": "SELECT TRUE AS within_bound",
        "cms_event_counts": (
            "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"),
        "cms_annotate": (
            "SELECT event_type, COUNT(*) AS est_count FROM events"
            " GROUP BY event_type"),
        "topk_partkeys": (
            "SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_partkey ASC)"
            " AS rank, l_partkey, COUNT(*) AS cnt FROM lineitem"
            " GROUP BY l_partkey ORDER BY cnt DESC, l_partkey ASC LIMIT 20"),
        "topk_words": (
            "WITH w AS (SELECT unnest(string_split(text, ' ')) AS word"
            " FROM documents)"
            " SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word ASC)"
            " AS rank, word, COUNT(*) AS cnt FROM w"
            " GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20"),
        # capped Top-K: CMS width (135,914) ≫ 14.7k distinct elems ⇒
        # estimates equal exact counts w.h.p. (deterministic hashing,
        # verified at sf0.01) — the GROUP BY oracles values incl. counts
        "topk_capped": (
            "WITH e AS (SELECT CASE WHEN l_partkey % 20 = 0"
            " THEN 'hot' || CAST(l_partkey % 200 AS VARCHAR)"
            " ELSE 'u' || CAST(l_orderkey % 20000 AS VARCHAR) END AS elem"
            " FROM lineitem)"
            " SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, elem ASC)"
            " AS rank, elem, COUNT(*) AS cnt FROM e"
            " GROUP BY elem ORDER BY cnt DESC, elem ASC LIMIT 10"),
        "bloom_membership": (
            "SELECT doc_id, TRUE AS contained FROM documents"),
        "bloom_semijoin": (
            "SELECT o_orderkey FROM orders WHERE o_custkey IN"
            " (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)"),
        "cuckoo_membership": (
            "SELECT s_suppkey, TRUE AS contained FROM supplier"
            " WHERE s_suppkey % 2 = 1"),
        "cuckoo_membership_join": (
            "SELECT s_suppkey, TRUE AS contained FROM supplier"
            " WHERE s_suppkey % 2 = 1"),
        "sketch_roundtrip": (
            "SELECT c_custkey, TRUE AS contained FROM customer"),
        # CMS-estimate Top-K: at sf0.01 w=27183 ≫ ~2k distinct partkeys,
        # so the min-over-d=5-rows estimate equals the exact count with
        # overwhelming probability (all-5-row collision odds ≈ 4e-3 for
        # the whole key set) — the exact GROUP BY is a valid oracle at
        # this scale, putting T5/M4 merge semantics under the hard gate
        "topk_partkeys_cms": (
            "SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_partkey ASC)"
            " AS rank, l_partkey, COUNT(*) AS cnt FROM lineitem"
            " GROUP BY l_partkey ORDER BY cnt DESC, l_partkey ASC LIMIT 20"),
        "tdigest_gate": (
            "SELECT event_type, q, TRUE AS within_bound FROM events"
            " CROSS JOIN (VALUES (0.1), (0.5), (0.9)) AS t(q)"
            " GROUP BY event_type, q"),
        "kll_gate": (
            "SELECT event_type, q, TRUE AS within_bound FROM events"
            " CROSS JOIN (VALUES (0.1), (0.5), (0.9)) AS t(q)"
            " GROUP BY event_type, q"),
        "dedup_exact": (
            "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes FROM documents"
            " GROUP BY md5(lower(trim(text)))"),
        "ngram_jaccard": ("""
            WITH grams AS (
              SELECT DISTINCT doc_id AS id, source,
                     concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
              FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
                    FROM documents),
                   UNNEST(range(len(w) - 2)) AS t(i)
              WHERE len(w) >= 3
            ), sizes AS (
              SELECT id, COUNT(*) AS n_grams FROM grams GROUP BY id
            ), common AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.source = b.source AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(common / (sa.n_grams + sb.n_grams - common), 6)
                     AS jaccard
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE common / (sa.n_grams + sb.n_grams - common) >= 0.5
        """),
        "ngram_decontaminate": ("""
            WITH grams AS (
              SELECT DISTINCT doc_id AS id,
                     concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                    FROM documents),
                   UNNEST(range(len(w) - 2)) AS t(i)
              WHERE len(w) >= 3
            ), ev AS (
              SELECT DISTINCT gram FROM grams WHERE id % 11 = 0
            )
            SELECT g.id, COUNT(*) AS n_hit_grams
            FROM grams g JOIN ev USING (gram)
            WHERE g.id % 11 <> 0
            GROUP BY g.id ORDER BY g.id
        """),
        "dup_gram_fraction": ("""
            WITH grams AS (
              SELECT DISTINCT doc_id AS id,
                     concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS gram
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                    FROM documents),
                   UNNEST(range(len(w) - 2)) AS t(i)
              WHERE len(w) >= 3
            ), dfreq AS (
              SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram
            )
            SELECT g.id,
                   COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_grams,
                   CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) AS dup_frac
            FROM grams g JOIN dfreq USING (gram)
            GROUP BY g.id
        """),
        "token_stats": (
            "SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,"
            " length(text) AS n_chars,"
            " round(length(text) / len(string_split(text, ' ')), 6)"
            "   AS avg_token_len,"
            " CAST(ceil(length(text) / 4) AS BIGINT) AS est_bpe_tokens"
            " FROM documents"),
        "quality_features": (
            "SELECT doc_id, length(text) AS n_chars,"
            " len(string_split(text, ' ')) AS n_words,"
            f" round(({punct}) / length(text), 6) AS punct_ratio,"
            f" round(({stop_en}) / len(string_split(text, ' ')), 6)"
            "   AS stopword_ratio,"
            " round(length(text) / len(string_split(text, ' ')), 6)"
            "   AS mean_word_len"
            " FROM documents"),
        "repetition_features": ("""
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split(text, ' ')) AS word,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents
            ), wc AS (
              SELECT doc_id, word, count(*) AS c
              FROM tok GROUP BY doc_id, word
            ), wagg AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                     count(*) AS n_distinct, max(c) AS top_w
              FROM wc GROUP BY doc_id
            ), bg AS (
              SELECT doc_id,
                     word || ' ' || lead(word) OVER
                       (PARTITION BY doc_id ORDER BY pos) AS bigram
              FROM tok
            ), bgc AS (
              SELECT doc_id, bigram, count(*) AS c
              FROM bg WHERE bigram IS NOT NULL GROUP BY doc_id, bigram
            ), bagg AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                     max(c) AS top_b,
                     CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                       AS dup_b
              FROM bgc GROUP BY doc_id
            )
            SELECT wagg.doc_id, n_words,
                   round(n_distinct / n_words, 6) AS distinct_word_frac,
                   round(top_w / n_words, 6) AS top_word_frac,
                   CASE WHEN n_bigrams IS NULL OR n_bigrams = 0
                        THEN CAST(0.0 AS DOUBLE)
                        ELSE round(top_b / n_bigrams, 6)
                   END AS top_bigram_frac,
                   CASE WHEN n_bigrams IS NULL OR n_bigrams = 0
                        THEN CAST(0.0 AS DOUBLE)
                        ELSE round(dup_b / n_bigrams, 6)
                   END AS dup_bigram_frac
            FROM wagg LEFT JOIN bagg ON wagg.doc_id = bagg.doc_id
        """),
        "lang_id": (
            "SELECT doc_id, " + lang_case + " AS lang_guess FROM ("
            "SELECT doc_id, " +
            ", ".join(f"({stop_score(lg)}) AS s_{lg}" for lg in sorted(stop)) +
            " FROM documents)"),
        "fingerprint": (
            "SELECT doc_id, md5(lower(trim(text))) AS fingerprint"
            " FROM documents"),
        "scrub_pii": (
            "SELECT doc_id, "
            + "regexp_replace(regexp_replace(regexp_replace(text, "
            + f"'{textstats.PII_PATTERNS['email']}', '<EMAIL>', 'g'), "
            + f"'{textstats.PII_PATTERNS['phone']}', '<PHONE>', 'g'), "
            + f"'{textstats.PII_PATTERNS['ssn']}', '<SSN>', 'g') AS scrubbed, "
            + ", ".join(
                f"len(regexp_split_to_array(text, "
                f"'{textstats.PII_PATTERNS[k]}')) - 1 AS n_{k}"
                for k in sorted(textstats.PII_PATTERNS))
            + " FROM documents"),
        "windowed_hll_gate": (
            "SELECT DISTINCT event_type || '|' || "
            "strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS etype_hour, "
            "TRUE AS within_bound FROM events"),
        "hll_window_overlap": (
            "WITH w AS (SELECT DISTINCT event_type,"
            " date_trunc('hour', ts) AS h FROM events)"
            " SELECT a.event_type || '|' || strftime(a.h, '%Y-%m-%d %H')"
            "   AS key_a,"
            " b.event_type || '|' || strftime(b.h, '%Y-%m-%d %H') AS key_b,"
            " TRUE AS within_bound"
            " FROM w a JOIN w b ON a.event_type = b.event_type"
            " AND b.h = a.h + INTERVAL 1 HOUR"),
        "multimodal_roundtrip": (
            "SELECT doc_id, text AS decoded_text,"
            " octet_length(CAST(text AS BLOB)) AS n_samples,"
            " 8 AS feat_dim FROM documents"),
        "split_assign": (
            "SELECT doc_id, CASE"
            " WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8)"
            f" < '{sampling.hex_threshold(SPLITS['train'])}' THEN 'train'"
            " WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8)"
            f" < '{sampling.hex_threshold(SPLITS['train'] + SPLITS['val'])}'"
            " THEN 'val'"
            " ELSE 'test' END AS split"
            " FROM documents"),
        "token_shards": (
            "WITH t AS (SELECT doc_id,"
            " len(string_split(text, ' ')) AS n_tok,"
            " md5(CAST(doc_id AS VARCHAR) || 'order') AS k"
            " FROM documents)"
            " SELECT doc_id, substr(k, 1, 1) AS part,"
            " CAST(floor(COALESCE(SUM(n_tok) OVER ("
            "   PARTITION BY substr(k, 1, 1) ORDER BY k"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            " / 1000) AS INT) AS shard"
            " FROM t"),
        "reservoir_sample": (
            "SELECT doc_id, source FROM documents"
            " ORDER BY md5(CAST(doc_id AS VARCHAR) || 'reservoir')"
            " LIMIT 100"),
        "distinctive_terms": (
            "WITH dt AS ("
            " SELECT doc_id, word AS term, CAST(COUNT(*) AS BIGINT) AS tf"
            " FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word"
            "       FROM documents)"
            " GROUP BY doc_id, word),"
            " tdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfreq"
            "         FROM dt GROUP BY term),"
            " n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs"
            "       FROM documents),"
            " scored AS ("
            " SELECT dt.doc_id, dt.term, dt.tf, tdf.dfreq,"
            " dt.tf * (n.n_docs / tdf.dfreq) AS score"
            " FROM dt JOIN tdf USING (term) CROSS JOIN n)"
            " SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id"
            "   ORDER BY score DESC, term ASC) AS INT) AS rank,"
            " term, tf, dfreq, score"
            " FROM scored QUALIFY rank <= 3"),
        "vocab_build": (
            "WITH wc AS ("
            " SELECT word AS token, CAST(COUNT(*) AS BIGINT) AS cnt"
            " FROM (SELECT unnest(string_split(text, ' ')) AS word"
            "       FROM documents)"
            " GROUP BY word HAVING COUNT(*) >= 2)"
            " SELECT token, cnt,"
            " CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1"
            "      AS INT) AS token_id"
            " FROM wc QUALIFY token_id < 500"),
        "encode_tokens": (
            "WITH wc AS ("
            " SELECT word AS token, COUNT(*) AS cnt"
            " FROM (SELECT unnest(string_split(text, ' ')) AS word"
            "       FROM documents)"
            " GROUP BY word),"
            " vocab AS ("
            " SELECT token,"
            " CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1"
            "      AS INT) AS token_id"
            " FROM wc QUALIFY token_id < 25),"
            " tok AS ("
            " SELECT doc_id,"
            " unnest(string_split(text, ' ')) AS word,"
            " unnest(range(0, len(string_split(text, ' ')))) AS pos"
            " FROM documents)"
            " SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,"
            " CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END)"
            "      AS BIGINT) AS n_unk,"
            " md5(string_agg(CAST(COALESCE(v.token_id, -1) AS VARCHAR),"
            "     ' ' ORDER BY t.pos)) AS ids_fp"
            " FROM tok t LEFT JOIN vocab v ON t.word = v.token"
            " GROUP BY t.doc_id"),
        "decode_tokens": (
            # expected decode(encode(text)) computed DIRECTLY from the
            # source: each word not in the top-25 vocab becomes '<unk>'
            "WITH wc AS ("
            " SELECT word AS token, COUNT(*) AS cnt"
            " FROM (SELECT unnest(string_split(text, ' ')) AS word"
            "       FROM documents)"
            " GROUP BY word),"
            " vocab AS ("
            " SELECT token,"
            " CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1"
            "      AS INT) AS token_id"
            " FROM wc QUALIFY token_id < 25),"
            " tok AS ("
            " SELECT doc_id,"
            " unnest(string_split(text, ' ')) AS word,"
            " unnest(range(0, len(string_split(text, ' ')))) AS pos"
            " FROM documents)"
            " SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,"
            " CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END)"
            "      AS BIGINT) AS n_unk,"
            " md5(string_agg(CASE WHEN v.token_id IS NULL THEN '<unk>'"
            "                     ELSE t.word END, ' ' ORDER BY t.pos))"
            "   AS text_fp"
            " FROM tok t LEFT JOIN vocab v ON t.word = v.token"
            " GROUP BY t.doc_id"),
        "pack_sequences": (
            "WITH base AS ("
            " SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'order') AS k,"
            " string_split(text, ' ') AS ws FROM documents),"
            " off AS ("
            " SELECT doc_id, substr(k, 1, 1) AS part, ws,"
            " COALESCE(SUM(len(ws)) OVER (PARTITION BY substr(k, 1, 1)"
            "   ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND"
            "   1 PRECEDING), 0) AS off"
            " FROM base),"
            " tok AS ("
            " SELECT part, doc_id,"
            " off + unnest(range(0, len(ws))) AS gpos,"
            " unnest(ws) AS word FROM off)"
            " SELECT part, CAST(gpos // 512 AS INT) AS pack,"
            " CAST(COUNT(*) AS BIGINT) AS n_tok,"
            " CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,"
            " md5(string_agg(word, ' ' ORDER BY gpos)) AS fingerprint"
            " FROM tok GROUP BY part, pack"),
        "mixture_sample": (
            "SELECT doc_id, source FROM documents WHERE "
            + " OR ".join(
                f"(source = '{s}' AND"
                " substr(md5(CAST(doc_id AS VARCHAR) || 'strata'), 1, 8)"
                f" < '{sampling.hex_threshold(f)}')"
                for s, f in MIX_FRACTIONS.items())
            + " OR (source NOT IN ("
            + ", ".join(f"'{s}'" for s in MIX_FRACTIONS)
            + ") AND substr(md5(CAST(doc_id AS VARCHAR) || 'strata'), 1, 8)"
            f" < '{sampling.hex_threshold(MIX_DEFAULT)}')"),
        "embedding_dedup": ("""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 1200)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.35
        """),
        "dedup_clusters": ("""
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 1200
            ), p AS (
              SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.35
            ), edges AS (
              SELECT ia AS s, ib AS t FROM p
              UNION ALL SELECT ib, ia FROM p
            ), reach(node, r) AS (
              SELECT s, s FROM edges
              UNION
              SELECT edges.t, reach.r
              FROM reach JOIN edges ON edges.s = reach.node
            ), labels AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            )
            SELECT node AS vec_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM labels
        """),
        "ann_bruteforce": ("""
            WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                       FROM embeddings WHERE vec_id < 3),
                 scored AS (
              SELECT q.q_id, e.vec_id,
                     list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.q_vec AS DOUBLE[])) AS cosine
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT q_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY cosine DESC, vec_id ASC)
                       AS rank
              FROM scored
            )
            SELECT q_id, rank, vec_id FROM ranked WHERE rank <= 5
        """),
        # at nprobe = n_centroids IVF probes every inverted list, so
        # the exact-top-k oracle applies verbatim — the gate proves the
        # index partitions the corpus losslessly
        "ann_ivf": ("""
            WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                       FROM embeddings WHERE vec_id < 3),
                 scored AS (
              SELECT q.q_id, e.vec_id,
                     list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.q_vec AS DOUBLE[])) AS cosine
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT q_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY cosine DESC, vec_id ASC)
                       AS rank
              FROM scored
            )
            SELECT q_id, rank, vec_id FROM ranked WHERE rank <= 5
        """),
    }
