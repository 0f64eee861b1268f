"""End-to-end Spark tests for the two-phase aggregation (SURVEY.md §5.2:
error-bound gates, partition invariance, global fold invariant)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gostatix_spark import params, sketches
from gostatix_spark.agg import cuckoo_build, sketch_agg
from gostatix_spark.corpus import corpus_df
from gostatix_spark.kernels import hll as hll_kernel
from gostatix_spark.query import (bloom_contains, cms_count_col, cms_counts,
                                  cuckoo_contains, hll_estimate, topk_values)
from gostatix_spark.state import sketch_from_bytes

N_DOCS = 2000


@pytest.fixture(scope="module")
def corpus(spark):
    df = corpus_df(spark, N_DOCS, seed=42, partitions=8).cache()
    df.count()
    return df


class TestHLLAgg:
    def test_distinct_tokens_per_source_within_bound(self, spark, corpus):
        m = 4096
        states = sketch_agg(corpus, "hll", "tokens", key_col="source", m=m)
        got = {r["source"]: r["est_distinct"]
               for r in hll_estimate(states).collect()}
        exact = {r["source"]: r["exact"]
                 for r in corpus.select("source", F.explode("tokens").alias("t"))
                 .groupBy("source").agg(F.countDistinct("t").alias("exact"))
                 .collect()}
        assert set(got) == set(exact)
        bound = 3 * params.hll_accuracy(m)
        for s in exact:
            rel = abs(got[s] - exact[s]) / exact[s]
            assert rel <= bound, (s, got[s], exact[s])

    def test_intersect_pairs_inclusion_exclusion(self, spark):
        """hll_intersect_pairs: planted overlapping id sets — the
        estimate must sit within the RSS 3σ bound of the TRUE
        intersection for every pair, and est_a/est_b/est_union must be
        self-consistent (est_intersect = est_a + est_b − est_union)."""
        from gostatix_spark.query import hll_intersect_pairs
        m = 4096
        # groups: g0 = [0, 20k), g1 = [10k, 30k), g2 = [25k, 45k)
        spans = {"g0": (0, 20000), "g1": (10000, 30000),
                 "g2": (25000, 45000)}
        df = None
        for g, (lo, hi) in spans.items():
            part = spark.range(lo, hi).select(
                F.lit(g).alias("grp"), F.col("id").alias("uid"))
            df = part if df is None else df.unionByName(part)
        states = sketch_agg(df, "hll", "uid", key_col="grp", m=m)
        rows = hll_intersect_pairs(states, "grp").collect()
        assert len(rows) == 3
        acc = params.hll_accuracy(m)
        for r in rows:
            (a_lo, a_hi), (b_lo, b_hi) = spans[r["key_a"]], spans[r["key_b"]]
            true = max(0, min(a_hi, b_hi) - max(a_lo, b_lo))
            sigma = acc * (r["est_a"] ** 2 + r["est_b"] ** 2
                           + r["est_union"] ** 2) ** 0.5
            assert r["est_intersect"] == \
                r["est_a"] + r["est_b"] - r["est_union"]
            assert r["est_jaccard"] == pytest.approx(
                r["est_intersect"] / r["est_union"])
            assert abs(r["est_intersect"] - true) <= 3 * sigma, \
                (r, true, sigma)

    def test_intersect_pairs_explicit_subset(self, spark):
        """The scale path: an explicit [key_a, key_b] pairs DataFrame
        replaces the K² all-pairs join — output must contain exactly
        the requested pairs, with values identical to the all-pairs
        run (same sketches, same math)."""
        from gostatix_spark.query import hll_intersect_pairs
        df = None
        for g, (lo, hi) in {"g0": (0, 8000), "g1": (4000, 12000),
                            "g2": (10000, 18000)}.items():
            part = spark.range(lo, hi).select(
                F.lit(g).alias("grp"), F.col("id").alias("uid"))
            df = part if df is None else df.unionByName(part)
        states = sketch_agg(df, "hll", "uid", key_col="grp", m=1024)
        all_rows = {(r["key_a"], r["key_b"]): r.asDict()
                    for r in hll_intersect_pairs(states, "grp").collect()}
        pairs = spark.createDataFrame([("g0", "g1"), ("g1", "g2")],
                                      "key_a string, key_b string")
        sub = {(r["key_a"], r["key_b"]): r.asDict()
               for r in hll_intersect_pairs(states, "grp",
                                            pairs=pairs).collect()}
        assert set(sub) == {("g0", "g1"), ("g1", "g2")}
        for k, row in sub.items():
            assert row == all_rows[k], k
        # a requested pair with a sketch-less key is VISIBLE as a null
        # row, never silently dropped (ADVICE r4: left-join semantics)
        pairs2 = spark.createDataFrame([("g0", "g1"), ("g0", "ghost")],
                                       "key_a string, key_b string")
        rows2 = {(r["key_a"], r["key_b"]): r.asDict()
                 for r in hll_intersect_pairs(states, "grp",
                                              pairs=pairs2).collect()}
        assert set(rows2) == {("g0", "g1"), ("g0", "ghost")}
        ghost = rows2[("g0", "ghost")]
        assert all(ghost[c] is None for c in
                   ("est_a", "est_b", "est_union", "est_intersect",
                    "est_jaccard"))
        assert rows2[("g0", "g1")] == all_rows[("g0", "g1")]

    def test_partition_invariance_bytewise(self, spark, corpus):
        blobs = []
        for nparts in (1, 4, 8):
            states = sketch_agg(corpus.repartition(nparts), "hll", "tokens", m=1024)
            blobs.append(states.collect()[0]["state"])
        regs = [sketch_from_bytes(bytes(b)).registers for b in blobs]
        assert np.array_equal(regs[0], regs[1])
        assert np.array_equal(regs[1], regs[2])

    def test_tree_merge_same_result(self, spark, corpus):
        a = sketch_agg(corpus, "hll", "tokens", m=1024)
        b = sketch_agg(corpus, "hll", "tokens", m=1024, tree_fanout=3)
        ra = sketch_from_bytes(bytes(a.collect()[0]["state"])).registers
        rb = sketch_from_bytes(bytes(b.collect()[0]["state"])).registers
        assert np.array_equal(ra, rb)


class TestCMSInnerProduct:
    def test_join_size_bound_and_no_underestimate(self, spark):
        """Planted frequency vectors with a known true join size:
        a = {k: 3 copies, k<100}; b = {k: 2 copies, 50<=k<150} →
        true Σ f_a·f_b = 50·3·2 = 300. The estimate must satisfy
        true ≤ est ≤ true + (e/w)·|a|·|b|."""
        import numpy as np
        from gostatix_spark.query import cms_inner_product
        d, w = 7, 2719
        a = spark.range(100).withColumn(
            "x", F.explode(F.array(*[F.lit(i) for i in range(3)]))) \
            .select(F.col("id").alias("k"))
        b = spark.range(50, 150).withColumn(
            "x", F.explode(F.array(*[F.lit(i) for i in range(2)]))) \
            .select(F.col("id").alias("k"))
        sa = sketch_agg(a, "cms", "k", element="int64", d=d, w=w)
        sb = sketch_agg(b, "cms", "k", element="int64", d=d, w=w)
        est = cms_inner_product(sa, sb).collect()[0]["est_join_size"]
        true = 300
        assert true <= est <= true + (np.e / w) * 300 * 200, est

    def test_weighted_build_equals_row_build_bytewise(self, spark):
        """CMS linearity: building from a pre-aggregated (key, count)
        table with weight_col must equal the raw-row build
        BIT-FOR-BIT (the reference's Update(data, count),
        count_min_sketch.go:60) — matrix, all_sum, and n_items."""
        rows = spark.range(500).selectExpr("id % 37 AS k")
        agg_tbl = rows.groupBy("k").agg(F.count("*").alias("cnt"))
        plain = sketch_agg(rows, "cms", "k", element="int64", d=5, w=271)
        weighted = sketch_agg(agg_tbl, "cms", "k", element="int64",
                              d=5, w=271, weight_col="cnt")
        b_plain = bytes(plain.collect()[0]["state"])
        b_weighted = bytes(weighted.collect()[0]["state"])
        assert b_plain == b_weighted
        assert weighted.collect()[0]["n_items"] == 500
        # keyed variant too
        krows = spark.range(600).selectExpr("id % 3 AS g", "id % 41 AS k")
        kagg = krows.groupBy("g", "k").agg(F.count("*").alias("cnt"))
        p = {r["g"]: bytes(r["state"]) for r in
             sketch_agg(krows, "cms", "k", key_col="g", element="int64",
                        d=5, w=271).collect()}
        w_ = {r["g"]: bytes(r["state"]) for r in
              sketch_agg(kagg, "cms", "k", key_col="g", element="int64",
                         d=5, w=271, weight_col="cnt").collect()}
        assert p == w_
        # gated to the count-linear kind
        with pytest.raises(ValueError, match="weight_col"):
            sketch_agg(agg_tbl, "hll", "k", element="int64", m=64,
                       weight_col="cnt")

    def test_dim_mismatch_raises(self, spark):
        from gostatix_spark.query import cms_inner_product
        sa = sketch_agg(spark.range(10), "cms", "id", element="int64",
                        d=5, w=271)
        sb = sketch_agg(spark.range(10), "cms", "id", element="int64",
                        d=5, w=547)
        import pytest as _pt
        with _pt.raises(Exception):
            cms_inner_product(sa, sb).collect()


class TestBloomCardinality:
    def test_fill_estimate_ignores_duplicate_inserts(self, spark):
        """bloom_cardinality recovers the DISTINCT count from the
        bitset fill — where n_items (a row counter) double-counts
        re-inserted elements. 10k ∪ [5k,15k) = 20k rows, 15k distinct."""
        from gostatix_spark.query import bloom_cardinality
        df = spark.range(0, 10000).unionByName(spark.range(5000, 15000))
        states = sketch_agg(df.select(F.col("id")), "bloom", "id",
                            n=15000, eps=0.01)
        r = bloom_cardinality(states).collect()[0]
        assert r["n_items"] == 20000            # counter double-counts
        assert abs(r["est_items"] - 15000) / 15000 < 0.03

    def test_saturated_filter_returns_sentinel(self, spark):
        from gostatix_spark.query import bloom_cardinality
        from gostatix_spark.state import BloomState, sketch_from_bytes
        blob = sketch_agg(spark.range(10), "bloom", "id",
                          n=10, eps=0.01).collect()[0]["state"]
        st = sketch_from_bytes(bytes(blob))
        st.words[:] = np.uint64(0xFFFFFFFFFFFFFFFF)
        full = spark.createDataFrame([(bytearray(st.to_bytes()),)],
                                     "state binary")
        assert bloom_cardinality(full).collect()[0]["est_items"] == -1


class TestCMSAgg:
    def test_point_queries_vs_exact(self, spark, corpus):
        # wide CMS + few hot tokens → estimates are exact upper bounds
        states = sketch_agg(corpus, "cms", "tokens", eps=0.0001, fail_prob=0.01)
        hot = [1, 2, 3, 5, 10]
        got = {r["item"]: r["est_count"]
               for r in cms_counts(states, hot, element="int32").collect()}
        exact = {r["t"]: r["cnt"]
                 for r in corpus.select(F.explode("tokens").alias("t"))
                 .where(F.col("t").isin(hot))
                 .groupBy("t").agg(F.count("*").alias("cnt")).collect()}
        n_total = corpus.select(F.sum("n_tok")).collect()[0][0]
        for t in hot:
            assert got[t] >= exact[t]                 # never underestimates
            assert got[t] - exact[t] <= 0.0001 * n_total

    def test_all_sum_tracked(self, spark, corpus):
        states = sketch_agg(corpus, "cms", "tokens", d=3, w=1000)
        st = sketch_from_bytes(bytes(states.collect()[0]["state"]))
        n_total = corpus.select(F.sum("n_tok")).collect()[0][0]
        assert st.all_sum == n_total


class TestBloomAgg:
    def test_no_false_negatives_and_fpr(self, spark, corpus):
        n = N_DOCS
        states = sketch_agg(corpus, "bloom", "doc_id", element="string",
                            n=n, eps=0.01)
        blob = bytes(states.collect()[0]["state"])
        probes = corpus.select("doc_id").withColumn(
            "hit", bloom_contains(spark, blob, F.col("doc_id"), "string"))
        assert probes.where(~F.col("hit")).count() == 0  # no false negatives
        missing = spark.range(N_DOCS, N_DOCS + 5000).select(
            F.format_string("doc-%012d", "id").alias("doc_id"))
        fp = missing.withColumn(
            "hit", bloom_contains(spark, blob, F.col("doc_id"), "string")) \
            .where("hit").count()
        assert fp / 5000 <= 0.02  # ≤ 2×ε slack at this n


class TestTopKAgg:
    def test_heavy_hitters_exact_vs_oracle(self, spark, corpus):
        k = 10
        states = sketch_agg(corpus, "topk", "tokens", element="tokens",
                            k=k, eps=0.0001, slack=4)
        got = topk_values(states, decode="int32").orderBy("rank").collect()
        oracle = (corpus.select(F.explode("tokens").alias("t"))
                  .groupBy("t").agg(F.count("*").alias("cnt"))
                  .orderBy(F.desc("cnt"), F.asc("t")).limit(k).collect())
        n_total = corpus.select(F.sum("n_tok")).collect()[0][0]
        # ranking matches the exact oracle; CMS estimates are ≥ exact and
        # within ε·N (reference semantics: heap stores CMS estimates)
        assert [r["element"] for r in got] == [r["t"] for r in oracle]
        for g, o in zip(got, oracle):
            assert o["cnt"] <= g["est_count"] <= o["cnt"] + 0.0001 * n_total
        # exact mode: summed per-partition candidate counts == oracle
        got_exact = (topk_values(states, exact=True, decode="int32")
                     .orderBy("rank").collect())
        assert [(r["element"], r["est_count"]) for r in got_exact] == \
            [(r["t"], r["cnt"]) for r in oracle]


    def test_string_topk_vectorized_vs_oracle(self, spark, corpus):
        """String elements go through the BytesCounts value_counts path
        (not the old per-element Counter); exact mode must equal the
        GROUP BY oracle, global and keyed."""
        k = 3
        states = sketch_agg(corpus, "topk", "source", element="string",
                            k=k, eps=0.0001, slack=4)
        oracle = (corpus.groupBy("source").agg(F.count("*").alias("cnt"))
                  .orderBy(F.desc("cnt"), F.asc("source")).limit(k).collect())
        got = (topk_values(states, exact=True, decode="string")
               .orderBy("rank").collect())
        assert [(r["element"], r["est_count"]) for r in got] == \
            [(r["source"], r["cnt"]) for r in oracle]
        # keyed path exercises Arrow-take group selection: all doc_ids
        # are unique (count 1), so top-2 per source = the 2 smallest ids
        keyed = sketch_agg(corpus, "topk", "doc_id", element="string",
                           key_col="source", k=2, eps=0.0001)
        got_k = {(r["source"], r["rank"]): r["element"]
                 for r in topk_values(keyed, exact=True,
                                      decode="string").collect()}
        oracle_k = (corpus.selectExpr(
                        "source", "doc_id",
                        "row_number() over (partition by source"
                        " order by doc_id asc) as rn")
                    .where("rn <= 2").collect())
        for r in oracle_k:
            assert got_k[(r["source"], r["rn"])] == r["doc_id"]

    def test_max_distinct_cap_matches_uncapped_topk(self, spark):
        """max_distinct bounds phase-1 memory on a near-unique string
        column (the URL/doc-id workload); the capped build's CMS-mode
        top-k must equal the uncapped build's above the ε·N noise
        floor."""
        k = 10
        # 120k near-unique ids + 15 planted heavy hitters (count ~800)
        df = spark.range(120_000).selectExpr(
            "CASE WHEN id % 150 < 15 THEN concat('hot', id % 150)"
            " ELSE concat('u', id) END AS elem")
        capped = sketch_agg(df, "topk", "elem", k=k, eps=0.0001,
                            slack=8, max_distinct=2048)
        plain = sketch_agg(df, "topk", "elem", k=k, eps=0.0001, slack=8)
        got_c = [(r["element"], r["est_count"])
                 for r in topk_values(capped, exact=False,
                                      decode="string").orderBy("rank").collect()]
        got_p = [(r["element"], r["est_count"])
                 for r in topk_values(plain, exact=False,
                                      decode="string").orderBy("rank").collect()]
        eps_n = 0.0001 * 120_000
        assert {e for e, _ in got_c} == {e for e, _ in got_p}
        cp, pp = dict(got_c), dict(got_p)
        for e in cp:
            assert abs(cp[e] - pp[e]) <= 2 * eps_n, e
        # the capped marker survives serialization + merge, and guards
        # the exact=True fast path (ADVICE r4: no silent undercount)
        from gostatix_spark.state import sketch_from_bytes
        st_c = sketch_from_bytes(bytes(capped.collect()[0]["state"]))
        st_p = sketch_from_bytes(bytes(plain.collect()[0]["state"]))
        assert st_c.capped and not st_p.capped
        with pytest.raises(Exception, match="capped"):
            topk_values(capped, exact=True, decode="string").collect()
        # uncapped exact path still works
        topk_values(plain, exact=True, decode="string").collect()


class TestCuckooAgg:
    def test_membership_sharded(self, spark, corpus):
        states = cuckoo_build(corpus, "doc_id", element="string", n_shards=4,
                              eps=0.001)
        rows = states.collect()
        assert len(rows) == 4
        shard_blobs = [None] * 4
        for r in rows:
            shard_blobs[r["shard"]] = bytes(r["state"])
        assert sum(r["n_items"] for r in rows) == N_DOCS
        probes = corpus.select("doc_id").withColumn(
            "hit", cuckoo_contains(spark, shard_blobs, F.col("doc_id"), "string"))
        assert probes.where(~F.col("hit")).count() == 0


class TestMultiSketchAgg:
    def test_one_scan_matches_individual_builds(self, spark, corpus):
        from gostatix_spark.agg import multi_sketch_agg
        got = {(r["sketch_name"], r["key"]): bytes(r["state"])
               for r in multi_sketch_agg(corpus, [
                   {"name": "hll", "kind": "hll", "value_col": "tokens",
                    "key_col": "source", "params": {"m": 1024}},
                   {"name": "bloom", "kind": "bloom", "value_col": "doc_id",
                    "element": "string",
                    "params": {"n": N_DOCS, "eps": 0.01}},
                   {"name": "topk", "kind": "topk", "value_col": "tokens",
                    "params": {"k": 5, "eps": 0.0001}},
               ]).collect()}
        hll_single = sketch_agg(corpus, "hll", "tokens", key_col="source",
                                m=1024)
        for r in hll_single.collect():
            assert sketch_from_bytes(got[("hll", r["source"])]).equals(
                sketch_from_bytes(bytes(r["state"])))
        bloom_single = sketch_agg(corpus, "bloom", "doc_id",
                                  element="string", n=N_DOCS, eps=0.01)
        assert sketch_from_bytes(got[("bloom", None)]).equals(
            sketch_from_bytes(bytes(bloom_single.collect()[0]["state"])))
        topk_single = sketch_agg(corpus, "topk", "tokens", k=5, eps=0.0001)
        assert sketch_from_bytes(got[("topk", None)]).equals(
            sketch_from_bytes(bytes(topk_single.collect()[0]["state"])))


    def test_mixed_element_kinds_share_columns(self, spark, corpus):
        """Regression (round-2 verdict #1): two jobs over the SAME
        (key_col, value_col) with different element kinds — flattened
        'tokens' vs per-row 'token_array' — must not share the group
        cache's selection arrays (their lengths differ)."""
        from gostatix_spark.agg import multi_sketch_agg
        got = {(r["sketch_name"], r["key"]): bytes(r["state"])
               for r in multi_sketch_agg(corpus, [
                   {"name": "hll_tok", "kind": "hll", "value_col": "tokens",
                    "key_col": "source", "params": {"m": 1024}},
                   {"name": "bloom_arr", "kind": "bloom",
                    "value_col": "tokens", "key_col": "source",
                    "element": "token_array",
                    "params": {"n": N_DOCS, "eps": 0.01}},
               ]).collect()}
        hll_single = sketch_agg(corpus, "hll", "tokens", key_col="source",
                                m=1024)
        for r in hll_single.collect():
            assert sketch_from_bytes(got[("hll_tok", r["source"])]).equals(
                sketch_from_bytes(bytes(r["state"])))
        bloom_single = sketch_agg(corpus, "bloom", "tokens",
                                  key_col="source", element="token_array",
                                  n=N_DOCS, eps=0.01)
        for r in bloom_single.collect():
            assert sketch_from_bytes(got[("bloom_arr", r["source"])]).equals(
                sketch_from_bytes(bytes(r["state"])))

    def test_keyed_hll_fine_keys_matches_sketch_agg(self, spark):
        """A keyed HLL over fine-grained int64 keys takes the KeyedHLL
        path in both builds: multi_sketch_agg's states equal
        sketch_agg's per key byte for byte, and null keys are dropped
        by both. Keys above 2**53 beside nulls stay distinct."""
        from gostatix_spark.agg import multi_sketch_agg
        df = spark.range(0, 30000).select(
            F.when(F.col("id") % 17 == 0, None)
            .otherwise(F.col("id") * 7 % 2500 + 2**60).alias("k"),
            (F.col("id") * 7919 % 100003).alias("v")).repartition(4)
        got = {r["key"]: r for r in multi_sketch_agg(df, [
            {"name": "h", "kind": "hll", "value_col": "v", "key_col": "k",
             "params": {"m": 256}}]).collect()}
        want = {str(r["k"]): r for r in sketch_agg(
            df, "hll", "v", key_col="k", m=256, merge_buckets=4).collect()}
        assert None not in got and len(got) == 2500
        assert set(got) == set(want)
        for k, r in want.items():
            assert bytes(got[k]["state"]) == bytes(r["state"]), k
            assert (got[k]["n_items"], got[k]["n_partials"]) == (
                r["n_items"], r["n_partials"]), k

    def test_fold_path_per_batch(self):
        """The batch picks the fold: a dense token grid takes the
        distinct-first fold, wide int64 values take KeyedHLL for a keyed
        HLL, and the per-element fold otherwise; the states agree."""
        import pyarrow as pa
        from gostatix_spark.agg import _Batch, _fold_batch, _Job, _Spec
        from gostatix_spark.kernels import hll
        batch = pa.record_batch({
            "k": pa.array(["a", "b", None, "a"]),
            "tok": pa.array([[1, 2], [2], [3], [1, 5]],
                            pa.list_(pa.int32())),
            "v": pa.array([7, 2**40, 9, 7], pa.int64())})

        def fold(kind, vcol, element, keyed):
            spec = _Spec.make(kind, m=64)
            spec.element = element
            accs, rows = {}, {}
            kh = hll.KeyedHLL(64) if keyed else None
            _fold_batch(_Batch(batch), 0, _Job("j", spec, vcol, "k"), accs,
                        rows, kh)
            return accs, rows, kh

        accs, rows, kh = fold("hll", "tok", "tokens", True)
        assert set(accs) == {(0, "a"), (0, "b")} and not kh.slots
        assert rows == {(0, "a"): 2, (0, "b"): 1}
        assert accs[(0, "a")][1] == 4  # n_items counts repeats
        accs, rows, kh = fold("hll", "v", "int64", True)
        assert not accs and list(kh.slots) == ["a", "b"]
        assert kh.n_items == {"a": 2, "b": 1}
        per_elem, _, _ = fold("hll", "v", "int64", False)
        for key, regs, n in kh.states():
            assert np.array_equal(per_elem[(0, key)][0], regs)
            assert per_elem[(0, key)][1] == n


class TestSketchRegistry:
    """Every registered kind: a phase-1 partial decodes and re-encodes
    stably, its merge is bytewise associative, and sketch_info names
    its kind. t-digest and KLL stay below their compaction thresholds
    here, where their merge is exact; past them only rank error is
    gated (tests/test_quantiles.py)."""

    ELEMENT = {"topk": "int64", "tdigest": "float64", "kll": "float64"}
    PARAMS = {"hll": {"m": 64}, "cms": {"d": 2, "w": 16},
              "bloom": {"m": 256, "k": 3}, "topk": {"k": 3}}

    def _partial(self, kind, vals):
        from gostatix_spark import hashing
        from gostatix_spark.agg import _Spec
        spec = _Spec.make(kind, **self.PARAMS.get(kind, {}))
        spec.element = self.ELEMENT.get(kind, "int32")
        acc = spec.init()
        h1 = h2 = None
        if not spec.needs_elements:
            h1, h2 = hashing.hash_tokens(vals, "metro")
        spec.update(acc, h1, h2, vals.astype(
            np.float64 if kind in ("tdigest", "kll") else np.int64), None)
        blob, n_items = spec.finalize(acc)
        assert n_items == len(vals)
        return blob

    @staticmethod
    def _cuckoo_blob():
        from gostatix_spark.kernels.cuckoo import CuckooFilter
        from gostatix_spark.state import CuckooState
        f = CuckooFilter(size=16, bucket_size=2, fp_len=2, seed=5)
        for w in (b"foo", b"bar"):
            f.insert(w)
        return CuckooState(16, 2, 2, 500, f.length, f.buckets).to_bytes()

    @pytest.mark.parametrize("kind", sorted(sketches.REGISTRY))
    def test_kind_roundtrip_merge_info(self, spark, kind):
        from gostatix_spark.query import sketch_info
        if kind == "cuckoo":
            blobs = [self._cuckoo_blob()]
            with pytest.raises(TypeError):
                sketches.merge(blobs * 2)
        else:
            rng = np.random.default_rng(len(kind))
            # 45 values in all keep t-digest's centroids apart
            blobs = [self._partial(kind, rng.integers(0, 500, 15))
                     for _ in range(3)]
            a, b, c = blobs
            merge = sketches.merge
            assert merge([merge([a, b]), c]) == merge([a, merge([b, c])])
            once = merge([a])
            assert merge([once]) == once
        for blob in blobs:
            assert sketches.lookup(blob).kind == kind
            assert sketches.decode(blob) is not None
        row = sketch_info(spark.createDataFrame(
            [(blobs[0],)], "state binary")).collect()[0]
        assert row["kind"] == kind


class TestElementKinds:
    def test_token_array_element_dedup_semantics(self, spark, corpus):
        # whole-array membership: every full token array is in the bloom
        states = sketch_agg(corpus, "bloom", "tokens", element="token_array",
                            n=N_DOCS, eps=0.01)
        blob = bytes(states.collect()[0]["state"])
        probes = corpus.select("tokens").withColumn(
            "hit", bloom_contains(spark, blob, F.col("tokens"), "token_array"))
        assert probes.where(~F.col("hit")).count() == 0

    def test_token_array_topk_counts_whole_arrays(self, spark):
        """Top-K over ``token_array`` counts each row's whole array by
        its big-endian encoding; equal counts rank by that encoding."""
        rows = [[1, 2]] * 3 + [[2, 1]] * 3 + [[7]] * 2 + [[]] * 5 + [[0]]
        df = spark.createDataFrame([(r,) for r in rows], "t array<int>")
        states = sketch_agg(df.repartition(3), "topk", "t",
                            element="token_array", k=3, eps=0.01, slack=4)
        st = sketch_from_bytes(bytes(states.collect()[0]["state"]))
        enc = {b"": 5, b"\0\0\0\1\0\0\0\2": 3, b"\0\0\0\2\0\0\0\1": 3,
               b"\0\0\0\7": 2, b"\0\0\0\0": 1}
        assert st.candidates == enc
        from gostatix_spark.kernels import topk
        assert topk.final_values(st.cms.matrix, st.candidates, 3) == [
            (b"", 5), (b"\0\0\0\1\0\0\0\2", 3), (b"\0\0\0\2\0\0\0\1", 3)]

    def test_every_accepted_element_builds(self, spark):
        """Each registry kind builds over every element kind it lists,
        all in one scan."""
        from gostatix_spark.agg import multi_sketch_agg
        df = spark.createDataFrame(
            [([1, 2], 3, 4, "a", bytearray(b"b"), 1.5),
             ([2], 5, 6, "c", bytearray(b"d"), 2.5)],
            "toks array<int>, i32 int, i64 bigint, s string, b binary,"
            " f double")
        cols = {"tokens": "toks", "token_array": "toks", "int32": "i32",
                "int64": "i64", "string": "s", "binary": "b",
                "float64": "f"}
        small = {"bloom": {"n": 100}, "topk": {"eps": 0.01}}
        jobs = [{"name": f"{kind}/{el}", "kind": kind, "value_col": cols[el],
                 "element": el, "params": small.get(kind, {})}
                for kind, sk in sketches.REGISTRY.items() if kind != "cuckoo"
                for el in sk.element_kinds]
        assert len(jobs) == 4 * 6 + 2 * 4
        got = {r["sketch_name"]: r for r in multi_sketch_agg(df, jobs).collect()}
        assert got.keys() == {j["name"] for j in jobs}
        for name, r in got.items():
            assert sketches.lookup(r["state"]).kind == name.split("/")[0]
            assert r["n_items"] == (3 if name.endswith("/tokens") else 2)

    @pytest.mark.parametrize("kind,col,element", [
        ("hll", "x", "float64"), ("cms", "x", "float64"),
        ("bloom", "x", "float64"), ("topk", "x", "float64"),
        ("tdigest", "s", "string"), ("kll", "s", "string")])
    def test_unfoldable_element_raises_at_the_call(self, spark, kind, col,
                                                   element):
        """An element kind a sketch cannot fold fails in the driver,
        before any job runs, naming the kind, the column and the
        element (a double column infers ``float64``)."""
        df = spark.createDataFrame([(1.5, "a")], "x double, s string")
        p = {"n": 100} if kind == "bloom" else {}
        with pytest.raises(ValueError, match=f"{kind} sketches cannot fold"
                           f" '{element}' elements \\(column '{col}'\\)"):
            sketch_agg(df, kind, col, **p)

    def test_cms_count_col_probe(self, spark, corpus):
        states = sketch_agg(corpus, "cms", "source", element="string",
                            d=5, w=2719)
        blob = bytes(states.collect()[0]["state"])
        got = (corpus.withColumn(
                   "est", cms_count_col(spark, blob, F.col("source"), "string"))
               .groupBy("source").agg(F.max("est").alias("est")).collect())
        exact = {r["source"]: r["cnt"] for r in
                 corpus.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
        for r in got:
            assert r["est"] == exact[r["source"]]  # wide CMS, 4 keys → exact


class TestCuckooRemovals:
    def test_distributed_remove_then_probe(self, spark, corpus):
        """Build sharded → remove half as a DataFrame (no driver loop) →
        remaining elements all found; removed ones (mostly) not."""
        from gostatix_spark.agg import cuckoo_apply_removals
        states = cuckoo_build(corpus, "doc_id", element="string", n_shards=4,
                              eps=0.001)
        removals = corpus.where("int(substr(doc_id, 5)) % 2 = 0") \
            .select("doc_id")
        n_removed = removals.count()
        after = cuckoo_apply_removals(states, removals, "doc_id",
                                      element="string", n_shards=4)
        rows = after.collect()
        assert len(rows) == 4
        assert sum(r["n_items"] for r in rows) == N_DOCS - n_removed
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        kept = corpus.where("int(substr(doc_id, 5)) % 2 = 1")
        probes = kept.select("doc_id").withColumn(
            "hit", cuckoo_contains(spark, shard_map, F.col("doc_id"),
                                   "string", n_shards=4))
        assert probes.where(~F.col("hit")).count() == 0  # no false negatives
        gone = corpus.where("int(substr(doc_id, 5)) % 2 = 0").select("doc_id") \
            .withColumn("hit", cuckoo_contains(spark, shard_map,
                                               F.col("doc_id"), "string",
                                               n_shards=4))
        # removed elements may fp-collide, but the bulk must be gone
        assert gone.where(F.col("hit")).count() < 0.01 * n_removed

    def test_empty_shards_emitted(self, spark):
        """A build whose elements miss some shards still emits a state
        row per shard (probe routing needs the full 0..n-1 set)."""
        one = spark.createDataFrame([(1,)], "v bigint")
        states = cuckoo_build(one, "v", n_shards=8, size=64)
        rows = states.collect()
        assert sorted(r["shard"] for r in rows) == list(range(8))
        assert sum(r["n_items"] for r in rows) == 1

    def test_autosized_sharded_load(self, spark, corpus):
        """Auto-sizing splits capacity across shards; the splitmix shard
        routing must leave every in-shard bucket reachable, or the
        0.955-load build overflows (the raw h1%n_shards routing fixed a
        shard's low bits, freezing i1's low bits with pow-2 sizes)."""
        states = cuckoo_build(corpus, "doc_id", element="string",
                              n_shards=8, eps=0.01)  # size=None → auto
        rows = states.collect()
        assert sum(r["n_items"] for r in rows) == N_DOCS
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        probes = corpus.select("doc_id").withColumn(
            "hit", cuckoo_contains(spark, shard_map, F.col("doc_id"),
                                   "string", n_shards=8))
        assert probes.where(~F.col("hit")).count() == 0

    def test_shard_mapping_validation(self, spark, corpus):
        import pytest as _pt
        states = cuckoo_build(corpus, "doc_id", element="string", n_shards=4,
                              eps=0.01)
        rows = states.collect()
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        del shard_map[2]
        with _pt.raises(ValueError, match="missing"):
            cuckoo_contains(spark, shard_map, F.col("doc_id"), "string",
                            n_shards=4)


class TestBloomSharded:
    def test_no_false_negatives_and_fpr(self, spark, corpus):
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.query import bloom_contains_sharded
        states = bloom_build_sharded(corpus, "doc_id", element="string",
                                     n=N_DOCS, eps=0.01, n_shards=8)
        rows = states.collect()
        assert sorted(r["shard"] for r in rows) == list(range(8))
        assert sum(r["n_items"] for r in rows) == N_DOCS
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        hits = corpus.select("doc_id").withColumn(
            "hit", bloom_contains_sharded(spark, shard_map, F.col("doc_id"),
                                          "string", n_shards=8))
        assert hits.where(~F.col("hit")).count() == 0
        missing = spark.range(N_DOCS, N_DOCS + 5000).select(
            F.concat(F.lit("doc_"), F.col("id")).alias("doc_id"))
        fp = missing.withColumn(
            "hit", bloom_contains_sharded(spark, shard_map, F.col("doc_id"),
                                          "string", n_shards=8)) \
            .where(F.col("hit")).count()
        assert fp / 5000 < 0.03  # ≈ eps with slack

    def test_matches_unsharded_semantics(self, spark, corpus):
        """Sharded and unsharded filters answer membership identically
        on inserted keys and use the same total bit budget per element."""
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.state import sketch_from_bytes as sfb
        states = bloom_build_sharded(corpus, "doc_id", element="string",
                                     n=N_DOCS, eps=0.01, n_shards=4)
        sts = [sfb(bytes(r["state"])) for r in states.collect()]
        single = sketch_agg(corpus, "bloom", "doc_id", element="string",
                            n=N_DOCS, eps=0.01)
        st1 = sfb(bytes(single.collect()[0]["state"]))
        total_sharded_bits = sum(s.m for s in sts)
        assert abs(total_sharded_bits - st1.m) / st1.m < 0.01


@pytest.mark.parametrize("n_shards", [0, -2])
@pytest.mark.parametrize("build", ["bloom_build_sharded", "cuckoo_build",
                                   "cuckoo_apply_removals"])
def test_n_shards_below_one_rejected_before_any_job(spark, build, n_shards):
    """A shard count below one raises ``ValueError`` at the call: no job
    runs (``cuckoo_build`` without ``size`` would count the input
    first), and no build silently returns nothing."""
    from gostatix_spark import agg
    df = spark.createDataFrame([("a",), ("b",)], "v string")
    calls = {
        "bloom_build_sharded": lambda: agg.bloom_build_sharded(
            df, "v", n=2, n_shards=n_shards),
        "cuckoo_build": lambda: agg.cuckoo_build(df, "v", n_shards=n_shards),
        "cuckoo_apply_removals": lambda: agg.cuckoo_apply_removals(
            agg.cuckoo_build(df, "v", n_shards=2, size=64), df, "v",
            n_shards=n_shards),
    }
    sc = spark.sparkContext
    group = f"n-shards-{build}-{n_shards}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="n_shards"):
            calls[build]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


class TestJoinProbes:
    def test_cuckoo_contains_join(self, spark, corpus):
        """Broadcast-free probe path: states never collected; results
        match the broadcast probe exactly."""
        from gostatix_spark.agg import cuckoo_apply_removals
        from gostatix_spark.query import cuckoo_contains_join
        states = cuckoo_build(corpus, "doc_id", element="string",
                              n_shards=4, eps=0.001)
        removals = corpus.where("int(substr(doc_id, 5)) % 3 = 0") \
            .select("doc_id")
        states = cuckoo_apply_removals(states, removals, "doc_id",
                                       element="string", n_shards=4)
        probes = corpus.select("doc_id")
        got = {r["doc_id"]: r["contained"] for r in
               cuckoo_contains_join(states, probes, "doc_id",
                                    n_shards=4, element="string").collect()}
        assert len(got) == N_DOCS
        shard_map = {r["shard"]: bytes(r["state"]) for r in states.collect()}
        want = {r["doc_id"]: r["hit"] for r in probes.withColumn(
            "hit", cuckoo_contains(spark, shard_map, F.col("doc_id"),
                                   "string", n_shards=4)).collect()}
        assert got == want
        kept = [d for d in got
                if int(d[4:]) % 3 != 0]
        assert all(got[d] for d in kept)  # no false negatives

    def test_bloom_contains_join(self, spark, corpus):
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.query import bloom_contains_join
        states = bloom_build_sharded(corpus, "doc_id", element="string",
                                     n=N_DOCS, eps=0.01, n_shards=8)
        probes = corpus.select("doc_id")
        got = bloom_contains_join(states, probes, "doc_id", n_shards=8,
                                  element="string")
        assert got.where(~F.col("contained")).count() == 0
        assert got.count() == N_DOCS


def _probe_cases(spark, states_df, build, probes, element, n_shards):
    """``probes`` (a one-column ``v`` frame) against the states of a
    ``build`` (bloom, cms, bloom_sharded or cuckoo): the broadcast
    answers and, for the membership builds, the join answers (an
    unsharded Bloom joins as shard 0 of 1), each as {value: answer}."""
    from gostatix_spark.query import (bloom_contains_join,
                                      bloom_contains_sharded,
                                      cuckoo_contains_join)
    rows = states_df.collect()
    key = (lambda v: tuple(v)) if element == "token_array" else (
        lambda v: v)

    def answers(df, col):
        return {key(r["v"]): r[col] for r in df.collect()}

    if build == "cms":
        return [answers(probes.withColumn("a", cms_count_col(
            spark, bytes(rows[0]["state"]), F.col("v"), element)), "a")]
    if build == "bloom":
        return [answers(probes.withColumn("a", bloom_contains(
                    spark, bytes(rows[0]["state"]), F.col("v"), element)),
                    "a"),
                answers(bloom_contains_join(
                    states_df.withColumn("shard", F.lit(0)), probes, "v",
                    n_shards=1, element=element), "contained")]
    shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
    bc, join = ((cuckoo_contains, cuckoo_contains_join) if build == "cuckoo"
                else (bloom_contains_sharded, bloom_contains_join))
    return [answers(probes.withColumn("a", bc(
                spark, shard_map, F.col("v"), element, n_shards=n_shards)),
                "a"),
            answers(join(states_df, probes, "v", n_shards=n_shards,
                         element=element), "contained")]


class TestProbeParity:
    """Every probe path agrees with a direct kernel lookup on the driver,
    for every row-level element kind: the broadcast probe, the
    shard-routed join probe (sharded Bloom, cuckoo) and the kernels fed
    by the hash functions under each kind's hash (metro, murmur3 for
    cuckoo)."""

    N, SHARDS = 200, 4
    TYPES = {"string": "string", "binary": "binary", "int32": "int",
             "int64": "bigint", "token_array": "array<int>"}

    @staticmethod
    def _value(element, i):
        return {"string": f"s{i}", "binary": f"b{i}".encode(),
                "int32": i - 150, "int64": i * 1_000_003 - 7,
                "token_array": [i, i + 1, i % 7]}[element]

    @staticmethod
    def _hashes(element, vals, algo):
        from gostatix_spark import hashing as H
        if element in ("string", "binary"):
            return H.hash_bytes_batch(
                [v.encode() if isinstance(v, str) else v for v in vals], algo)
        if element == "int32":
            return H.hash_tokens(np.array(vals, np.int64), algo)
        if element == "int64":
            return H.hash_int64s(np.array(vals, np.int64), algo)
        lens = np.array([len(v) for v in vals])
        return H.hash_token_arrays(
            np.concatenate([np.array(v, np.int64) for v in vals]),
            np.concatenate(([0], np.cumsum(lens))), algo)

    @pytest.mark.parametrize("element", list(TYPES))
    def test_broadcast_join_and_kernel_agree(self, spark, element):
        from gostatix_spark import hashing as H
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.kernels import bloom, cms
        schema = f"v {self.TYPES[element]}"
        built = spark.createDataFrame(
            [(self._value(element, i),) for i in range(self.N)], schema
        ).repartition(2)
        vals = [self._value(element, i) for i in range(self.N // 2,
                                                       2 * self.N)]
        probes = spark.createDataFrame([(v,) for v in vals], schema) \
            .repartition(3)
        keys = [tuple(v) if element == "token_array" else v for v in vals]
        h1, h2 = self._hashes(element, vals, "metro")
        c1, _ = self._hashes(element, vals, "murmur3")
        shard = H.shard_of(h1, self.SHARDS)
        cshard = H.shard_of(c1, self.SHARDS)
        cases = {
            "bloom": (sketch_agg(built, "bloom", "v", element=element,
                                 m=512, k=3), 1),
            "cms": (sketch_agg(built, "cms", "v", element=element,
                               d=3, w=64), 1),
            "bloom_sharded": (bloom_build_sharded(
                built, "v", n=self.N, eps=0.05, element=element,
                n_shards=self.SHARDS), self.SHARDS),
            "cuckoo": (cuckoo_build(built, "v", element=element,
                                    n_shards=self.SHARDS, eps=0.01),
                       self.SHARDS),
        }
        for name, (states_df, n_shards) in cases.items():
            rows = states_df.collect()
            want = np.zeros(len(vals), np.int64)
            for r in rows:
                st = sketch_from_bytes(bytes(r["state"]))
                if name == "cuckoo":
                    sel = cshard == r["shard"]
                    want[sel] = st.filter().lookup_hashes(c1[sel])
                elif name == "bloom_sharded":
                    sel = shard == r["shard"]
                    want[sel] = bloom.lookup_batch(st.words, h1[sel],
                                                   h2[sel], st.k, st.m)
                elif name == "bloom":
                    want = bloom.lookup_batch(st.words, h1, h2, st.k, st.m)
                else:
                    want = cms.query_batch(st.matrix, h1, h2)
            want = {k: (int(w) if name == "cms" else bool(w))
                    for k, w in zip(keys, want)}
            assert len(set(want.values())) > 1, name  # hits and misses
            for got in _probe_cases(spark, states_df, name, probes, element,
                                    n_shards):
                assert got == want, (name, element)


class TestNullElements:
    """A null is never an element: a null probe is never found (False,
    count 0) on the broadcast and join paths, and builds skip null
    elements while still counting their rows."""

    # a null was read as "" or, for int64, as what NaN casts to
    @pytest.mark.parametrize("element,present", [("string", ""),
                                                 ("int64", -2 ** 63)])
    @pytest.mark.parametrize("kind", ["bloom", "bloom_sharded", "cuckoo",
                                      "cms"])
    def test_null_probe_reads_absent(self, spark, kind, element, present):
        from gostatix_spark.agg import bloom_build_sharded
        if kind == "cuckoo" and present == "":
            present = "x"  # murmur3("") is 0: no fingerprint to insert
        schema = f"v {'string' if element == 'string' else 'bigint'}"
        other = "a" if element == "string" else 7
        built = spark.createDataFrame([(present,), (other,)], schema)
        probes = spark.createDataFrame([(None,), (present,), (None,)],
                                       schema)
        n_shards = 1 if kind in ("bloom", "cms") else 4
        states = {
            "bloom": lambda: sketch_agg(built, "bloom", "v", element=element,
                                        m=512, k=3),
            "cms": lambda: sketch_agg(built, "cms", "v", element=element,
                                      d=3, w=64),
            "bloom_sharded": lambda: bloom_build_sharded(
                built, "v", n=2, element=element, n_shards=n_shards),
            "cuckoo": lambda: cuckoo_build(built, "v", element=element,
                                           n_shards=n_shards, size=64),
        }[kind]()
        absent, found = (0, 1) if kind == "cms" else (False, True)
        for got in _probe_cases(spark, states, kind, probes, element,
                                n_shards):
            assert got == {None: absent, present: found}
        if kind == "cms":
            rows = cms_counts(states, [present, None],
                              element=element).collect()
            assert {r["item"]: r["est_count"] for r in rows} == {
                present: 1, None: 0}

    @pytest.mark.parametrize("kind,element,vals,params", [
        ("hll", "string", ["a", "b"], {"m": 64}),
        ("hll", "int64", [3, 5], {"m": 64}),
        ("cms", "string", ["a", "b"], {"d": 3, "w": 64}),
        ("cms", "int64", [3, 5], {"d": 3, "w": 64}),
        ("bloom", "string", ["a", "b"], {"m": 512, "k": 3}),
        ("bloom", "int64", [3, 5], {"m": 512, "k": 3}),
        ("topk", "int64", [3, 5], {"k": 2}),
        ("tdigest", "float64", [1.5, 2.5], {}),
        ("kll", "float64", [1.5, 2.5], {}),
    ])
    def test_build_skips_null_elements(self, spark, kind, element, vals,
                                       params):
        """A build over [v0, null, v1, null] in one partition gives the
        bytes of the build over [v0, v1], and consumes four rows."""
        t = {"string": "string", "int64": "bigint",
             "float64": "double"}[element]
        with_nulls = spark.createDataFrame(
            [(vals[0],), (None,), (vals[1],), (None,)], f"v {t}").coalesce(1)
        without = spark.createDataFrame([(v,) for v in vals],
                                        f"v {t}").coalesce(1)
        parts = sketch_agg(with_nulls, kind, "v", element=element,
                           _return_partials=True, **params).collect()
        assert [r["rows_consumed"] for r in parts] == [4]
        got = sketch_agg(with_nulls, kind, "v", element=element,
                         **params).collect()
        want = sketch_agg(without, kind, "v", element=element,
                          **params).collect()
        assert [(bytes(r["state"]), r["n_items"]) for r in got] == [
            (bytes(r["state"]), r["n_items"]) for r in want]
        assert got[0]["n_items"] == 2

    def test_keyed_build_all_null_key_gets_empty_state(self, spark):
        df = spark.createDataFrame(
            [("x", "a"), ("x", None), ("y", None)], "k string, v string") \
            .coalesce(1)
        parts = sketch_agg(df, "hll", "v", key_col="k", m=64,
                           _return_partials=True).collect()
        assert {r["k"]: (r["n_items"], r["rows_consumed"])
                for r in parts} == {"x": (1, 2), "y": (0, 1)}
        est = {r["k"]: r["est_distinct"] for r in hll_estimate(
            sketch_agg(df, "hll", "v", key_col="k", m=64)).collect()}
        assert est == {"x": 1, "y": 0}

    @pytest.mark.parametrize("kind,params", [
        ("hll", {"m": 64}), ("cms", {"d": 3, "w": 64}),
        ("bloom", {"m": 512, "k": 3}), ("topk", {"k": 2})])
    def test_build_skips_null_items_in_token_lists(self, spark, kind,
                                                   params):
        """A null item inside a ``tokens`` list is dropped from its row,
        as a null element is: [[1, None, 3]] builds the bytes of
        [[1, 3]]. It was folded as INT64_MIN."""
        def build(rows):
            df = spark.createDataFrame(rows, "t array<int>").coalesce(1)
            return [(bytes(r["state"]), r["n_items"]) for r in
                    sketch_agg(df, kind, "t", **params).collect()]

        got = build([([1, None, 3],)])
        assert got == build([([1, 3],)])
        assert got[0][1] == 2

    def test_list_ints_drop_null_items(self):
        from gostatix_spark.agg import _arrow_list_ints
        values, offsets = _arrow_list_ints(pa.array(
            [[1, None, 3], None, [None], [4], []], pa.list_(pa.int32())))
        assert values.tolist() == [1, 3, 4]
        assert offsets.tolist() == [0, 2, 2, 2, 3, 3]

    @pytest.mark.parametrize("sharded_kind", ["cuckoo", "bloom"])
    def test_sharded_builds_skip_null_elements(self, spark, sharded_kind):
        from gostatix_spark.agg import bloom_build_sharded
        with_nulls = spark.createDataFrame(
            [("a",), (None,), ("b",)], "v string").coalesce(1)
        without = spark.createDataFrame([("a",), ("b",)],
                                        "v string").coalesce(1)

        def build(df):
            if sharded_kind == "cuckoo":
                out = cuckoo_build(df, "v", n_shards=2, size=64)
            else:
                out = bloom_build_sharded(df, "v", n=2, n_shards=2)
            return sorted((r["shard"], bytes(r["state"]), r["n_items"])
                          for r in out.collect())

        got = build(with_nulls)
        assert got == build(without)
        assert sum(n for _, _, n in got) == 2


class TestDistinctFoldBytewise:
    """Phase 1 folds HLL/CMS/Bloom/Top-K over tokens/int32 as each
    batch's distinct (key, value) pairs with counts when the (key,
    value) grid is dense, else per element (``big``, ``wide32``). The
    merged states must equal a per-element numpy fold on the driver
    byte for byte, for keyed and keyless jobs, empty token arrays and
    null keys, and several jobs that share a value column under
    different keys."""

    N_ROWS = 1500
    PARAMS = {"hll": {"m": 1024}, "cms": {"d": 4, "w": 512},
              "bloom": {"m": 8192, "k": 5}, "topk": {"k": 5, "slack": 2}}

    @pytest.fixture(scope="class")
    def data(self, spark):
        from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                       StringType, StructField, StructType)
        rng = np.random.default_rng(7)
        n = self.N_ROWS
        lens = rng.integers(0, 25, n)
        lens[rng.random(n) < 0.1] = 0  # empty token arrays
        srcs = np.array(["a", "b", "c", None], dtype=object)[
            rng.integers(0, 4, n)]  # a quarter null keys
        rows = [(
            srcs[i], ["x", "y"][i % 2],
            (rng.zipf(1.3, lens[i]) % 3000).tolist(),
            (rng.integers(0, 2**40, lens[i] % 4)).tolist(),
            int(rng.integers(0, 700)),
            int(rng.integers(-2**31, 2**31)),
        ) for i in range(n)]
        schema = StructType([
            StructField("src", StringType(), True),
            StructField("lang", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("big", ArrayType(LongType(), False), False),
            StructField("small32", IntegerType(), False),
            StructField("wide32", IntegerType(), False)])
        df = spark.createDataFrame(rows, schema).repartition(3).cache()
        collected = [(r["pid"], r) for r in df.withColumn(
            "pid", F.spark_partition_id()).collect()]
        return df, collected

    @staticmethod
    def _canonical(blob: bytes) -> bytes:
        """Top-K candidates serialize in merge order, which follows the
        shuffle's partial order; compare them sorted."""
        from gostatix_spark.state import TopKState
        st = sketch_from_bytes(blob)
        if isinstance(st, TopKState):
            st.candidates = dict(sorted(st.candidates.items()))
            return st.to_bytes()
        return blob

    @staticmethod
    def _bloom_bytes(h1, h2, m, k) -> bytes:
        """A Bloom state of every (h1, h2), set bit by bit."""
        from gostatix_spark.kernels import bloom
        from gostatix_spark.state import BloomState
        words = bloom.new_state(m)
        idx = bloom.indices(h1, h2, k, m)
        np.bitwise_or.at(words, idx >> 6,
                         np.uint64(1) << (idx & 63).astype(np.uint64))
        return BloomState(m, k, words, len(h1)).to_bytes()

    def _reference(self, rows, kind, vcol, kcol, element):
        """{key: (state bytes, n_items, n_partials, {pid: rows})} from a
        per-element fold of every value of the key."""
        from gostatix_spark import hashing
        from gostatix_spark.agg import _Spec
        from gostatix_spark.kernels import cms, topk
        from gostatix_spark.state import CMSState, HLLState, TopKState
        spec = _Spec.make(kind, **self.PARAMS[kind])
        p = spec.p
        parts: dict = {}
        for pid, r in rows:
            key = r[kcol] if kcol else None
            if kcol and key is None:
                continue
            vals = r[vcol] if element == "tokens" else [r[vcol]]
            per_pid = parts.setdefault(key, {}).setdefault(pid, [[], 0])
            per_pid[0].extend(vals)
            per_pid[1] += 1
        out = {}
        for key, per_pid in parts.items():
            by_pid = {pid: np.array(v, dtype=np.int64)
                      for pid, (v, _) in per_pid.items()}
            allv = np.concatenate(list(by_pid.values()))
            n = len(allv)
            h1, h2 = hashing.hash_tokens(allv, "metro")
            if kind == "hll":
                regs = hll_kernel.new_state(p["m"])
                np.maximum.at(regs, *hll_kernel.index_and_rank(h1, p["m"]))
                blob = HLLState(p["m"], regs, n).to_bytes()
            elif kind == "bloom":
                blob = self._bloom_bytes(h1, h2, p["m"], p["k"])
            else:
                mat = cms.new_state(p["d"], p["w"])
                pos = cms.positions(h1, h2, p["d"], p["w"])
                for r in range(p["d"]):
                    np.add.at(mat[r], pos[:, r], np.uint64(1))
                cstate = CMSState(p["d"], p["w"], mat, n)
                if kind == "cms":
                    blob = cstate.to_bytes()
                else:  # top k·slack exact local counts per partition
                    cand: dict = {}
                    for v in by_pid.values():
                        ic = topk.IntCounts(element)
                        ic.update(v)
                        for e, c in ic.top(p["k"] * p["slack"]):
                            cand[e] = cand.get(e, 0) + c
                    blob = TopKState(p["k"], p["eps"], p["fail_prob"],
                                     cstate, cand).to_bytes()
            out[key] = (self._canonical(blob), n, len(per_pid),
                        {pid: c for pid, (_, c) in per_pid.items()})
        return out

    JOBS = [  # (name, kind, value col, key col, element)
        ("hll_src", "hll", "tokens", "src", "tokens"),
        ("hll_lang", "hll", "tokens", "lang", "tokens"),
        ("hll_all", "hll", "tokens", None, "tokens"),
        ("cms_src", "cms", "tokens", "src", "tokens"),
        ("cms_lang", "cms", "tokens", "lang", "tokens"),
        ("bloom_all", "bloom", "tokens", None, "tokens"),
        ("bloom_src", "bloom", "tokens", "src", "tokens"),
        ("topk_src", "topk", "tokens", "src", "tokens"),
        ("topk_all", "topk", "tokens", None, "tokens"),
        ("hll_big", "hll", "big", None, "tokens"),
        ("cms_big", "cms", "big", "lang", "tokens"),
        ("hll_small", "hll", "small32", "src", "int32"),
        ("cms_small", "cms", "small32", None, "int32"),
        ("topk_small", "topk", "small32", "lang", "int32"),
        ("hll_wide", "hll", "wide32", "lang", "int32"),
        ("bloom_wide", "bloom", "wide32", "src", "int32"),
        ("topk_wide", "topk", "wide32", None, "int32"),
    ]

    @pytest.fixture
    def small_batches(self, spark):
        # several Arrow batches per partition
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "97")
        yield
        spark.conf.set(key, old)

    def test_multi_sketch_agg_matches_per_element_reference(
            self, spark, data, small_batches):
        from gostatix_spark.agg import multi_sketch_agg
        df, rows = data
        got = {(r["sketch_name"], r["key"]): r for r in multi_sketch_agg(df, [
            {"name": name, "kind": kind, "value_col": vcol,
             "key_col": kcol, "element": element,
             "params": self.PARAMS[kind]}
            for name, kind, vcol, kcol, element in self.JOBS]).collect()}
        for name, kind, vcol, kcol, element in self.JOBS:
            ref = self._reference(rows, kind, vcol, kcol, element)
            assert {k for n, k in got if n == name} == set(ref), name
            for key, (blob, n_items, n_partials, _) in ref.items():
                r = got[(name, key)]
                assert self._canonical(bytes(r["state"])) == blob, (name, key)
                assert (r["n_items"], r["n_partials"]) == (
                    n_items, n_partials), (name, key)

    @pytest.mark.parametrize("kind,vcol,kcol,element", [
        ("cms", "tokens", "src", "tokens"),
        ("topk", "tokens", "src", "tokens"),
        ("hll", "tokens", None, "tokens"),
        ("hll", "tokens", "src", "tokens"),
        ("bloom", "wide32", "src", "int32"),
    ])
    def test_sketch_agg_partials_and_states(self, spark, data, small_batches,
                                            kind, vcol, kcol, element):
        df, rows = data
        ref = self._reference(rows, kind, vcol, kcol, element)
        kw = dict(key_col=kcol, element=element, **self.PARAMS[kind])
        parts = sketch_agg(df, kind, vcol, _return_partials=True,
                           **kw).collect()
        # rows_consumed counts rows with empty arrays, not null keys
        consumed = {(r[kcol] if kcol else None, r["partition_id"]):
                    r["rows_consumed"] for r in parts}
        want = {(key, pid): c for key, v in ref.items()
                for pid, c in v[3].items()}
        assert consumed == want
        states = sketch_agg(df, kind, vcol, **kw).collect()
        assert len(states) == len(ref)
        for r in states:
            blob, n_items, n_partials, _ = ref[r[kcol] if kcol else None]
            assert self._canonical(bytes(r["state"])) == blob
            assert (r["n_items"], r["n_partials"]) == (n_items, n_partials)

    @pytest.mark.parametrize("vcol,element,empty_partition", [
        ("tokens", "tokens", False),  # dense grid: distinct-first
        ("wide32", "int32", False),  # wide grid: per element
        ("src", "string", False),  # a quarter null values
        ("src", "string", True),
    ])
    def test_bloom_build_sharded_matches_per_element_reference(
            self, spark, data, small_batches, vcol, element,
            empty_partition):
        """``bloom_build_sharded`` folds through the same engine, keyed
        by shard: each shard's state, ``n_items`` and ``n_partials``
        equal a per-element numpy fold that routes each element by
        ``shard_of(h1)``, and every partition, an empty one too, emits
        one partial per shard that counts all of its rows."""
        from collections import Counter

        from gostatix_spark import hashing
        from gostatix_spark.agg import (_build_partials, _sketch_job,
                                        bloom_build_sharded)
        df, rows = data
        if empty_partition:  # two langs fill at most two of five
            df = df.repartition(5, "lang")
            rows = [(r["pid"], r) for r in df.withColumn(
                "pid", F.spark_partition_id()).collect()]
        n_parts = df.rdd.getNumPartitions()
        rows_per_pid = Counter(pid for pid, _ in rows)
        assert (len(rows_per_pid) < n_parts) == empty_partition
        shards, n, eps = 4, 3000, 0.02
        n_per = -(-n // shards)
        m = params.bloom_filter_size(n_per, eps)
        k = params.bloom_num_hashes(m, n_per)

        vals = [v for _, r in rows
                for v in (r[vcol] if element == "tokens" else [r[vcol]])
                if v is not None]
        if element == "string":
            h1, h2 = hashing.hash_bytes_batch([v.encode() for v in vals])
        else:
            h1, h2 = hashing.hash_tokens(np.array(vals, np.int64), "metro")
        shard = hashing.shard_of(h1, shards)
        want = {s: (self._bloom_bytes(h1[shard == s], h2[shard == s], m, k),
                    int((shard == s).sum()), n_parts)
                for s in range(shards)}
        got = bloom_build_sharded(df, vcol, n=n, eps=eps, element=element,
                                  n_shards=shards).collect()
        assert {r["shard"]: (bytes(r["state"]), r["n_items"],
                             r["n_partials"]) for r in got} == want

        job = _sketch_job(df, "bloom", vcol, None, element,
                          {"m": m, "k": k}, n_shards=shards)
        consumed = {(r["shard"], r["partition_id"]): r["rows_consumed"]
                    for r in _build_partials(df, [job]).collect()}
        assert consumed == {(s, pid): rows_per_pid[pid]
                            for s in range(shards) for pid in range(n_parts)}
