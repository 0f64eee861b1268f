"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing — correctness against exact oracles computed in
Spark itself (the driver re-checks a subset against DuckDB)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gostatix_spark import dedup, multimodal, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    return df


class TestModMul:
    def test_mulmod61_matches_python_ints(self):
        rng = np.random.default_rng(3)
        a = rng.integers(0, dedup._MERSENNE, 200).astype(np.uint64)
        x = rng.integers(0, 2**63, 200).astype(np.uint64)
        got = dedup._mulmod61(a, dedup._red61(x))
        want = [(int(ai) * (int(xi) % dedup._MERSENNE)) % dedup._MERSENNE
                for ai, xi in zip(a, x)]
        assert got.tolist() == want


class TestExactDedup:
    def test_groups_match_sql(self, spark, docs):
        got = dedup.exact_dedup(docs, "text", "doc_id")
        n_groups = got.count()
        n_distinct = docs.select(F.md5(F.lower(F.trim("text")))).distinct().count()
        assert n_groups == n_distinct
        assert got.agg(F.sum("n_dupes")).collect()[0][0] == docs.count()


class TestMinHash:
    def test_identical_docs_found(self, spark, docs):
        # plant exact duplicates with distinct ids, then near-dup search
        base = docs.limit(20).select("doc_id", "text")
        dupes = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        planted = base.unionByName(dupes)
        pairs = dedup.minhash_dedup_pairs(planted, "text", "doc_id",
                                          threshold=0.9, num_perm=64, bands=16)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        want = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in base.collect()}
        assert want <= got  # identical docs always share all buckets
        for r in pairs.where(F.col("id_b") - F.col("id_a") == 1_000_000).collect():
            assert r["jaccard"] == 1.0

    def test_signature_similarity_tracks_jaccard(self, spark):
        rows = [(1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different text with nothing shared here")]
        df = spark.createDataFrame(rows, ["id", "text"])
        sigs = {r["id"]: r["sig"] for r in
                dedup.minhash_signatures(df, "text", "id", num_perm=128)
                .collect()}
        sim12 = np.mean(np.array(sigs[1]) == np.array(sigs[2]))
        sim13 = np.mean(np.array(sigs[1]) == np.array(sigs[3]))
        assert sim12 > 0.5 > sim13


class TestSimHash:
    def test_near_pairs(self, spark):
        base = " ".join(f"word{i}" for i in range(60))
        rows = [(1, base),
                (2, base + " extra"),      # long doc, 1-word edit → small hamming
                (3, " ".join(f"other{i}" for i in range(60)))]
        df = spark.createDataFrame(rows, ["id", "text"])
        sims = dedup.simhash(df, "text", "id")
        pairs = dedup.simhash_near_pairs(sims, max_hamming=16).collect()
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
        assert (1, 2) in got
        assert got.get((1, 3), 99) > got[(1, 2)]
        # pigeonhole completeness: exact self-duplicate always found
        dup = df.unionByName(
            df.where("id = 1").select(F.lit(10).alias("id"), "text"))
        p2 = dedup.simhash_near_pairs(dedup.simhash(dup, "text", "id"),
                                      max_hamming=3).collect()
        assert any(r["id_a"] == 1 and r["id_b"] == 10 and r["hamming"] == 0
                   for r in p2)

    def test_empty_text(self, spark):
        df = spark.createDataFrame([(1, ""), (2, "x")], ["id", "text"])
        got = {r["id"]: r["simhash"] for r in
               dedup.simhash(df, "text", "id").collect()}
        assert got[1] == 0

    def test_hot_bucket_cap(self, spark):
        """max_bucket_size bounds quadratic blocks: a 20-doc identical
        block (every chunk bucket hot) is pruned, while a planted pair
        whose buckets stay cold is still found."""
        base = " ".join(f"word{i}" for i in range(60))
        hot_block = [(i, base) for i in range(100, 120)]
        cold_pair = [(1, " ".join(f"unique{i}" for i in range(60))),
                     (2, " ".join(f"unique{i}" for i in range(60)) + " tail")]
        df = spark.createDataFrame(hot_block + cold_pair, ["id", "text"])
        sims = dedup.simhash(df, "text", "id")
        capped = {(r["id_a"], r["id_b"]) for r in
                  dedup.simhash_near_pairs(sims, max_hamming=16,
                                           max_bucket_size=5).collect()}
        assert (1, 2) in capped                       # cold pair survives
        assert not any(a >= 100 and b >= 100 for a, b in capped)  # hot pruned
        # without the cap the hot block's pairs are all present
        full = {(r["id_a"], r["id_b"]) for r in
                dedup.simhash_near_pairs(sims, max_hamming=16).collect()}
        assert (100, 101) in full and (1, 2) in full

    def test_eager_releases_signature_cache(self, spark):
        """The default eager path must UNPERSIST the signature table
        before returning (ADVICE r4): repeated calls in one session
        must not accumulate pinned caches. The materialized pair set
        stays readable after the release."""
        df = spark.createDataFrame(
            [(i, f"doc {i} " + "shared tail " * 10) for i in range(20)],
            ["id", "text"])
        sims = dedup.simhash(df, "text", "id")
        out = dedup.simhash_near_pairs(sims, max_hamming=8)
        lvl = sims.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), lvl
        out.count()  # checkpointed result outlives the released cache

        sims2 = dedup.simhash(df, "text", "id")
        out2 = dedup.simhash_manku_pairs(sims2, max_hamming=6)
        lvl2 = sims2.storageLevel
        assert not (lvl2.useMemory or lvl2.useDisk), lvl2
        out2.count()

    def test_manku_complete_at_hamming_6(self, spark):
        """Permuted-table probing (VERDICT r3 stretch): planted pairs
        at hamming 1-6 over random 64-bit signatures must ALL be found
        (pigeonhole over block subsets is exact), nothing beyond the
        radius is emitted, and the candidate join stays on 16-bit keys
        rather than the plain pigeonhole's 9-bit chunks."""
        rng = np.random.default_rng(11)
        base_sigs = rng.integers(-(1 << 63), 1 << 63, 200, dtype=np.int64)
        rows = [(i, int(s)) for i, s in enumerate(base_sigs)]
        planted = {}
        for j in range(20):
            k = 1 + j % 6
            src = int(base_sigs[j])
            flip = rng.choice(64, size=k, replace=False)
            mut = src
            for b in flip:
                mut ^= 1 << int(b)
            mut = mut - (1 << 64) if mut >= (1 << 63) else mut
            rows.append((1000 + j, int(mut)))
            planted[(j, 1000 + j)] = k
        sims = spark.createDataFrame(rows, "id long, simhash long")
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
               dedup.simhash_manku_pairs(sims, max_hamming=6).collect()}
        for pair, k in planted.items():
            assert got.get(pair) == k, (pair, k, got.get(pair))
        assert all(h <= 6 for h in got.values())

    def test_manku_matches_plain_pigeonhole_at_radius_3(self, spark):
        """Both schemes are complete at hamming ≤ 3, so on the same
        signatures they must return the identical pair set."""
        rng = np.random.default_rng(5)
        sigs = rng.integers(-(1 << 63), 1 << 63, 80, dtype=np.int64)
        rows = [(i, int(s)) for i, s in enumerate(sigs)]
        for j in range(1, 9):  # plant near-dups at hamming 1 and 3
            mut = int(sigs[j]) ^ (1 << (j * 7)) ^ (3 if j % 2 else 0)
            mut = mut - (1 << 64) if mut >= (1 << 63) else mut
            rows.append((500 + j, int(mut)))
        sims = spark.createDataFrame(rows, "id long, simhash long")
        manku = {(r["id_a"], r["id_b"], r["hamming"]) for r in
                 dedup.simhash_manku_pairs(sims, max_hamming=3).collect()}
        plain = {(r["id_a"], r["id_b"], r["hamming"]) for r in
                 dedup.simhash_near_pairs(sims, max_hamming=3).collect()}
        assert manku == plain and len(manku) >= 8

    def test_manku_hot_bucket_cap(self, spark):
        """A 30-doc identical-signature block is hot in EVERY table;
        the cap prunes it while a cold planted pair survives."""
        rows = [(i, 123456789) for i in range(30)]
        rows += [(100, 1 << 40), (101, (1 << 40) ^ 3)]
        sims = spark.createDataFrame(rows, "id long, simhash long")
        got = {(r["id_a"], r["id_b"]) for r in
               dedup.simhash_manku_pairs(sims, max_hamming=6,
                                         max_bucket_size=10).collect()}
        assert (100, 101) in got
        assert not any(a < 30 and b < 30 for a, b in got)


class TestEmbeddingDedup:
    def test_exact_matches_numpy(self, spark, emb):
        sub = emb.where("vec_id < 60")
        got = {(r["id_a"], r["id_b"]) for r in
               dedup.embedding_dedup_pairs(sub, "vec_id", "embedding",
                                           threshold=0.8,
                                           method="exact").collect()}
        rows = sub.collect()
        ids = [r["vec_id"] for r in rows]
        mat = np.stack([np.array(r["embedding"], dtype=np.float64)
                        for r in rows])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = mat @ mat.T
        want = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
                for i in range(len(ids)) for j in range(i + 1, len(ids))
                if cos[i, j] >= 0.8}
        assert got == want

    def test_lsh_finds_planted_duplicates(self, spark, emb):
        """Planted exact duplicates have cosine 1 → identical
        hyperplane signatures → every chunk matches → the LSH path can
        never miss them; precision is exact by construction."""
        base = emb.limit(25).select("vec_id", "embedding")
        dupes = base.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                            "embedding")
        planted = base.unionByName(dupes)
        pairs = dedup.embedding_dedup_pairs(planted, "vec_id", "embedding",
                                            threshold=0.999, method="lsh")
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        want = {(r["vec_id"], r["vec_id"] + 1_000_000)
                for r in base.collect()}
        assert want <= got
        # precision: every emitted pair genuinely has cosine >= threshold
        exact = {(r["id_a"], r["id_b"]) for r in
                 dedup.embedding_dedup_pairs(planted, "vec_id", "embedding",
                                             threshold=0.999,
                                             method="exact").collect()}
        assert got <= exact


class TestConnectedComponents:
    """dedup.connected_components — alternating large/small-star
    contraction (Kiveris et al., SoCC'14) vs a pure-python union-find
    oracle."""

    @staticmethod
    def _union_find(edges):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        nodes = set()
        for a, b in edges:
            nodes |= {a, b}
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    def _check(self, spark, edges):
        df = spark.createDataFrame(edges, "id_a: long, id_b: long")
        got = {r["node"]: r["component"]
               for r in dedup.connected_components(df).collect()}
        assert got == self._union_find(edges)

    def test_random_graph_matches_union_find(self, spark):
        rng = np.random.default_rng(11)
        edges = [(int(a), int(b))
                 for a, b in rng.integers(0, 300, size=(250, 2))
                 if a != b]
        self._check(spark, edges)

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 64-node chain has diameter 63: naive min-label propagation
        # would need 63 rounds; star contraction must do it inside the
        # default max_iter=25 (and in practice ~6)
        edges = [(i, i + 1) for i in range(63)]
        self._check(spark, edges)

    def test_duplicate_and_reversed_edges(self, spark):
        edges = [(1, 2), (2, 1), (1, 2), (5, 4), (4, 5), (9, 9)]
        df = spark.createDataFrame(edges, "id_a: long, id_b: long")
        got = {r["node"]: r["component"]
               for r in dedup.connected_components(df).collect()}
        # self-loop (9,9) is dropped — 9 is isolated, not emitted
        assert got == {1: 1, 2: 1, 4: 4, 5: 4}

    def test_empty_input(self, spark):
        df = spark.createDataFrame([], "id_a: long, id_b: long")
        assert dedup.connected_components(df).count() == 0


class TestNgramJaccard:
    def test_matches_python_reference(self, spark):
        rows = [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")]
        df = spark.createDataFrame(rows, ["id", "text"])
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.ngram_jaccard_pairs(df, "text", "id", n=3,
                                                  threshold=0.0).collect()}

        def grams(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        for (i, ti), (j, tj) in [((1, rows[0][1]), (2, rows[1][1])),
                                 ((1, rows[0][1]), (3, rows[2][1]))]:
            gi, gj = grams(ti), grams(tj)
            want = len(gi & gj) / len(gi | gj)
            if want > 0:
                assert got[(i, j)] == pytest.approx(want)
            else:
                assert (i, j) not in got


class TestSimilarity:
    def test_brute_force_matches_numpy(self, spark, emb):
        queries = (emb.limit(3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        got = similarity.brute_force_topk(emb, queries, k=5).collect()
        # numpy oracle
        rows = emb.collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
        mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        for q in queries.collect():
            qv = np.array(q["q_vec"], dtype=np.float64)
            qv = qv / np.linalg.norm(qv)
            cos = mat_n @ qv
            order = np.lexsort((ids, -cos))[:5]
            want = ids[order].tolist()
            mine = [r["vec_id"] for r in sorted(
                (r for r in got if r["q_id"] == q["q_id"]),
                key=lambda r: r["rank"])]
            assert mine == want
            # rank 1 must be the query itself (cosine 1 with itself)
            assert mine[0] == q["q_id"]

    def test_lsh_recall_reasonable(self, spark, emb):
        dim = len(emb.first()["embedding"])
        queries = (emb.limit(5)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        exact = similarity.brute_force_topk(emb, queries, k=5).collect()
        approx = similarity.lsh_topk(emb, queries, k=5, dim=dim,
                                     n_bits=8, prefix_bits=2).collect()
        ex = {(r["q_id"], r["vec_id"]) for r in exact}
        ap = {(r["q_id"], r["vec_id"]) for r in approx}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.4  # coarse buckets, tiny data — sanity floor
        # the query itself always lands in its own bucket
        assert all((q, q) in ap for q, _ in ex if (q, q) in ex)

    def test_persisted_index_equals_on_the_fly(self, spark, emb):
        """build_lsh_index + lsh_topk_indexed must return exactly what
        lsh_topk computes on the fly (same seed → same hyperplanes),
        and the index scan must be partition-pruned to the probed
        buckets."""
        import tempfile
        dim = len(emb.first()["embedding"])
        queries = (emb.limit(4)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/lsh_index"
            similarity.build_lsh_index(emb, path, dim=dim,
                                       n_bits=8, prefix_bits=3)
            got = similarity.lsh_topk_indexed(spark, path, queries, k=5)
            fly = similarity.lsh_topk(emb, queries, k=5, dim=dim,
                                      n_bits=8, prefix_bits=3)
            g = {(r["q_id"], r["rank"], r["vec_id"]) for r in got.collect()}
            f = {(r["q_id"], r["rank"], r["vec_id"]) for r in fly.collect()}
            assert g == f and len(g) > 0
            # partition pruning: the index scan carries a static
            # bkt IN (...) partition filter (inputFiles() can't show
            # this — it lists pre-filter — so assert on the plan)
            plan = got._jdf.queryExecution().executedPlan().toString()
            scan = next(ln for ln in plan.splitlines()
                        if "FileScan" in ln and "PartitionFilters: [bkt" in ln)
            assert " IN (" in scan

    def test_ivf_full_probe_equals_brute_force(self, spark, emb):
        """IVF with nprobe = n_centroids probes EVERY inverted list, so
        the result must equal exact brute force — proves the index
        partitions the data without losing or duplicating any vector.
        Small nprobe must prune the scan (static cid partition filter)
        and keep decent recall; each query's own vector is always found
        (it sits in the query's nearest list by construction)."""
        import tempfile
        queries = (emb.limit(4)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/ivf_index"
            similarity.build_ivf_index(emb, path, n_centroids=16,
                                       train_rows=500)
            exact = similarity.brute_force_topk(emb, queries, k=5)
            full = similarity.ivf_topk(spark, path, queries, k=5,
                                       nprobe=16)
            ex = {(r["q_id"], r["rank"], r["vec_id"])
                  for r in exact.collect()}
            fu = {(r["q_id"], r["rank"], r["vec_id"])
                  for r in full.collect()}
            assert ex == fu and len(ex) == 20
            few = similarity.ivf_topk(spark, path, queries, k=5, nprobe=4)
            rows = few.collect()
            ap = {(r["q_id"], r["vec_id"]) for r in rows}
            recall = len({(a, b) for a, _, b in ex} & ap) / len(ex)
            assert recall >= 0.4
            assert all((q["q_id"], q["q_id"]) in ap
                       for q in queries.collect())
            plan = few._jdf.queryExecution().executedPlan().toString()
            # the index scan must carry a partition filter on cid (the
            # IN-list itself is often elided by plan truncation)
            assert any("FileScan" in ln and "PartitionFilters: [cid" in ln
                       for ln in plan.splitlines()), plan

    def test_ivf_build_deterministic(self, spark, emb):
        """Same seed → identical centroids and identical assignment —
        index rebuilds are reproducible (the sidecar pins the
        quantizer)."""
        import json
        import tempfile
        with tempfile.TemporaryDirectory() as tmp:
            p1, p2 = f"{tmp}/a", f"{tmp}/b"
            for p in (p1, p2):
                similarity.build_ivf_index(emb, p, n_centroids=8,
                                           train_rows=300, seed=7)
            s1 = json.load(open(f"{p1}/_ivf_index.json"))
            s2 = json.load(open(f"{p2}/_ivf_index.json"))
            assert s1["centroids"] == s2["centroids"]
            a1 = {r["vec_id"]: r["cid"] for r in
                  spark.read.parquet(p1).collect()}
            a2 = {r["vec_id"]: r["cid"] for r in
                  spark.read.parquet(p2).collect()}
            assert a1 == a2

    def test_index_sidecar_rejects_object_store_paths(self, spark, emb):
        """The JSON sidecars go through driver-local open(); a
        non-local scheme must fail loudly up front (ADVICE r4), not
        write the sidecar onto the driver's disk while the parquet
        lands remotely."""
        q = emb.limit(1).selectExpr("vec_id as q_id", "embedding as q_vec")
        for fn in (lambda: similarity.build_ivf_index(
                       emb, "s3://bucket/ivf", n_centroids=4, train_rows=50),
                   lambda: similarity.ivf_topk(spark, "s3://bucket/ivf", q),
                   lambda: similarity.build_lsh_index(
                       emb, "hdfs://nn/lsh"),
                   lambda: similarity.lsh_topk_indexed(
                       spark, "hdfs://nn/lsh", q)):
            with pytest.raises(ValueError, match="sidecar"):
                fn()


class TestTextStats:
    def test_token_stats_consistent(self, spark, docs):
        got = textstats.token_stats(docs, "text", "doc_id")
        bad = got.where(
            (F.col("n_chars") <= 0) | (F.col("n_ws_tokens") <= 0)
            | (F.col("est_bpe_tokens") < F.col("n_ws_tokens") / 10)).count()
        assert bad == 0
        one = docs.select("doc_id", "text").first()
        row = got.where(F.col("doc_id") == one["doc_id"]).first()
        assert row["n_ws_tokens"] == len(one["text"].split(" "))
        assert row["n_chars"] == len(one["text"])

    def test_repetition_features_hand_computed(self, spark):
        rows = [(1, "a b a b c"),   # words a×2 b×2 c×1; bigrams
                                    # "a b"×2, "b a", "b c"
                (2, "x"),           # single word: no bigrams
                (3, "y y y y")]     # total repetition
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r["doc_id"]: r for r in
               textstats.repetition_features(df, "text", "doc_id")
               .collect()}
        r1 = got[1]
        assert r1["n_words"] == 5
        assert r1["distinct_word_frac"] == 0.6
        assert r1["top_word_frac"] == 0.4
        assert r1["top_bigram_frac"] == 0.5    # "a b" twice of 4
        assert r1["dup_bigram_frac"] == 0.5
        r2 = got[2]
        assert r2["n_words"] == 1
        assert r2["distinct_word_frac"] == 1.0
        assert r2["top_bigram_frac"] == 0.0    # guarded, not null
        r3 = got[3]
        assert r3["distinct_word_frac"] == 0.25
        assert r3["top_word_frac"] == 1.0
        assert r3["top_bigram_frac"] == 1.0
        assert r3["dup_bigram_frac"] == 1.0

    def test_language_id_english_corpus(self, spark, docs):
        got = textstats.language_id(docs, "text", "doc_id")
        # synthetic corpus is english-ish keyword soup: nothing should
        # crash, every guess is one of the known codes or 'und'
        langs = {r["lang_guess"] for r in got.select("lang_guess").distinct().collect()}
        assert langs <= {"en", "de", "fr", "es", "und"}

    def test_language_id_known_samples(self, spark):
        rows = [(1, "the cat and the dog is here"),
                (2, "der Hund und die Katze ist hier"),
                (3, "le chat et le chien est ici"),
                (4, "zzz qqq")]
        df = spark.createDataFrame(rows, ["id", "text"])
        got = {r["id"]: r["lang_guess"] for r in
               textstats.language_id(df, "text", "id").collect()}
        assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
        assert got[4] == "und"

    def test_winnowing_shared_fingerprints(self, spark):
        rows = [(1, "identical prefix shared by both documents plus tail one"),
                (2, "identical prefix shared by both documents plus tail two"),
                (3, "nothing in common at all here really truly")]
        df = spark.createDataFrame(rows, ["id", "text"])
        got = {r["id"]: set(r["fingerprints"]) for r in
               textstats.winnowing_fingerprints(df, "text", "id").collect()}
        assert len(got[1] & got[2]) > len(got[1] & got[3])


class TestMultimodal:
    def test_decode_and_frame_sample(self, spark):
        assets = multimodal.make_assets(spark, 30, codec="fake")
        feats = multimodal.decode_features(assets, out_dim=8)
        rows = feats.collect()
        assert len(rows) == 30
        assert all(len(r["features"]) == 8 for r in rows)
        # determinism: same asset id → same features
        again = {r["asset_id"]: r["features"]
                 for r in multimodal.decode_features(assets, out_dim=8).collect()}
        for r in rows:
            assert again[r["asset_id"]] == r["features"]
        frames = multimodal.frame_sample(assets, every_n=2, frame_bytes=32)
        fr = frames.collect()
        assert len(fr) == 10 * (256 // 32 // 2)  # 10 videos × 4 sampled frames
        assert all(len(r["frame"]) == 32 for r in fr)

    def test_zraw_tiny_payload_decodes(self, spark):
        """payload_bytes < 16 used to record image meta 1×16 over a
        shorter payload and fail the shape validation on legitimately
        generated assets."""
        for pb in (1, 3, 15):
            assets = multimodal.make_assets(spark, 6, codec="zraw",
                                            payload_bytes=pb)
            rows = multimodal.decode_features(assets, out_dim=4).collect()
            assert len(rows) == 6

    def test_text_assets_roundtrip_and_validation(self, spark):
        """text → asset → decode_payloads reproduces the source bytes
        through all three real codecs (wav/zraw/pgm, routed id mod 3;
        empty text falls back to zraw — P5/WAV need ≥1 sample);
        corrupt n_samples metadata fails loudly."""
        rows = [(0, "wav leg bytes"), (1, "hello multimodal world"),
                (2, "pgm leg größere zeichen ÄÖÜ"), (3, "second wav leg"),
                (4, "second zraw leg"),
                (5, "long pgm leg: " + "v" * 400),
                (6, "long wav leg: " + "x" * 300),
                (7, ""), (9, "w!"), (10, "third zraw leg"),
                (11, "second pgm leg ÄÖÜ"), (12, "tiny wav"),
                (13, "tiny zraw")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        assets = multimodal.text_assets(df, "text", "doc_id")
        codecs = {r["asset_id"]: r["meta"]["codec"]
                  for r in assets.collect()}
        assert codecs == {0: "wav", 1: "zraw", 2: "pgm", 3: "wav",
                          4: "zraw", 5: "pgm", 6: "wav", 7: "zraw",
                          9: "wav", 10: "zraw", 11: "pgm",
                          12: "wav", 13: "zraw"}
        media = {r["asset_id"]: bytes(r["media"]) for r in assets.collect()}
        # the wav and pgm legs are REAL files: RIFF/WAVE and P5 headers
        assert media[6][:4] == b"RIFF" and media[6][8:12] == b"WAVE"
        assert media[5].startswith(b"P5\n%d 1\n255\n" % len(rows[5][1]))
        got = {r["asset_id"]: bytes(r["payload"]) for r in
               multimodal.decode_payloads(assets).collect()}
        for i, t in rows:
            assert got[i] == t.encode("utf-8")
        bad = assets.withColumn(
            "meta", F.create_map(F.lit("codec"), F.lit("zraw"),
                                 F.lit("n_samples"), F.lit("9999")))
        with pytest.raises(Exception):
            multimodal.decode_payloads(bad).collect()

    def test_zraw_real_decode_roundtrip(self, spark):
        """zraw is a REAL decode: payloads are zlib-compressed sample
        arrays, and the pipeline's features must equal pooling the
        original raw samples reconstructed independently here."""
        import zlib
        assets = multimodal.make_assets(spark, 24, codec="zraw",
                                        payload_bytes=256)
        raw_rows = assets.collect()
        # payloads really are compressed (not the raw bytes)
        assert all(len(bytes(r["media"])) != 256 for r in raw_rows)
        feats = {r["asset_id"]: r["features"] for r in
                 multimodal.decode_features(assets, out_dim=8).collect()}
        for r in raw_rows:
            raw = np.frombuffer(zlib.decompress(bytes(r["media"])),
                                dtype=np.uint8)
            if r["kind"] == "image":
                h, w = int(r["meta"]["height"]), int(r["meta"]["width"])
                assert len(raw) == h * w
            want = raw.astype(np.float32).reshape(-1, 8).mean(axis=0) / 255.0
            got = np.array(feats[r["asset_id"]], dtype=np.float32)
            assert np.allclose(got, want, atol=1e-6), r["asset_id"]

    def test_zraw_corrupt_payload_fails_loudly(self, spark):
        import pytest as _pt
        from pyspark.sql import Row
        bad = spark.createDataFrame(
            [Row(asset_id=1, kind="image", media=b"not-zlib",
                 meta={"codec": "zraw", "kind": "image",
                       "height": "4", "width": "4"})],
            multimodal.ASSET_SCHEMA)
        with _pt.raises(Exception):
            multimodal.decode_features(bad, out_dim=4).collect()

    def test_meta_without_codec_raises_on_every_surface(self, spark):
        """A row whose meta names no codec fails on all three decode
        surfaces, instead of one reading it as zraw and another as the
        fake stub."""
        import zlib
        from pyspark.sql import Row
        bad = spark.createDataFrame(
            [Row(asset_id=1, kind="video",
                 media=zlib.compress(bytes(range(16))), meta={})],
            multimodal.ASSET_SCHEMA)
        for run in (multimodal.decode_payloads, multimodal.frame_sample,
                    lambda df: multimodal.decode_features(df, out_dim=4)):
            with pytest.raises(Exception, match="names no codec"):
                run(bad).collect()

    def test_frame_sample_decodes_real_codec_first(self, spark):
        """Frames from zraw videos must come from the DECODED sample
        stream (verified against an independent zlib.decompress), not
        from slices of the compressed payload."""
        import zlib
        assets = multimodal.make_assets(spark, 9, codec="zraw",
                                        payload_bytes=256)
        frames = {}
        for r in multimodal.frame_sample(assets, every_n=2,
                                         frame_bytes=32).collect():
            frames[(r["asset_id"], r["frame_no"])] = bytes(r["frame"])
        vids = {r["asset_id"]: bytes(r["media"])
                for r in assets.collect() if r["kind"] == "video"}
        assert vids and frames
        for aid, media in vids.items():
            raw = zlib.decompress(media)
            for fno in range(0, len(raw) // 32, 2):
                assert frames[(aid, fno)] == raw[fno * 32:(fno + 1) * 32]

    def test_wav_codec_against_independent_riff_parse(self):
        """The WAV path is a REAL RIFF/WAVE codec: our encoder's bytes
        must parse as a well-formed RIFF container (verified here with
        a hand-written struct parse, independent of both our decoder
        and the stdlib wave module), and our decoder must invert a WAV
        file CONSTRUCTED from raw struct packing."""
        import struct
        samples = np.arange(-500, 500, 7, dtype=np.int16)
        enc = multimodal._wav_bytes(samples, framerate=8000)
        # independent parse of the produced container
        assert enc[0:4] == b"RIFF" and enc[8:12] == b"WAVE"
        assert struct.unpack("<I", enc[4:8])[0] == len(enc) - 8
        assert enc[12:16] == b"fmt "
        fmt_size = struct.unpack("<I", enc[16:20])[0]
        audio_fmt, nch, rate, _brate, _align, bits = struct.unpack(
            "<HHIIHH", enc[20:36])
        assert (audio_fmt, nch, rate, bits) == (1, 1, 8000, 16)
        data_off = 20 + fmt_size
        assert enc[data_off:data_off + 4] == b"data"
        n_bytes = struct.unpack("<I", enc[data_off + 4:data_off + 8])[0]
        assert enc[data_off + 8:data_off + 8 + n_bytes] == samples.tobytes()
        # decoder inverts an externally struct-packed WAV (8-bit PCM)
        pcm8 = np.arange(256, dtype=np.uint8)
        ext = (b"RIFF" + struct.pack("<I", 36 + len(pcm8)) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000,
                                       16000, 1, 8)
               + b"data" + struct.pack("<I", len(pcm8)) + pcm8.tobytes())
        got = multimodal._wav_raw(ext, {"n_samples": "256"})
        assert got.dtype == np.uint8 and np.array_equal(got, pcm8)
        # round trip through our own pair
        rt = multimodal._wav_raw(enc, {"n_samples": str(len(samples))})
        assert rt.dtype == np.int16 and np.array_equal(rt, samples)
        # corrupt container fails loudly
        with pytest.raises(Exception):
            multimodal._wav_raw(enc[:30], {})
        # meta contradiction fails loudly
        with pytest.raises(ValueError):
            multimodal._wav_raw(enc, {"n_samples": "1"})

    def test_pgm_codec_against_independent_bytes(self):
        """The PGM path is a REAL netpbm codec: decode a hand-written
        P5 file (with a header comment), and check our encoder emits
        exactly the canonical header + raster."""
        img = np.arange(12, dtype=np.uint8).reshape(3, 4)
        ext = b"P5\n# a comment\n4 3\n255\n" + img.tobytes()
        got = multimodal._pgm_raw(ext, {"height": "3", "width": "4"})
        assert np.array_equal(got, img)
        enc = multimodal._pgm_bytes(img)
        assert enc == b"P5\n4 3\n255\n" + img.tobytes()
        assert np.array_equal(multimodal._pgm_raw(enc, {}), img)
        with pytest.raises(ValueError):
            multimodal._pgm_raw(ext[:-3], {})          # truncated raster
        with pytest.raises(ValueError):
            multimodal._pgm_raw(b"P6" + ext[2:], {})   # wrong magic
        with pytest.raises(ValueError):
            multimodal._pgm_raw(ext, {"height": "4", "width": "3"})

    def test_make_assets_real_codecs_decode(self, spark):
        """codec='real': images are actual PGM files, audio actual WAV
        files, video the zraw stream (no stdlib video container) — all
        three decode through the same pipeline and features match
        pooling the independently decoded samples."""
        assets = multimodal.make_assets(spark, 12, codec="real",
                                        payload_bytes=256)
        rows = assets.collect()
        by_kind = {}
        for r in rows:
            by_kind.setdefault(r["kind"], []).append(r)
        assert {r["meta"]["codec"] for r in by_kind["image"]} == {"pgm"}
        assert {r["meta"]["codec"] for r in by_kind["audio"]} == {"wav"}
        assert {r["meta"]["codec"] for r in by_kind["video"]} == {"zraw"}
        # every image payload is a parseable PGM; audio is a RIFF
        # container
        assert all(bytes(r["media"]).startswith(b"P5\n")
                   for r in by_kind["image"])
        assert all(bytes(r["media"]).startswith(b"RIFF")
                   for r in by_kind["audio"])
        feats = {r["asset_id"]: r["features"] for r in
                 multimodal.decode_features(assets, out_dim=8).collect()}
        assert len(feats) == 12
        for r in rows:
            raw = multimodal._raw_decode(bytes(r["media"]), dict(r["meta"]))
            want = multimodal._pool_features(raw, 8)
            assert np.allclose(np.array(feats[r["asset_id"]]), want,
                               atol=1e-6)
        # payload surface works for the container formats too
        n = multimodal.decode_payloads(assets).count()
        assert n == 12


class TestNgramGramCap:
    def test_capped_still_finds_planted_dups(self, spark, docs):
        """max_gram_df drops only hot grams from the pairing join;
        planted exact duplicates share *all* their grams, so they must
        survive any cap that keeps their rarer grams."""
        base = docs.limit(15).select("doc_id", "text")
        dupes = base.select((F.col("doc_id") + 500_000).alias("doc_id"),
                            "text")
        planted = base.unionByName(dupes)
        capped = dedup.ngram_jaccard_pairs(planted, "text", "doc_id", n=3,
                                           threshold=0.8, max_gram_df=10)
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        want = {(r["doc_id"], r["doc_id"] + 500_000)
                for r in base.collect()}
        assert want <= got

    def test_cap_off_is_exact(self, spark, docs):
        a = dedup.ngram_jaccard_pairs(docs.limit(40), "text", "doc_id",
                                      n=3, threshold=0.3)
        b = dedup.ngram_jaccard_pairs(docs.limit(40), "text", "doc_id",
                                      n=3, threshold=0.3,
                                      max_gram_df=10**9)  # cap above any df
        ra = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
              for r in a.collect()}
        rb = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
              for r in b.collect()}
        assert ra == rb


class TestNgramDecontaminate:
    def test_matches_python_reference(self, spark):
        rows = [(1, "a b c d e f"), (2, "c d e q r s"), (3, "x y z w v u"),
                (11, "a b c d zz"), (22, "w v u t s r")]
        df = spark.createDataFrame(rows, ["id", "text"])
        train = df.where(F.col("id") < 10)
        ev = df.where(F.col("id") >= 10)
        got = {r["id"]: r["n_hit_grams"]
               for r in dedup.ngram_decontaminate(train, ev, "text", "id",
                                                  n=3).collect()}

        def grams(t):
            w = t.lower().split(" ")
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        ev_grams = set().union(*(grams(t) for i, t in rows if i >= 10))
        want = {}
        for i, t in rows:
            if i < 10:
                hits = len(grams(t) & ev_grams)
                if hits:
                    want[i] = hits
        assert got == want

    def test_bloom_and_plain_paths_agree(self, spark, docs):
        """At eps=0.05 the sharded Bloom prefilter lets false positives
        through; the exact semi join after it drops them, so the result
        equals a plain broadcast semi join of the train grams on the
        eval grams."""
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.query import bloom_contains_sharded
        train = docs.where(F.col("doc_id") % 11 != 0)
        ev = docs.where(F.col("doc_id") % 11 == 0)
        got = {(r["id"], r["n_hit_grams"])
               for r in dedup.ngram_decontaminate(train, ev, "text", "doc_id",
                                                  n=3, eps=0.05).collect()}
        tr_grams = dedup._word_grams(train, "text", "doc_id", 3,
                                     distinct=False)
        ev_grams = dedup._word_grams(ev, "text", "doc_id", 3,
                                     distinct=False).select("gram").distinct()
        want = {(r["id"], r["n_hit_grams"]) for r in (
            tr_grams.join(F.broadcast(ev_grams), "gram", "left_semi")
            .distinct().groupBy("id")
            .agg(F.count("*").alias("n_hit_grams")).collect())}
        assert got == want
        assert len(got) > 0
        # the prefilter alone passes train grams the eval set lacks
        states = bloom_build_sharded(ev_grams, "gram", n=ev_grams.count(),
                                     eps=0.05, element="string", n_shards=4)
        shard_map = {r["shard"]: bytes(r["state"]) for r in states.collect()}
        passed = tr_grams.join(ev_grams, "gram", "left_anti").where(
            bloom_contains_sharded(spark, shard_map, F.col("gram"), "string",
                                   n_shards=4))
        assert passed.count() > 0

    def test_empty_eval_returns_nothing(self, spark, docs):
        train = docs.limit(20)
        ev = docs.where(F.lit(False))
        out = dedup.ngram_decontaminate(train, ev, "text", "doc_id", n=3)
        assert out.count() == 0


class TestCrossDocDupFraction:
    def test_matches_python_reference(self, spark):
        rows = [(1, "a b c d e"), (2, "a b c x y"), (3, "p q r s t"),
                (4, "p q r a b c")]
        df = spark.createDataFrame(rows, ["id", "text"])
        got = {r["id"]: (r["n_grams"], r["n_dup_grams"],
                         round(r["dup_frac"], 9))
               for r in dedup.cross_doc_dup_fraction(
                   df, "text", "id", n=3).collect()}

        def grams(t):
            w = t.lower().split(" ")
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        per_doc = {i: grams(t) for i, t in rows}
        want = {}
        for i, gs in per_doc.items():
            dup = sum(1 for g in gs
                      if any(g in o for j, o in per_doc.items() if j != i))
            want[i] = (len(gs), dup, round(dup / len(gs), 9))
        assert got == want
        # planted structure: "a b c" shared by docs 1/2/4, "p q r" by 3/4
        assert want[1] == (3, 1, round(1 / 3, 9))
        assert want[3] == (3, 1, round(1 / 3, 9))
        assert want[4] == (4, 2, 0.5)

    def test_fingerprint_path_equivalent(self, spark, docs):
        sub = docs.limit(150)
        a = {(r["id"], r["n_grams"], r["n_dup_grams"])
             for r in dedup.cross_doc_dup_fraction(
                 sub, "text", "doc_id", n=3).collect()}
        b = {(r["id"], r["n_grams"], r["n_dup_grams"])
             for r in dedup.cross_doc_dup_fraction(
                 sub, "text", "doc_id", n=3, fingerprint=True).collect()}
        assert a == b
        assert len(a) == 150

    def test_all_unique_corpus_is_all_zero(self, spark):
        rows = [(i, f"u{i} v{i} w{i} x{i}") for i in range(30)]
        df = spark.createDataFrame(rows, ["id", "text"])
        out = dedup.cross_doc_dup_fraction(df, "text", "id", n=2).collect()
        assert len(out) == 30
        assert all(r["n_dup_grams"] == 0 and r["dup_frac"] == 0.0
                   for r in out)


class TestDistinctiveTerms:
    DOCS = [
        ("a", "spark spark spark rare"),
        ("b", "spark common common unique"),
        ("c", "common spark zebra zebra zebra"),
    ]

    def _py(self, k=5, log_idf=False):
        import math
        from collections import Counter
        n = len(self.DOCS)
        dfreq = Counter()
        tfs = {}
        for d, t in self.DOCS:
            c = Counter(t.split(" "))
            tfs[d] = c
            for w in c:
                dfreq[w] += 1
        out = {}
        for d, c in tfs.items():
            scored = []
            for w, tf in c.items():
                idf = math.log1p(n / dfreq[w]) if log_idf else n / dfreq[w]
                scored.append((tf * idf, w, tf, dfreq[w]))
            scored.sort(key=lambda x: (-x[0], x[1]))
            out[d] = [(i + 1, w, tf, df_, s)
                      for i, (s, w, tf, df_) in enumerate(scored[:k])]
        return out

    @pytest.mark.parametrize("log_idf", [False, True])
    def test_matches_python_reference(self, spark, log_idf):
        df = spark.createDataFrame(self.DOCS, ["doc_id", "text"])
        rows = textstats.distinctive_terms(df, "text", "doc_id", k=3,
                                           log_idf=log_idf).collect()
        got = {}
        for r in rows:
            got.setdefault(r["doc_id"], []).append(
                (r["rank"], r["term"], r["tf"], r["df"], r["score"]))
        want = self._py(k=3, log_idf=log_idf)
        assert set(got) == set(want)
        for d in want:
            got[d].sort()
            for (gr, gw, gtf, gdf, gs), (wr, ww, wtf, wdf, ws) in zip(
                    got[d], want[d]):
                assert (gr, gw, gtf, gdf) == (wr, ww, wtf, wdf)
                assert gs == pytest.approx(ws, rel=1e-12)

    def test_linear_idf_scores_are_exact_doubles(self, spark):
        # tf * (N / df) with integer inputs: one correctly-rounded IEEE
        # division + one multiplication — bit-identical on any engine
        df = spark.createDataFrame(self.DOCS, ["doc_id", "text"])
        rows = textstats.distinctive_terms(df, "text", "doc_id",
                                           k=10).collect()
        for r in rows:
            assert r["score"] == r["tf"] * (3 / r["df"])

    def test_rank_is_dense_and_capped(self, spark):
        df = spark.createDataFrame(self.DOCS, ["doc_id", "text"])
        rows = textstats.distinctive_terms(df, "text", "doc_id", k=2).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r["rank"])
        for d, ranks in by_doc.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= 2
