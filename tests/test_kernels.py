"""Kernel unit tests: reference test-vector replay + error-bound gates
(SURVEY.md §5.2). File:line citations point at the reference test each
case replays."""

import math

import numpy as np
import pytest

from gostatix_spark import hashing as H
from gostatix_spark import params
from gostatix_spark.kernels import bloom, cms, cuckoo, hll, topk


def _metro(items):
    return H.hash_bytes_batch([i if isinstance(i, bytes) else i.encode() for i in items], "metro")


# ---------------------------------------------------------------------------
# Bloom — replays bloom_filter_test.go:19-42, 68-91, 93-118, 133-180
# ---------------------------------------------------------------------------


class TestBloom:
    def test_membership_names(self):
        n, eps = 1000, 0.01
        m = params.bloom_filter_size(n, eps)
        k = params.bloom_num_hashes(m, n)
        words = bloom.new_state(m)
        h1, h2 = _metro(["John", "Jane"])
        bloom.insert_batch(words, h1, h2, k, m)
        h1, h2 = _metro(["John", "Jane", "Alice", "Bob"])
        got = bloom.lookup_batch(words, h1, h2, k, m)
        assert got[0] and got[1]          # no false negatives, ever
        assert not got[2] and not got[3]  # (w.h.p. at this sizing)

    def test_membership_uint32_be(self):
        # bloom_filter_test.go:68-91 — elements as big-endian uint32
        m, k = 1000, 4
        words = bloom.new_state(m)
        toks = np.array([100, 101, 102], dtype=np.int32)
        h1, h2 = H.hash_tokens(toks, "metro")
        bloom.insert_batch(words, h1, h2, k, m)
        probe = np.array([100, 101, 102, 103, 104], dtype=np.int32)
        h1, h2 = H.hash_tokens(probe, "metro")
        got = bloom.lookup_batch(words, h1, h2, k, m)
        assert got[:3].all() and not got[3:].any()

    @pytest.mark.parametrize("n,eps", [(1000, 0.1), (1000, 0.01),
                                       (10000, 0.01), (10000, 0.001)])
    def test_fpr_grid(self, n, eps):
        # mirrors bloom_filter_test.go:133-180: observed FPR ≤ 1.1·ε
        m = params.bloom_filter_size(n, eps)
        k = params.bloom_num_hashes(m, n)
        words = bloom.new_state(m)
        ins = np.arange(n, dtype=np.int32)
        h1, h2 = H.hash_tokens(ins, "metro")
        bloom.insert_batch(words, h1, h2, k, m)
        probe = np.arange(n, n + 20000, dtype=np.int32)  # disjoint
        h1, h2 = H.hash_tokens(probe, "metro")
        fpr = bloom.lookup_batch(words, h1, h2, k, m).mean()
        assert fpr <= 1.1 * eps + 3 * math.sqrt(eps / 20000)

    def test_merge_or_laws(self):
        m, k = 2048, 5
        streams = [np.arange(i * 100, i * 100 + 100, dtype=np.int32) for i in range(3)]
        parts = []
        for s in streams:
            w = bloom.new_state(m)
            h1, h2 = H.hash_tokens(s, "metro")
            bloom.insert_batch(w, h1, h2, k, m)
            parts.append(w)
        whole = bloom.new_state(m)
        h1, h2 = H.hash_tokens(np.concatenate(streams), "metro")
        bloom.insert_batch(whole, h1, h2, k, m)
        a, b, c = parts
        assert np.array_equal(bloom.merge(bloom.merge(a, b), c),
                              bloom.merge(a, bloom.merge(b, c)))
        assert np.array_equal(bloom.merge(a, b), bloom.merge(b, a))
        assert np.array_equal(bloom.merge(a, a), a)  # idempotent
        assert np.array_equal(bloom.merge(bloom.merge(a, b), c), whole)

    def test_positive_rate_formula(self):
        m, k = 1000, 4
        words = bloom.new_state(m)
        h1, h2 = H.hash_tokens(np.arange(50, dtype=np.int32), "metro")
        bloom.insert_batch(words, h1, h2, k, m)
        bits = bloom.bit_count(words)
        assert bloom.positive_rate(words, k, m) == pytest.approx(
            (1 - math.exp(-bits / m)) ** k)


# ---------------------------------------------------------------------------
# CMS — replays count_min_sketch_test.go:13-33, 35-68, 70-89
# ---------------------------------------------------------------------------


class TestCMS:
    def test_exact_counts_tiny(self):
        d, w = params.cms_dims_from_estimates(0.001, 0.999)  # reference quirk: d=1
        assert d == 1 and w == 2719
        mat = cms.new_state(d, w)
        h1, h2 = _metro(["foo", "bar", "foo"])
        cms.update_batch(mat, h1, h2)
        h1, h2 = _metro(["foo", "bar", "baz"])
        got = cms.query_batch(mat, h1, h2)
        assert got.tolist() == [2, 1, 0]

    def test_merge_adds(self):
        d, w = 5, 2719
        a, b = cms.new_state(d, w), cms.new_state(d, w)
        h1, h2 = _metro(["foo", "bar", "foo", "baz"])
        cms.update_batch(a, h1, h2)
        h1, h2 = _metro(["foo", "foo", "baz"])
        cms.update_batch(b, h1, h2)
        merged = cms.merge(a, b)
        h1, h2 = _metro(["foo", "bar", "baz", "faz"])
        assert cms.query_batch(merged, h1, h2).tolist() == [4, 1, 2, 0]

    def test_merge_dim_mismatch(self):
        with pytest.raises(ValueError):
            cms.merge(cms.new_state(2, 10), cms.new_state(3, 10))

    def test_merge_laws(self):
        d, w = 4, 271
        rng = np.random.default_rng(7)
        mats = []
        for _ in range(3):
            m_ = cms.new_state(d, w)
            toks = rng.integers(0, 500, size=1000).astype(np.int32)
            h1, h2 = H.hash_tokens(toks, "metro")
            cms.update_batch(m_, h1, h2)
            mats.append(m_)
        a, b, c = mats
        assert np.array_equal(cms.merge(cms.merge(a, b), c),
                              cms.merge(a, cms.merge(b, c)))
        assert np.array_equal(cms.merge(a, b), cms.merge(b, a))

    def test_eps_n_bound(self):
        # standard parameterization: err ≤ ε·N w.p. ≥ 1−δ (SURVEY.md §1.6.4)
        eps, delta = 0.001, 0.01
        d, w = params.cms_dims_from_error_bounds(eps, delta)
        mat = cms.new_state(d, w)
        rng = np.random.default_rng(11)
        toks = (rng.zipf(1.3, size=100_000) % 50_000).astype(np.int32)
        h1, h2 = H.hash_tokens(toks, "metro")
        n_total = cms.update_batch(mat, h1, h2)
        uniq, exact = np.unique(toks, return_counts=True)
        h1, h2 = H.hash_tokens(uniq.astype(np.int32), "metro")
        est = cms.query_batch(mat, h1, h2).astype(np.int64)
        err = est - exact  # CMS never underestimates
        assert (err >= 0).all()
        frac_ok = (err <= eps * n_total).mean()
        assert frac_ok >= 1 - delta


# ---------------------------------------------------------------------------
# HLL — merge law replays hyperloglog_test.go:27-46; estimates use the
# standard mapping (documented divergence, SURVEY.md §1.6.1) gated on
# the published bound 3·1.04/√m
# ---------------------------------------------------------------------------


class TestHLL:
    def test_pow2_required(self):
        with pytest.raises(ValueError):
            hll.new_state(100)

    def test_reset_equals_fresh(self):
        """H5: a reset sketch is bytewise a fresh one — updating both
        afterwards keeps them identical (no residual state)."""
        regs = hll.new_state(64)
        h1, _ = _metro(["a", "b", "c"])
        hll.update_batch(regs, h1)
        assert regs.any()
        hll.reset(regs)
        fresh = hll.new_state(64)
        assert np.array_equal(regs, fresh)
        hll.update_batch(regs, h1)
        hll.update_batch(fresh, h1)
        assert np.array_equal(regs, fresh)

    def test_merge_is_registerwise_max(self):
        a, b = hll.new_state(16), hll.new_state(16)
        h1, _ = _metro(["foo", "bar"])
        hll.update_batch(a, h1)
        h1, _ = _metro(["abc", "xyz"])
        hll.update_batch(b, h1)
        merged = hll.merge(a, b)
        assert np.array_equal(merged, np.maximum(a, b))
        # idempotent + commutative + associative
        assert np.array_equal(hll.merge(a, a), a)
        assert np.array_equal(hll.merge(a, b), hll.merge(b, a))
        c = hll.new_state(16)
        assert np.array_equal(hll.merge(hll.merge(a, b), c),
                              hll.merge(a, hll.merge(b, c)))

    def test_merge_size_mismatch(self):
        with pytest.raises(ValueError):
            hll.merge(hll.new_state(16), hll.new_state(32))

    @pytest.mark.parametrize("n,m", [(1000, 1024), (100_000, 16384)])
    def test_cardinality_bound(self, n, m):
        reg = hll.new_state(m)
        toks = np.arange(n, dtype=np.int32)
        h1, _ = H.hash_tokens(toks, "metro")
        hll.update_batch(reg, h1)
        est = hll.count(reg)
        rel_err = abs(est - n) / n
        assert rel_err <= 3 * params.hll_accuracy(m), (est, n)

    def test_count_matches_fold_of_parts(self):
        # sketch(whole) == fold(sketch(parts)) — the global invariant
        m = 4096
        toks = np.arange(50_000, dtype=np.int32)
        whole = hll.new_state(m)
        h1, _ = H.hash_tokens(toks, "metro")
        hll.update_batch(whole, h1)
        acc = hll.new_state(m)
        for part in np.array_split(toks, 7):
            p = hll.new_state(m)
            h1, _ = H.hash_tokens(part.astype(np.int32), "metro")
            hll.update_batch(p, h1)
            acc = hll.merge(acc, p)
        assert np.array_equal(acc, whole)


# ---------------------------------------------------------------------------
# Top-K — replays top_k_test.go:12-130 (fruit corpus, stream-vs-batch)
# ---------------------------------------------------------------------------

FRUIT_STREAM = (
    ["apple"] * 6 + ["banana"] * 5 + ["cherry"] * 5 + ["date"] * 4
    + ["elderberry"] * 4 + ["fig"] * 3 + ["grape"] * 2 + ["orange"] * 1 + ["kiwi"] * 1
)


class TestTopK:
    def _expected(self, k):
        from collections import Counter
        c = Counter(FRUIT_STREAM)
        return sorted(((e.encode(), n) for e, n in c.items()),
                      key=lambda t: (-t[1], t[0]))[:k]

    @pytest.mark.parametrize("k", [15, 3])
    def test_stream_matches_exact(self, k):
        d, w = params.cms_dims_from_estimates(0.001, 0.999)
        t = topk.TopKStream(k, d, w)
        for e in FRUIT_STREAM:
            t.insert(e.encode(), 1)
        assert t.values() == self._expected(k)

    def test_stream_vs_batch_counts(self):
        # top_k_test.go:60-90: single inserts == batched counts
        from collections import Counter
        d, w = params.cms_dims_from_estimates(0.001, 0.999)
        t1 = topk.TopKStream(10, d, w)
        for e in FRUIT_STREAM:
            t1.insert(e.encode(), 1)
        t2 = topk.TopKStream(10, d, w)
        for e, n in Counter(FRUIT_STREAM).items():
            t2.insert(e.encode(), n)
        assert t1.values() == t2.values()

    def test_distributed_two_phase(self):
        import pyarrow as pa
        d, w = params.cms_dims_from_estimates(0.0001, 0.999)
        k, slack = 5, 3
        parts = [FRUIT_STREAM[:10], FRUIT_STREAM[10:20], FRUIT_STREAM[20:]]
        merged_mat = cms.new_state(d, w)
        cands: dict[bytes, int] = {}
        for p in parts:
            counts = topk.BytesCounts()
            counts.update(pa.array(p))
            mat, _, cand = counts.finalize(k, slack, d, w)
            merged_mat = cms.merge(merged_mat, mat)
            cands = topk.merge_candidates(cands, cand)
        got = topk.final_values(merged_mat, cands, k)
        assert got == self._expected(k)


# ---------------------------------------------------------------------------
# Cuckoo — replays cuckoo_filter_test.go:11-229
# ---------------------------------------------------------------------------


class TestCuckoo:
    def test_insert_lookup_length(self):
        f = cuckoo.CuckooFilter(size=10, bucket_size=1, fp_len=1, seed=1)
        for w in (b"john", b"jane"):
            f.insert(w)
        assert f.length == 2
        assert f.lookup(b"john") and f.lookup(b"jane")
        assert not f.lookup(b"joe")

    def test_remove(self):
        f = cuckoo.CuckooFilter(size=16, bucket_size=2, fp_len=2, seed=1)
        f.insert(b"foo")
        f.insert(b"bar")
        assert f.remove(b"foo")
        assert not f.remove(b"foo")  # already gone
        assert f.lookup(b"bar")
        assert f.length == 1

    def test_full_raises_and_rollback(self):
        # tiny filter: size 1, bucket 1 — second distinct insert must kick
        # forever and raise; non-destructive leaves state intact
        f = cuckoo.CuckooFilter(size=1, bucket_size=1, fp_len=2, retries=5, seed=1)
        f.insert(b"one")
        before = f.buckets.copy()
        with pytest.raises(cuckoo.FilterFullError):
            f.insert(b"two", destructive=False)
        assert np.array_equal(f.buckets, before)  # rollback restored state
        assert f.lookup(b"one")

    def test_destructive_full_mutates(self):
        f = cuckoo.CuckooFilter(size=1, bucket_size=1, fp_len=2, retries=3, seed=1)
        f.insert(b"one")
        before = f.buckets.copy()
        with pytest.raises(cuckoo.FilterFullError):
            f.insert(b"two", destructive=True)
        assert not np.array_equal(f.buckets, before)

    def test_bulk_matches_scalar_membership(self):
        size = params.next_power_of_two(2000)
        fpl = params.cuckoo_fingerprint_length(size, 0.001)
        ids = np.arange(1500, dtype=np.int64)
        h1, _ = H.hash_int64s(ids, "murmur3")
        fbulk = cuckoo.CuckooFilter(size, 4, fpl, seed=3)
        fbulk.bulk_insert_hashes(h1)
        assert fbulk.length == 1500
        # every inserted element must be found (no false negatives)
        assert fbulk.lookup_hashes(h1).all()
        # scalar path agrees with the vectorized probe
        for i in (0, 7, 1499):
            assert fbulk.lookup(int(ids[i]).to_bytes(8, "big", signed=True))

    def test_xor_partner_involutive_pow2(self):
        size, fpl = 1024, 2
        h1 = np.array([123456789012345, 987654321], dtype=np.uint64)
        fp, i1, i2 = cuckoo.fingerprints_and_indices(h1, fpl, size)
        for j in range(len(h1)):
            ph = cuckoo._fp_partner_hash(int(fp[j]), fpl)
            back = (int(i2[j]) ^ ph) % size
            assert back == int(i1[j])

    def test_positive_rate(self):
        f = cuckoo.CuckooFilter(size=64, bucket_size=4, fp_len=2)
        assert f.positive_rate() == pytest.approx(2 ** (math.log2(8) - 2))

    def test_bulk_remove_matches_scalar(self):
        """Vectorized batch remove ≡ sequential scalar removes — same
        removed-mask, same buckets, same length — including duplicates
        and absent elements (cuckoo_filter.go:128-144 semantics)."""
        rng = np.random.default_rng(7)
        base = rng.integers(0, 100000, 4000)
        dups = rng.choice(base[:500], 600)
        items = [int(x).to_bytes(8, "big")
                 for x in np.concatenate([base, dups])]
        h_all, _ = H.hash_bytes_batch(items, "murmur3")
        f_scalar = cuckoo.CuckooFilter(4096, 4, 8, seed=1)
        f_vec = cuckoo.CuckooFilter(4096, 4, 8, seed=1)
        f_scalar.bulk_insert_hashes(h_all)
        f_vec.bulk_insert_hashes(h_all)
        absent = [int(x).to_bytes(8, "big")
                  for x in rng.integers(200000, 300000, 300)]
        rem = items[:1500] + absent + items[:200]  # re-removals of dups
        h_rem, _ = H.hash_bytes_batch(rem, "murmur3")
        scalar_mask = np.array([f_scalar.remove(it) for it in rem])
        vec_mask = f_vec.bulk_remove_hashes(h_rem)
        assert (scalar_mask == vec_mask).all()
        assert f_scalar.equals(f_vec)
        assert f_scalar.length == f_vec.length
        # elements never targeted by a removal still have no false negs
        removed_vals = {bytes(it) for it in rem}
        untouched = [it for it in items if bytes(it) not in removed_vals]
        h_left, _ = H.hash_bytes_batch(untouched, "murmur3")
        assert f_vec.lookup_hashes(h_left).all()


class TestHLLCountMany:
    def test_count_many_equals_scalar_count(self):
        """Vectorized count over a register stack must agree with the
        scalar count for every row, across all three estimator regimes
        (linear-counting small range, raw mid range, large-range
        correction) and both linear_counting modes."""
        from gostatix_spark.kernels import hll
        rng = np.random.default_rng(7)
        m = 256
        stacks = [
            np.zeros((1, m), dtype=np.uint8),                    # all-zero
            rng.integers(0, 2, (5, m)).astype(np.uint8),         # small
            rng.integers(3, 9, (5, m)).astype(np.uint8),         # mid
            rng.integers(21, 24, (5, m)).astype(np.uint8),       # large
            rng.integers(0, 20, (8, m)).astype(np.uint8),        # mixed
        ]
        for regs in stacks:
            for lc in (True, False):
                got = hll.count_many(regs, linear_counting=lc)
                want = np.array([hll.count(r, linear_counting=lc)
                                 for r in regs])
                assert (got == want).all(), (lc, got, want)


class TestBytesCountsDeferredMerge:
    """BytesCounts queues per-batch value_counts chunks and merges them
    in ONE Arrow group-by when the counts are read — the merge runs once
    per partition, not once per batch (VERDICT r4 nit #3)."""

    def test_chunks_merge_lazily_and_exactly(self):
        import pyarrow as pa
        from gostatix_spark.kernels import topk as T
        bc = T.BytesCounts()
        bc.update(pa.array(["a", "b", "a", None, "c"]))  # nulls dropped
        bc.update(pa.array(["b", "b", "d"]))
        # bound = Σ per-chunk distincts (3 + 2), no merge done yet
        assert bc._bound == 5 and len(bc._chunks) == 2
        assert dict(bc.top(10)) == {b"a": 2, b"b": 3, b"c": 1, b"d": 1}
        assert bc._bound == 4  # refreshed to exact
        # binary chunks and string chunks land in the same key space
        bc.update(pa.array([b"a", b"e"], type=pa.binary()))
        assert dict(bc.top(10)) == {b"a": 3, b"b": 3, b"c": 1, b"d": 1,
                                    b"e": 1}
        bc.update(pa.array([b"e", b"f"], type=pa.large_binary()))
        top = bc.top(10)
        assert dict(top)[b"e"] == 2 and dict(top)[b"f"] == 1
        assert top[:2] == [(b"a", 3), (b"b", 3)]  # ties by value
        # plain ints (hash_bytes_batch and json codecs expect them)
        assert all(type(c) is int for _, c in top)

    def test_capped_defers_materialization_under_bound(self):
        import pyarrow as pa
        from gostatix_spark.kernels import topk as T
        capped = T.BytesCounts("string", 1000, 5, 500)
        capped.update(pa.array(["k%d" % i for i in range(200)]))
        capped.update(pa.array(["k%d" % i for i in range(200, 400)]))
        # bound (400) under the cap: both chunks must still be pending —
        # the per-update cap check must not force the Arrow merge
        assert len(capped._chunks) == 2
        capped.update(pa.array(["k%d" % i for i in range(300, 1000)]))
        # bound 400+700 > cap, true distinct 1000 ≤ cap: merged, no
        # compaction
        assert capped.compactions == 0 and len(capped._chunks) == 1
        assert capped._bound == 1000
        capped.update(pa.array(["j%d" % i for i in range(200)]))
        assert capped.compactions == 1
        assert len(capped.items()[0]) <= 1000


class TestCappedTopK:
    def _feed(self, acc, heavy_counts, n_tail, batch=65536):
        """Heavy hitters interleaved through a long near-unique tail,
        delivered as Arrow batches (the phase-1 ingest shape)."""
        import pyarrow as pa
        heavy = [f"h{j:03d}".encode() for j in range(len(heavy_counts))]
        period = max(1, n_tail // max(1, max(heavy_counts)))
        buf = []
        for i in range(n_tail):
            buf.append(b"u%d" % i)
            for j, c in enumerate(heavy_counts):
                if c and i % max(1, n_tail // c) == 0:
                    buf.append(heavy[j])
            if len(buf) >= batch:
                acc.update(pa.array([x.decode() for x in buf]))
                buf = []
        if buf:
            acc.update(pa.array([x.decode() for x in buf]))

    def test_capped_equals_uncapped_above_noise_floor(self):
        """A ≥10⁶-distinct string stream under a small fixed cap: the
        capped build's phase-1 memory stays O(cap), and its final
        CMS-estimated top-k equals the uncapped build's for every
        element above the ε·N noise floor (VERDICT r3 #2)."""
        from gostatix_spark.kernels import topk as T
        from gostatix_spark.kernels import cms as C
        k, slack = 20, 8
        d, w = 7, 27183  # eps=1e-4
        n_tail = 1_000_000
        heavy_counts = [5000 - 137 * j for j in range(25)]

        capped = T.BytesCounts("string", 4096, d, w)
        self._feed(capped, heavy_counts, n_tail)
        assert capped.compactions > 0
        assert len(capped.items()[0]) <= 4096  # memory bound held
        mat_c, total_c, cand_c = capped.finalize(k, slack, d, w)

        plain = T.BytesCounts()
        self._feed(plain, heavy_counts, n_tail)
        mat_p, total_p, cand_p = plain.finalize(k, slack, d, w)

        assert total_c == total_p  # no mass lost to compaction
        top_c = T.final_values(mat_c, cand_c, k)
        top_p = T.final_values(mat_p, cand_p, k)
        eps_n = 1e-4 * total_p
        # every heavy hitter above the noise floor appears in both,
        # with estimates within the CMS guarantee of each other
        want = {e for e, c in top_p if c > 2 * eps_n}
        got = dict(top_c)
        for e in want:
            assert e in got, e
            assert abs(got[e] - dict(top_p)[e]) <= 2 * eps_n, e
