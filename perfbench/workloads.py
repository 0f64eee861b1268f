"""The two workloads. Each one generates its inputs from the seed
(``__init__``, untimed), sets up a session (``setup``), runs timed
passes (``run_pass``) and checks a pass's outputs against exact answers
computed from the generated inputs (``check``).

A pass returns ``items`` (its unit of work), ``state_bytes`` and the
collected outputs; ``check`` returns ``(attempted, failures, ratios)``:
the number of checks, the names of the failed ones, and per sketch kind
the largest observed error divided by its published bound.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa

import inputs

# error gates: a check fails when an estimate is further off than this
# many published bounds (HLL: 1.04/sqrt(m) standard error, so 4 sigma)
HLL_GATE = 4.0
# observed Bloom false-positive rate / configured eps. Cuckoo filters are
# checked for false negatives only: the reference's fingerprints are
# decimal-digit prefixes of the hash, so their rate does not follow eps.
FPR_GATE = 2.0
QUANTILE_RANK_GATE = 0.02  # absolute rank error of t-digest / KLL


def _hll_ratios(est: np.ndarray, exact: np.ndarray, m: int) -> np.ndarray:
    """|relative error| / (1.04/sqrt(m)); estimates of small sets may
    differ by one element without counting against the bound."""
    from gostatix_spark import params
    err = np.maximum(np.abs(est - exact) - 1, 0) / np.maximum(exact, 1)
    return err / params.hll_accuracy(m)


def _rank_error(values: np.ndarray, qs, est) -> float:
    srt = np.sort(values)
    ranks = np.searchsorted(srt, np.asarray(est), side="right") / len(srt)
    return float(np.max(np.abs(ranks - np.asarray(qs))))


class BuildTokens:
    """North-star build: six sketches keyed by ``source`` in one
    ``multi_sketch_agg`` scan, plus a sharded ``cuckoo_build`` over
    ``doc_id``. Unit of work: input tokens."""

    N_DOCS = 3000
    FILES = 8
    M = 4096
    CMS_EPS, CMS_FAIL = 0.001, 0.01
    BLOOM_EPS = 0.01
    TOPK_K, TOPK_EPS = 50, 0.0001
    CUCKOO_SHARDS, CUCKOO_EPS = 8, 0.01
    QS = [0.01, 0.1, 0.5, 0.9, 0.99]

    def __init__(self, seed: int, work: str):
        c = inputs.corpus(seed, self.N_DOCS)
        self.path = os.path.join(work, "corpus")
        inputs.write_parts(inputs.corpus_table(c), self.path, self.FILES)
        self.n_tokens = int(len(c["flat"]))
        self.doc_ids = c["doc_ids"]
        self.truth = {}
        doc_src = c["src_code"]
        tok_src = np.repeat(doc_src, c["lengths"])
        for code, name in enumerate(inputs.SOURCES):
            toks = c["flat"][tok_src == code].astype(np.int64)
            counts = np.bincount(toks, minlength=inputs.VOCAB + 1)
            self.truth[name] = {"counts": counts, "n": int(len(toks)),
                                "n_tok": c["lengths"][doc_src == code]}

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        self.df = (spark.read.parquet(self.path)
                   .withColumn("n_tok_d", F.col("n_tok").cast("double"))
                   .cache())
        self.df.count()

    def run_pass(self, spark, tr) -> dict:
        from gostatix_spark.agg import (cuckoo_build, cuckoo_shard_size,
                                        multi_sketch_agg)
        tok = {"value_col": "tokens", "key_col": "source"}
        num = {"value_col": "n_tok_d", "key_col": "source"}
        jobs = [
            {"name": "hll", "kind": "hll", **tok, "params": {"m": self.M}},
            {"name": "cms", "kind": "cms", **tok,
             "params": {"eps": self.CMS_EPS, "fail_prob": self.CMS_FAIL}},
            {"name": "bloom", "kind": "bloom", **tok,
             "params": {"n": inputs.VOCAB, "eps": self.BLOOM_EPS}},
            {"name": "topk", "kind": "topk", **tok,
             "params": {"k": self.TOPK_K, "eps": self.TOPK_EPS}},
            {"name": "tdigest", "kind": "tdigest", **num, "params": {}},
            {"name": "kll", "kind": "kll", **num, "params": {}},
        ]
        with tr.span("agg.multi_sketch_agg"):
            rows = multi_sketch_agg(self.df, jobs).collect()
        with tr.span("agg.cuckoo_build"):
            shards = cuckoo_build(
                self.df, "doc_id", element="string",
                n_shards=self.CUCKOO_SHARDS, eps=self.CUCKOO_EPS,
                size=cuckoo_shard_size(self.N_DOCS,
                                       self.CUCKOO_SHARDS)).collect()
        states = {(r["sketch_name"], r["key"]): bytes(r["state"])
                  for r in rows}
        cuckoo_states = {r["shard"]: bytes(r["state"]) for r in shards}
        nbytes = (sum(map(len, states.values()))
                  + sum(map(len, cuckoo_states.values())))
        return {"items": self.n_tokens, "state_bytes": nbytes,
                "out": (states, cuckoo_states)}

    def check(self, out) -> tuple[int, list, dict]:
        from gostatix_spark import hashing
        from gostatix_spark.agg import extract_hashes
        from gostatix_spark.kernels import bloom, cms, cuckoo, hll, kll
        from gostatix_spark.kernels import tdigest, topk
        from gostatix_spark.state import sketch_from_bytes

        states, cuckoo_states = out
        attempted = 0
        failures: list[str] = []
        ratios: dict[str, float] = {}

        def record(name: str, ok: bool, ratio: float | None = None):
            nonlocal attempted
            attempted += 1
            if not ok:
                failures.append(name)
            if ratio is not None:
                ratios[name] = max(ratios.get(name, 0.0), ratio)

        non_members = np.arange(inputs.VOCAB + 1, inputs.VOCAB + 100_001,
                                dtype=np.int64)
        nh1, nh2 = hashing.hash_tokens(non_members, "metro")
        for src, t in self.truth.items():
            present = np.nonzero(t["counts"])[0]
            exact_c = t["counts"][present]
            h1, h2 = hashing.hash_tokens(present, "metro")

            st = sketch_from_bytes(states[("hll", src)])
            r = _hll_ratios(np.array([hll.count(st.registers)]),
                            np.array([len(present)]), self.M)[0]
            record("hll", r <= HLL_GATE, r)

            st = sketch_from_bytes(states[("cms", src)])
            over = (cms.query_batch(st.matrix, h1, h2).astype(np.int64)
                    - exact_c)
            bound = self.CMS_EPS * t["n"]
            # the guarantee: each count is within eps*N with probability
            # 1 - fail_prob, so compare that quantile of the overcounts
            q = float(np.quantile(over, 1 - self.CMS_FAIL)) / bound
            record("cms", bool((over >= 0).all()) and q <= 1.0, q)

            st = sketch_from_bytes(states[("bloom", src)])
            no_fn = bool(bloom.lookup_batch(st.words, h1, h2, st.k,
                                            st.m).all())
            fpr = float(bloom.lookup_batch(st.words, nh1, nh2, st.k,
                                           st.m).mean()) / self.BLOOM_EPS
            record("bloom", no_fn and fpr <= FPR_GATE, fpr)

            # every reported item must truly count at least the k-th
            # largest count minus eps*N, the CMS error of its estimate
            st = sketch_from_bytes(states[("topk", src)])
            got = np.array([int.from_bytes(e, "big") for e, _ in
                            topk.final_values(st.cms.matrix, st.candidates,
                                              st.k)])
            kth = np.sort(exact_c)[-self.TOPK_K]
            short = (kth - t["counts"][got]).max(initial=0)
            r = short / (self.TOPK_EPS * t["n"])
            record("topk", len(got) == self.TOPK_K and r <= 1.0, r)

            m, w, _, _ = tdigest.from_bytes(states[("tdigest", src)])
            est = tdigest.quantile(m, w, self.QS)
            record("tdigest", _rank_error(t["n_tok"], self.QS, est)
                   <= QUANTILE_RANK_GATE)
            est = kll.KLL.from_bytes(states[("kll", src)]).quantile(self.QS)
            record("kll", _rank_error(t["n_tok"], self.QS, est)
                   <= QUANTILE_RANK_GATE)

        h1, _, _ = extract_hashes(pa.array(self.doc_ids), "string", "murmur3")
        found = np.zeros(len(h1), bool)
        for shard, blob in cuckoo_states.items():
            st = sketch_from_bytes(blob)
            f = cuckoo.CuckooFilter(st.size, st.bucket_size, st.fp_len,
                                    st.retries, buckets=st.buckets,
                                    length=st.length)
            sel = hashing.shard_of(h1, self.CUCKOO_SHARDS) == shard
            found[sel] = f.lookup_hashes(h1[sel])
        record("cuckoo", len(cuckoo_states) == self.CUCKOO_SHARDS
               and bool(found.all()))
        return attempted, failures, ratios


class BuildKeyed:
    """Fine-grained keyed HLL (``sketch_agg`` with ``merge_buckets``)
    with its ``hll_estimate``, plus the same build through
    ``checkpointed_sketch_agg`` on a key subset; the two builds must
    agree bytewise per key. Unit of work: input rows of both builds."""

    N_KEYS = 4_000
    MEAN_PER_KEY = 4.0
    FILES = 8
    M = 256
    MERGE_BUCKETS = 8
    CKPT_EVERY = 8  # checkpointed build covers keys with id % 8 == 0

    def __init__(self, seed: int, work: str):
        k = inputs.keyed_pairs(seed, self.N_KEYS, self.MEAN_PER_KEY)
        self.work = work
        self.path = os.path.join(work, "keyed")
        inputs.write_parts(inputs.keyed_table(k), self.path, self.FILES)
        self.distinct = k["distinct"]
        self.n_rows = int(len(k["keys"]))
        self.n_ckpt_rows = int((k["keys"] % self.CKPT_EVERY == 0).sum())
        self.n_pass = 0

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        self.df = spark.read.parquet(self.path).cache()
        self.df.count()
        self.sub = self.df.where(
            F.substring("key", 2, 12).cast("long") % self.CKPT_EVERY == 0)

    def run_pass(self, spark, tr) -> dict:
        from gostatix_spark.agg import sketch_agg
        from gostatix_spark.checkpoint import checkpointed_sketch_agg
        from gostatix_spark.query import hll_estimate
        self.n_pass += 1
        ckpt = os.path.join(self.work, f"checkpoint-{self.n_pass}")
        # states and their estimates come back from one job: the estimate
        # runs in the same task as the phase-2 merge that emits each state
        with tr.span("agg.sketch_agg"):
            rows = hll_estimate(sketch_agg(
                self.df, "hll", "elem", key_col="key",
                merge_buckets=self.MERGE_BUCKETS, m=self.M)).collect()
        with tr.span("checkpoint.build"):
            crows = checkpointed_sketch_agg(self.sub, "hll", "elem",
                                            key_col="key",
                                            checkpoint_path=ckpt,
                                            m=self.M).collect()
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(ckpt) for f in fs)
        shutil.rmtree(ckpt, ignore_errors=True)
        direct = {r["key"]: bytes(r["state"]) for r in rows}
        est = {r["key"]: r["est_distinct"] for r in rows}
        ckpt_states = {r["key"]: bytes(r["state"]) for r in crows}
        nbytes = (sum(map(len, direct.values()))
                  + sum(map(len, ckpt_states.values())))
        return {"items": self.n_rows + self.n_ckpt_rows,
                "state_bytes": nbytes, "out": (direct, ckpt_states, est),
                "checkpoint_bytes": written}

    def check(self, out) -> tuple[int, list, dict]:
        direct, ckpt_states, est = out
        keys = [f"k{i}" for i in range(self.N_KEYS)]
        r = _hll_ratios(np.array([est.get(k, -1) for k in keys]),
                        self.distinct, self.M)
        bad = (r > HLL_GATE) | np.array([k not in direct for k in keys])
        want = [f"k{i}" for i in range(0, self.N_KEYS, self.CKPT_EVERY)]
        ckpt_bad = sum(ckpt_states.get(k) != direct.get(k) for k in want)
        ckpt_bad += set(ckpt_states) != set(want)
        failures = ["hll"] * int(bad.sum()) + ["checkpoint"] * ckpt_bad
        return (self.N_KEYS + len(want) + 1, failures,
                {"hll": float(r.max())})
