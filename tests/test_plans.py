"""Physical-plan regression tests — the scale properties SCALE.md
claims must stay true as the code evolves:

* a sketch build has exactly ONE Exchange (the tiny partial-state
  shuffle) and a column-pruned scan;
* the ANN query broadcasts the query side and pushes the top-k rank
  limit down (WindowGroupLimit);
* a bloom probe is an Arrow-batched filter over a pruned scan.
"""

import re

import pytest
from pyspark.sql import functions as F

from gostatix_spark.agg import sketch_agg
from gostatix_spark.query import bloom_contains
from gostatix_spark.similarity import brute_force_topk

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_stream_merge(plan: str) -> None:
    """Phase 2 is a MapInArrow over a Sort (the sorted-stream merge),
    with no grouped-map node left."""
    assert re.search(r"MapInArrow fold\(.*\n\s*\+- Sort ", plan), plan
    assert "FlatMapGroupsIn" not in plan, plan


def test_sketch_agg_single_exchange(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    states = sketch_agg(events, "hll", "user_id", key_col="event_type", m=1024)
    plan = _plan(states)
    assert plan.count("Exchange") == 1, plan
    _assert_stream_merge(plan)
    # column pruning: the scan reads only the two referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
        == {"user_id", "event_type"}


def test_ann_broadcast_and_windowgrouplimit(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(2).select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec"))
    plan = _plan(brute_force_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan  # top-k pushed below the exchange


def test_bloom_probe_pruned_scan(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    states = sketch_agg(cust, "bloom", "c_custkey", n=2000, eps=0.01)
    blob = bytes(states.collect()[0]["state"])
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    probe = orders.select("o_orderkey", "o_custkey").where(
        bloom_contains(spark, blob, F.col("o_custkey"), "int64"))
    plan = _plan(probe)
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
        == {"o_orderkey", "o_custkey"}


def test_exact_dedup_stays_jvm(spark):
    from gostatix_spark.dedup import exact_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(docs, "text", "doc_id"))
    assert "Python" not in plan  # pure JVM: project + hash aggregate
    assert "HashAggregate" in plan


def test_bloom_sharded_single_exchange(spark):
    """The sharded bloom build keeps the two-phase shape: one pass over
    the data (MapInArrow emits n_shards partial rows per partition),
    ONE Exchange of those tiny rows, per-shard merge."""
    from gostatix_spark.agg import bloom_build_sharded
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    states = bloom_build_sharded(docs, "doc_id", n=5000, eps=0.01,
                                 n_shards=8)
    plan = _plan(states)
    assert plan.count("Exchange") == 1, plan
    _assert_stream_merge(plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
        == {"doc_id"}


def test_cuckoo_removals_sorted_stream_no_extra_exchange(spark):
    """Build + removals: the build shuffles its hash partials once to
    (shard); the removals shuffle the union of the states and their own
    hash partials once more; both run as sorted-stream MapInArrow calls,
    with no grouped-map node, and no element-sized collect appears
    (everything stays as DataFrame ops)."""
    from gostatix_spark.agg import cuckoo_apply_removals, cuckoo_build
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    states = cuckoo_build(supp, "s_suppkey", n_shards=4, eps=0.01)
    removals = supp.where("s_suppkey % 2 = 0").select("s_suppkey")
    after = cuckoo_apply_removals(states, removals, "s_suppkey", n_shards=4)
    plan = _plan(after)
    assert "MapInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_sampling_ops_shuffle_free_pruned(spark):
    """SCALE.md §5b: sample / split / stratified-mix decisions are
    narrow projections+filters — NO Exchange, NO Python in the plan,
    and the scan reads only the referenced columns."""
    from gostatix_spark import sampling
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df, cols in [
        (sampling.deterministic_sample(docs, "doc_id", 0.25)
         .select("doc_id"), {"doc_id"}),
        (sampling.assign_split(docs, "doc_id").select("doc_id", "split"),
         {"doc_id"}),
        (sampling.stratified_sample(docs, "doc_id", "source",
                                    {"src1": 0.5}, default=0.1)
         .select("doc_id", "source"), {"doc_id", "source"}),
    ]:
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
            == cols, plan


def test_token_shards_partitioned_window_single_exchange(spark):
    """The at-scale token_shards shape: ONE hash Exchange into the
    16^N partition groups, per-group sort + running window — no global
    sort, no range partitioning."""
    from gostatix_spark import sampling
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "n_tok", F.size(F.split("text", " ")))
    out = sampling.token_shards(docs, "doc_id", "n_tok", budget=1000,
                                part_hex_chars=1).select("doc_id", "shard")
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" in plan, plan


def test_reservoir_sample_take_ordered_no_global_sort(spark):
    """reservoir_sample must compile to TakeOrderedAndProject
    (per-partition top-k + driver k-merge), never a global Sort+
    Exchange(rangepartitioning)."""
    from gostatix_spark import sampling
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(sampling.reservoir_sample(docs, "doc_id", 100))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_hll_intersect_explicit_pairs_no_nested_loop(spark):
    """The pairs= scale path must compile to equi-joins — the default
    all-pairs BroadcastNestedLoopJoin is exactly what it replaces."""
    from gostatix_spark.query import hll_intersect_pairs
    events = spark.read.parquet(f"{SF}/events.parquet")
    states = sketch_agg(events, "hll", "user_id", key_col="event_type",
                        m=1024)
    pairs = spark.createDataFrame([("click", "view")],
                                  "key_a string, key_b string")
    plan = _plan(hll_intersect_pairs(states, "event_type", pairs=pairs))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # and the default path IS the (documented) nested-loop join
    plan_default = _plan(hll_intersect_pairs(states, "event_type"))
    assert "BroadcastNestedLoopJoin" in plan_default


def _near_dup_plan(spark, family: str):
    """The lazy plan of one near-dup family over a small input."""
    from gostatix_spark import dedup
    sims = spark.createDataFrame(
        [(i, i * 2654435761 % (1 << 63)) for i in range(50)],
        "id long, simhash long")
    if family == "simhash_manku":
        return dedup.simhash_manku_pairs(sims, max_hamming=6, eager=False)
    if family == "simhash_near":
        return dedup.simhash_near_pairs(sims, max_hamming=3, eager=False)
    if family == "minhash_lsh":
        sigs = spark.createDataFrame(
            [(i, [i * j % 97 for j in range(8)]) for i in range(50)],
            "id long, sig array<long>")
        return dedup.lsh_candidate_pairs(sigs, bands=4, num_perm=8)
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(50)],
        "vec_id long, embedding array<float>")
    return dedup.embedding_dedup_pairs(emb, method="lsh")


@pytest.mark.parametrize("family", ["simhash_manku", "simhash_near",
                                    "minhash_lsh", "embedding_lsh"])
def test_simhash_manku_single_join(spark, family):
    """Every near-dup family's candidate step must be ONE self-join over
    rows exploded into their (band, key) buckets, not one join per
    band, chunk or table unioned (the Manku scheme at k=6 would be
    C(8,2)=28 plan-duplicated joins): exactly one candidate join node
    and no Union in the physical plan."""
    plan = _plan(_near_dup_plan(spark, family))
    assert "Union" not in plan, plan
    joins = sum(plan.count(j) for j in
                ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    # embedding_dedup_pairs adds two joins after its candidate join: the
    # unit vectors of each side, for the exact cosine check
    assert joins == (3 if family == "embedding_lsh" else 1), plan
