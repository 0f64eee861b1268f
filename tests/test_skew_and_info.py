"""Skew invariance (FIXTURES.md F4 skewed_sources), sketch_info
accessors, and the source shim."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gostatix_spark.agg import cuckoo_build, sketch_agg
from gostatix_spark.corpus import corpus_df
from gostatix_spark.query import sketch_info
from gostatix_spark.sources import read_table, snapshot_id
from gostatix_spark.state import sketch_from_bytes


def test_skewed_key_same_result(spark):
    """95%-skewed key distribution must give byte-identical states to
    the same data shuffled evenly — map-side combine means key skew
    never reaches the merge shuffle."""
    base = corpus_df(spark, 3000, seed=11, partitions=6)
    skewed = base.withColumn(
        "source", F.when(F.col("doc_id").substr(-1, 1) != "0", "web")
        .otherwise(F.col("source")))  # ~90% one key
    a = sketch_agg(skewed, "hll", "tokens", key_col="source", m=1024)
    b = sketch_agg(skewed.repartition(24), "hll", "tokens",
                   key_col="source", m=1024)
    sa = {r["source"]: bytes(r["state"]) for r in a.collect()}
    sb = {r["source"]: bytes(r["state"]) for r in b.collect()}
    assert set(sa) == set(sb)
    for k in sa:
        assert sketch_from_bytes(sa[k]).equals(sketch_from_bytes(sb[k]))
    # the hot key contributed exactly one partial per partition
    partials = sketch_agg(skewed.repartition(24), "hll", "tokens",
                          key_col="source", m=1024, _return_partials=True)
    per_key = {r["source"]: r["n"] for r in
               partials.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_key["web"] <= 24


def test_sketch_info_accessors(spark):
    corpus = corpus_df(spark, 500, seed=2, partitions=4)
    infos = {}
    for kind, params in [("hll", {"m": 1024}), ("cms", {"d": 3, "w": 500}),
                         ("bloom", {"n": 500, "eps": 0.01}),
                         ("topk", {"k": 5}), ("tdigest", {}), ("kll", {})]:
        col = "n_tok" if kind in () else ("doc_id" if kind == "bloom" else "tokens")
        if kind in ("tdigest", "kll"):
            df = corpus.select(F.col("n_tok").cast("double").alias("v"))
            states = sketch_agg(df, kind, "v")
        elif kind == "bloom":
            states = sketch_agg(corpus, kind, "doc_id", element="string", **params)
        else:
            states = sketch_agg(corpus, kind, "tokens", **params)
        row = sketch_info(states).collect()[0]
        infos[kind] = row
        assert row["kind"] == kind
    assert 0 < infos["bloom"]["fill_metric"] < 0.02  # observed FPR ≤ ε
    assert infos["hll"]["accuracy"] == pytest.approx(1.04 / np.sqrt(1024))
    ck = cuckoo_build(corpus, "doc_id", element="string", n_shards=1, eps=0.01)
    row = sketch_info(ck).collect()[0]
    assert row["kind"] == "cuckoo" and 0 < row["fill_metric"] <= 1


def test_query_on_wrong_kind_names_the_kinds(spark):
    """A query decodes with its own kind's reader: a CMS state fed to a
    Bloom or HLL query fails naming both kinds, not with an
    AttributeError on a missing field."""
    from gostatix_spark.kernels import cms
    from gostatix_spark.query import bloom_cardinality, hll_intersect_pairs
    from gostatix_spark.state import CMSState

    blob = CMSState(2, 8, cms.new_state(2, 8), 0).to_bytes()
    states = spark.createDataFrame([("a", blob), ("b", blob)],
                                   "key string, state binary")
    with pytest.raises(Exception, match="expected a bloom frame, found cms"):
        bloom_cardinality(states).collect()
    with pytest.raises(Exception, match="expected a hll frame, found cms"):
        hll_intersect_pairs(states, "key").collect()


def test_read_table_fallback_and_snapshot(spark, tmp_path):
    p = str(tmp_path / "t")
    corpus_df(spark, 100, seed=1, partitions=2).write.parquet(p)
    df = read_table(spark, p)
    assert df.count() == 100
    s1 = snapshot_id(spark, p)
    s2 = snapshot_id(spark, p)
    assert s1 == s2 and s1 > 0


def test_sketch_sink_roundtrip(spark, tmp_path):
    from gostatix_spark.query import hll_estimate
    from gostatix_spark.sources import load_sketches, save_sketches

    src = str(tmp_path / "src")
    corpus_df(spark, 300, seed=4, partitions=2).write.parquet(src)
    states = sketch_agg(read_table(spark, src), "hll", "tokens",
                        key_col="source", m=512)
    out = str(tmp_path / "sketches")
    save_sketches(states, out, kind="hll", source_ref=src)
    back = load_sketches(spark, out, kind="hll")
    assert {"sketch_kind", "built_at_snapshot"} <= set(back.columns)
    a = {r["source"]: r["est_distinct"] for r in hll_estimate(states).collect()}
    b = {r["source"]: r["est_distinct"] for r in hll_estimate(back).collect()}
    assert a == b
