"""Driver-contract rehearsal: run every ``queries()`` entry at sf0.01
and compare to its ``oracle_sql()`` via DuckDB exactly the way the
driver does — row count, column names, and order-insensitive values
(columns sorted by name, rows sorted)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["event_type", "within_bound"]
    assert all(r["within_bound"] for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    got = ALL_QUERIES[name](spark, SF_DIR).toPandas()
    want = ddb.execute(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns), \
        f"{name}: column mismatch {got.columns} vs {want.columns}"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            pd.testing.assert_series_equal(
                g[c].astype(float), w[c].astype(float),
                check_exact=True, check_names=False, obj=f"{name}.{c}")
        else:
            assert g[c].astype(str).tolist() == w[c].astype(str).tolist(), \
                f"{name}: values differ in column {c}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL_QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_topk_capped_actually_compacts(spark):
    """q_topk_capped must keep exercising the Top-K compaction: the
    driver-path build's serialized state carries the capped flag (set
    only when a compaction fired), and the exact=True fast path is
    refused on it."""
    from gostatix_spark.agg import sketch_agg
    from gostatix_spark.query import topk_values
    from gostatix_spark.state import sketch_from_bytes
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    elems = li.selectExpr(
        "CASE WHEN l_partkey % 20 = 0"
        " THEN concat('hot', cast(l_partkey % 200 as string))"
        " ELSE concat('u', cast(l_orderkey % 20000 as string)) END AS elem")
    states = sketch_agg(elems, "topk", "elem", k=10, eps=0.00002,
                        slack=8, max_distinct=4096)
    st = sketch_from_bytes(bytes(states.collect()[0]["state"]))
    assert st.capped
    with pytest.raises(Exception, match="capped"):
        topk_values(states, exact=True, decode="string").collect()


def test_embedding_dedup_threshold_margin(ddb):
    """Oracle robustness guard (ADVICE r3): q_embedding_dedup's 0.35
    cosine threshold must sit ≥ 1e-6 away from every pair's cosine —
    a pair inside that band could flip between Spark's
    normalize-then-dot and DuckDB's list_cosine_similarity under
    summation-order rounding. Fails if the synthetic corpus is ever
    regenerated with a pair too close to the line."""
    margin = ddb.execute("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 1200)
        SELECT min(abs(list_cosine_similarity(a.v, b.v) - 0.35))
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    """).fetchone()[0]
    assert margin > 1e-6, f"cosine margin {margin} too close to threshold"
