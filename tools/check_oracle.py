"""Compare declared queries against their DuckDB oracle SQL, the way
the driver does: sort columns by name, sort rows, compare normalized
values. Usage:

    python tools/check_oracle.py <sf_dir> q1 q2 ...
    python tools/check_oracle.py <sf_dir> --all

A query without an oracle prints ``name: DIGEST <sha256> (<n> rows)``
instead: the SHA-256 of its rows in the order ``rows_key`` gives them,
so two checkouts can be compared by their digests.

Exit 0 iff every requested query that has an oracle matches.
"""
from __future__ import annotations

import hashlib
import math
import sys


def _norm(v):
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # stable float rendering (driver hashes repr-level values)
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def rows_digest(rows, cols) -> str:
    """SHA-256 of ``rows_key(rows, cols)``: one digest for the same rows
    in any order."""
    return hashlib.sha256(repr(rows_key(rows, cols)).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    import duckdb

    sys.path.insert(0, ".")
    import __spark_entry__ as entry
    from gostatix_spark.session import get_spark

    oracles = entry.oracle_sql()
    if names == ["--all"]:
        names = [n for n in entry.queries() if n in oracles]

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in ("events", "orders", "customer", "lineitem", "supplier",
              "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    qfns = entry.queries()
    failed = []
    for name in names:
        df = qfns[name](spark, sf_dir)
        spark_cols = df.columns
        spark_rows = [tuple(r) for r in df.collect()]
        if name not in oracles:
            print(f"{name}: DIGEST {rows_digest(spark_rows, spark_cols)} "
                  f"({len(spark_rows)} rows)")
            spark.catalog.clearCache()
            continue
        res = con.execute(oracles[name])
        ora_cols = [d[0] for d in res.description]
        ora_rows = res.fetchall()
        sk = rows_key(spark_rows, spark_cols)
        ok = rows_key(ora_rows, ora_cols)
        schema_match = sorted(spark_cols) == sorted(ora_cols)
        match = schema_match and sk == ok
        print(f"{name}: {'OK' if match else 'MISMATCH'} "
              f"(spark {len(sk)} rows, oracle {len(ok)} rows)")
        if not match:
            failed.append(name)
            if not schema_match:
                print(f"  cols spark={sorted(spark_cols)} "
                      f"oracle={sorted(ora_cols)}")
            for i, (a, b) in enumerate(zip(sk, ok)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark={a}\n    "
                          f"oracle={b}")
                    break
            if len(sk) != len(ok):
                print(f"  row count differs: {len(sk)} vs {len(ok)}")
        spark.catalog.clearCache()
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
