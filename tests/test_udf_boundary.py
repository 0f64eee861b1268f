"""One UDF boundary: every Python UDF of the library takes and returns
Arrow (``F.arrow_udf`` or ``mapInArrow``), none goes through pandas,
and the text UDFs read a null text as a null row."""

import ast
import pathlib

import pytest

from gostatix_spark import dedup, textstats

PACKAGE = pathlib.Path(dedup.__file__).parent
PANDAS_APIS = {"pandas_udf", "mapInPandas", "applyInPandas"}


def _pandas_uses(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
            found += [f"{path.name}:{node.lineno} import {a.name}"
                      for a in node.names if a.name in PANDAS_APIS]
        else:
            name = (node.attr if isinstance(node, ast.Attribute) else
                    node.id if isinstance(node, ast.Name) else None)
            if name in PANDAS_APIS:
                found.append(f"{path.name}:{node.lineno} {name}")
            continue
        found += [f"{path.name}:{node.lineno} import {m}" for m in mods
                  if m.split(".")[0] == "pandas"]
    return found


def test_no_module_uses_pandas():
    """No ``import pandas``/``from pandas`` and no pandas UDF API in any
    module of the package (no JVM)."""
    files = sorted(PACKAGE.rglob("*.py"))
    assert len(files) > 10
    assert [u for f in files for u in _pandas_uses(f)] == []


def test_guard_sees_each_pandas_form(tmp_path):
    src = ("import pandas as pd\nfrom pandas import Series\n"
           "import pandas.api.types\n@F.pandas_udf('long')\ndef f(s): pass\n"
           "df.mapInPandas(f, 's long')\ndf.groupBy().applyInPandas(f, 's')\n"
           "from pyspark.sql.functions import pandas_udf\n"
           "from pyspark.sql.pandas.types import to_arrow_type\n")
    path = tmp_path / "mod.py"
    path.write_text(src)
    assert len(_pandas_uses(path)) == 7


ROWS = [(1, "the cat sat on the mat"), (2, None), (3, "a dog ran far"),
        (4, "the cat sat on the mat"), (5, None), (6, "a dog ran far!")]


def _pairs(df):
    return dedup.minhash_dedup_pairs(df, "text", "id", threshold=0.5,
                                     num_perm=32, bands=8)


@pytest.mark.parametrize("op", [
    lambda df: dedup.minhash_signatures(df, "text", "id", num_perm=32),
    lambda df: dedup.simhash(df, "text", "id"),
    lambda df: textstats.winnowing_fingerprints(df, "text", "id", k=4),
    _pairs,
], ids=["minhash_signatures", "simhash", "winnowing_fingerprints",
        "minhash_dedup_pairs"])
def test_null_text_reads_null(spark, op):
    """Nulls inside one Arrow batch: each null text gives a null output
    row and the other rows are the rows computed without the nulls."""
    df = spark.createDataFrame(ROWS, "id long, text string").coalesce(1)
    got = sorted(map(tuple, op(df).collect()))
    want = sorted(map(tuple, op(df.where("text IS NOT NULL")).collect()))
    if op is _pairs:
        assert got == want and (1, 4, 1.0) in got
        return
    assert [r for r in got if r[0] in (2, 5)] == [(2, None), (5, None)]
    assert [r for r in got if r[0] not in (2, 5)] == want
