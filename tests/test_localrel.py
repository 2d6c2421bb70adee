"""``local_rows_df``: driver-built rows become an Arrow-built local
relation. Every schema shape its callers pass must collect back the
identical rows, the relation must stay a JVM ``LocalTableScan`` (no
Python evaluation), and a ``mapInPandas`` over it must fan out to
``min(rows, defaultParallelism)`` tasks."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from connectors_spark.localrel import local_rows_df


def _canon(v):
    """NaN-aware comparison key (NaN != NaN under ==)."""
    if isinstance(v, float) and math.isnan(v):
        return ("NaN",)
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _roundtrip(spark, rows, schema):
    df = local_rows_df(spark, rows, schema)
    got = df.collect()
    assert [_canon(tuple(r)) for r in got] \
        == [_canon(tuple(r)) for r in rows]
    return df


def _jvm_schema(df):
    # select("*") re-derives the schema from the analyzed JVM plan
    # rather than the Python-side copy createDataFrame was handed
    return df.select("*").schema


def test_map_none_is_distinct_from_empty(spark):
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("m", T.MapType(T.StringType(), T.StringType()))])
    rows = [("a", {"x": "1", "y": "2"}), ("b", {}), ("c", None),
            ("d", {"z": None})]
    df = _roundtrip(spark, rows, schema)
    got = {r["k"]: r["m"] for r in df.collect()}
    assert got["b"] == {} and got["c"] is None
    assert _jvm_schema(df) == schema


def test_arrays_of_long_and_double(spark):
    rows = [(1, [1, -2, 2 ** 62], [0.5, -1.25]), (2, [], []),
            (3, None, None), (4, [None, 7], [float("nan"), None])]
    _roundtrip(spark, rows,
               "_qid long, _qw array<long>, _qv array<double>")


def test_nullable_scalars(spark):
    rows = [(1, True, 1.5), (None, None, None), (-(2 ** 63), False,
                                                 float("nan")),
            (2 ** 63 - 1, True, -0.0)]
    df = _roundtrip(spark, rows, "n long, b boolean, d double")
    assert _jvm_schema(df) == T.StructType.fromDDL(
        "n long, b boolean, d double")


def test_unicode_and_percent_escaped_strings(spark):
    rows = [("/t/st%3DF/part-0.parquet",), ("/t/é ü/日本.parquet",),
            ("a+b%2Fc%25",), ("",), (None,)]
    _roundtrip(spark, rows, "path string")


@pytest.mark.parametrize("ddl", ["pattern: string, n: int",
                                 "pattern string, n int"])
def test_ddl_string_schemas(spark, ddl):
    df = _roundtrip(spark, [("x", 1), ("y", None)], ddl)
    assert _jvm_schema(df) == T.StructType.fromDDL(ddl)


def test_row_and_tuple_rows(spark):
    R = Row("path", "size", "version")
    rows = [R("/t/a", 10, 0), R("/t/b", None, 3)]
    df = _roundtrip(spark, rows, "path string, size long, version long")
    assert [r.asDict() for r in df.collect()] \
        == [r.asDict() for r in rows]
    _roundtrip(spark, [tuple(r) for r in rows],
               "path string, size long, version long")


def test_empty_rows(spark):
    schema = T.StructType.fromDDL(
        "path string, pv map<string,string>, v long")
    df = local_rows_df(spark, [], schema)
    assert df.collect() == []
    assert _jvm_schema(df) == schema


def test_plan_is_a_local_table_scan(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        local_rows_df(spark, [("a", 1)], "k string, v long").explain()
    p = buf.getvalue()
    assert "LocalTableScan" in p
    assert "ExistingRDD" not in p and "Python" not in p


def test_map_in_pandas_width_is_min_rows_parallelism(spark):
    # a LocalTableScan runs min(rows, defaultParallelism) tasks: the
    # width contract the publish, footer-read and VACUUM listing
    # fan-outs rely on
    import pandas as pd

    def sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    dp = spark.sparkContext.defaultParallelism
    for n in (1, 2, dp, dp + 3, 3 * dp):
        out = (local_rows_df(spark, [(f"/f{i}",) for i in range(n)],
                             "path string")
               .mapInPandas(sizes, "n long"))
        assert out.rdd.getNumPartitions() == min(n, dp), n
        got = [r["n"] for r in out.collect()]
        assert len(got) == min(n, dp) and sum(got) == n, (n, got)
