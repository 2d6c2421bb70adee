"""The cosine near-dup operators keep the input's integral id type in
their output and reject non-integral ids up front with a clear error
(the driver-side corpus closure holds ids as int64)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from connectors_spark.ops.similarity import (cosine_neardup_pairs,
                                             cosine_neardup_pairs_lsh)

_VECS = [[1.0, 0.0, 0.0, 0.1], [0.9, 0.1, 0.0, 0.1], [0.0, 1.0, 0.0, 0.0],
         [0.0, 0.9, 0.1, 0.0], [0.0, 0.0, 1.0, 0.0], [1.0, 0.05, 0.0, 0.1]]


def _corpus(spark, id_type):
    schema = T.StructType([T.StructField("vec_id", id_type),
                           T.StructField("embedding",
                                         T.ArrayType(T.DoubleType()))])
    conv = {T.StringType(): str, T.DoubleType(): float}.get(id_type, int)
    ids = [conv(i) for i in range(len(_VECS))]
    return spark.createDataFrame(list(zip(ids, _VECS)), schema)


def _ops():
    return [lambda df: cosine_neardup_pairs(df, threshold=0.9),
            lambda df: cosine_neardup_pairs_lsh(df, threshold=0.9, dim=4,
                                                num_planes=2, num_tables=4)]


@pytest.mark.parametrize("op", _ops(), ids=["exact", "lsh"])
@pytest.mark.parametrize("id_type", [T.IntegerType(), T.ShortType()],
                         ids=["int", "short"])
def test_neardup_pairs_keep_integral_id_type(spark, op, id_type):
    out = op(_corpus(spark, id_type))
    assert out.schema["a_id"].dataType == id_type
    assert out.schema["b_id"].dataType == id_type
    got = {(r["a_id"], r["b_id"]) for r in out.collect()}
    want = {(r["a_id"], r["b_id"])
            for r in op(_corpus(spark, T.LongType())).collect()}
    assert got == want and (0, 1) in got


@pytest.mark.parametrize("op", _ops(), ids=["exact", "lsh"])
@pytest.mark.parametrize("id_type", [T.StringType(), T.DoubleType()],
                         ids=["string", "double"])
def test_neardup_pairs_reject_non_integral_ids(spark, op, id_type):
    with pytest.raises(TypeError, match="integral id column"):
        op(_corpus(spark, id_type))
