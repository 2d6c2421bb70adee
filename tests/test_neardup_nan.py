"""Cosine near-dup pairs on degenerate vectors must match the exact SQL
oracle. A vector with a NaN component has a NaN similarity to every
other vector, which Spark and DuckDB both order above any threshold, so
those pairs are emitted; a zero-norm vector has no cosine at all (the
oracle divides by zero to NULL), so its pairs are not. The numpy
prefilter of both near-dup operators once dropped the NaN pairs."""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.harness import TABLES, compare


@pytest.fixture()
def degenerate_sf(sf_dir, tmp_path):
    """The sf's tables, with a zero-norm and a NaN-component vector
    appended to ``embeddings``."""
    out = tmp_path / "sf"
    out.mkdir()
    for t in TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"),
                       out / f"{t}.parquet")
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.column("embedding")[0].as_py())
    top = max(emb.column("vec_id").to_pylist())
    nan_vec = [float("nan")] + [0.5] * (dim - 1)
    extra = pa.table({"vec_id": [top + 1, top + 2],
                      "embedding": [[0.0] * dim, nan_vec],
                      "label": [0, 0]}).cast(emb.schema)
    pq.write_table(pa.concat_tables([emb, extra]),
                   out / "embeddings.parquet")
    return str(out), top + 1, top + 2


@pytest.mark.parametrize("name", ["emb_cosine_neardup_pairs",
                                  "emb_cosine_neardup_lsh"])
def test_neardup_nan_pairs_match_exact_sql(spark, degenerate_sf, name):
    from connectors_spark.queries import REGISTRY
    sf, zero_id, nan_id = degenerate_sf
    ok, msg = compare(spark, sf, name)
    assert ok, msg
    rows = REGISTRY[name].fn(spark, sf).collect()
    ids = [(r["a_id"], r["b_id"], r["sim"]) for r in rows]
    assert not [p for p in ids if zero_id in p[:2]]
    nan_pairs = [p for p in ids if nan_id in p[:2]]
    assert nan_pairs and all(math.isnan(s) for _a, _b, s in nan_pairs)
    assert not [p for p in ids if nan_id not in p[:2]
                and np.isnan(p[2])]
