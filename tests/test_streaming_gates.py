"""The streaming registry gates run real queries with checkpoints and
scratch source/sink tables; each must leave none of its ``cs_st_*``
scratch directories behind, and still match its DuckDB oracle."""

from __future__ import annotations

import tempfile

import pytest

from tests.harness import compare


@pytest.mark.parametrize("name", ["st_window_rollup", "st_dedup_restart",
                                  "st_sessionize_flush", "st_cdf_changes",
                                  "st_sink_roundtrip"])
def test_streaming_gate_leaves_no_scratch_dir(spark, sf_dir, tmp_path,
                                              monkeypatch, name):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ok, msg = compare(spark, sf_dir, name)
    assert ok, msg
    assert not list(tmp_path.glob("cs_st_*"))
