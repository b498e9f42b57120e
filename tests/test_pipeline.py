"""The build's contract with its callers: the names creditbench traces by
module attribute, the mart names ``run_pipeline`` writes under, and a
generation and a build that leave no cached data behind in a long-lived
session."""

from __future__ import annotations

import importlib
import os
import sys
from dataclasses import replace

import pytest

from credit_abs_oltp_to_mart_spark.generator import run_credit_oltp_synth
from credit_abs_oltp_to_mart_spark.operators.marts import MARTS
from credit_abs_oltp_to_mart_spark.plans import incremental, pipeline
from tests.conftest import BAND_CFG

CREDITBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "creditbench")


@pytest.fixture(scope="module")
def workloads():
    """``creditbench/workloads.py``, imported as the benchmark imports it
    (its own directory first on the path), then unloaded again."""
    before = set(sys.modules)
    sys.path.insert(0, CREDITBENCH)
    try:
        yield importlib.import_module("workloads")
    finally:
        sys.path.remove(CREDITBENCH)
        for name in ("workloads", "checks", "stats", "spans"):
            if name not in before:
                sys.modules.pop(name, None)


def test_benchmark_hooks_exist(workloads):
    assert [n for n in workloads.BUILD_LAYERS if not hasattr(pipeline, n)] == []
    assert [n for n in workloads.REFRESH_LAYERS if not hasattr(incremental, n)] == []
    assert set(workloads.MARTS) == set(MARTS)


def test_run_pipeline_writes_each_mart_by_name(spark, oltp_dir, tmp_path, workloads,
                                               monkeypatch):
    names = []
    monkeypatch.setattr(pipeline, "write_mart", lambda *args, **kw: names.append(args[2]))
    pipeline.run_pipeline(spark, oltp_dir, out_dir=str(tmp_path / "marts"))
    assert sorted(names) == sorted(workloads.MARTS)


def test_run_pipeline_leaves_nothing_cached(spark, tmp_path):
    """Generation and two builds in one session: each releases what it
    cached once its writes are done, so the second build never asks to
    cache data that is already cached."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.numCachedEntries()
    lake = str(tmp_path / "oltp")
    run_credit_oltp_synth(spark, replace(BAND_CFG, seed=7), out_dir=lake)
    assert cache.numCachedEntries() == entries, "generator"
    for i in range(2):
        pipeline.run_pipeline(spark, lake, out_dir=str(tmp_path / f"marts{i}"))
        assert cache.numCachedEntries() == entries, i
