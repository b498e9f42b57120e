import types

import pytest

from spans import Tracer, covered, self_times


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "update", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "write_mart:a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "write_mart:b", "parent": 0, "start": 4.0, "end": 6.0},
        {"id": 3, "name": "read_sources", "parent": 1, "start": 1.0, "end": 2.0},
    ]
    got = self_times(spans)
    assert got["update"] == pytest.approx(5.0)
    assert got["write_mart"] == pytest.approx(2.0 + 2.0)
    assert got["read_sources"] == pytest.approx(1.0)
    assert sum(got.values()) == pytest.approx(10.0)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0.0, 10.0) == 0.0
    assert covered([(1.0, 3.0), (2.0, 5.0)], 0.0, 10.0) == pytest.approx(4.0)
    assert covered([(-5.0, 1.0), (9.0, 20.0)], 0.0, 10.0) == pytest.approx(2.0)
    assert covered([(2.0, 3.0), (1.0, 8.0)], 0.0, 10.0) == pytest.approx(7.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    mod = types.SimpleNamespace(f=lambda: 1)
    with t.instrument(mod, {"f": None}):
        assert mod.f() == 1
    assert t.spans == []


def test_instrument_traces_calls_and_restores():
    t = Tracer(enabled=True)

    def write(df, out, name):
        return name

    mod = types.SimpleNamespace(write=write)
    with t.instrument(mod, {"write": lambda args, kwargs: args[2]}):
        with t.span("update"):
            assert mod.write(None, "/x", "fct_a") == "fct_a"
    assert mod.write is write
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("update", None), ("write:fct_a", 0)]
    assert all(s["end"] >= s["start"] for s in t.spans)
