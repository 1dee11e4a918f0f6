"""bench.py: the N -> 4N pair taken from the CPU count, and the per-query
timing loop with its medians, quartiles and row check."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

QUERIES = ["token_stats", "pricing_summary"]


@pytest.mark.parametrize("cpus, pair", [(4, (1, 4)), (3, None), (8, (2, 8)), (1, None)])
def test_scaling_pair(cpus, pair):
    assert bench.scaling_pair(cpus) == pair


def test_time_queries_reports_median_quartiles_and_n(spark, sf001_dir):
    recorded = bench.QUERY_ROWS[0.001]
    stats = bench.time_queries(spark, sf001_dir, QUERIES, 3, recorded)
    assert list(stats) == QUERIES
    for name, s in stats.items():
        assert s["ok"] and s["rows"] == [recorded[name]]
        assert s["n"] == 3
        assert 0 < s["q1"] <= s["median"] <= s["q3"]


def test_time_queries_flags_a_wrong_row_count(spark, sf001_dir):
    recorded = bench.QUERY_ROWS[0.001]
    wrong = {QUERIES[0]: recorded[QUERIES[0]] + 1}
    stats = bench.time_queries(spark, sf001_dir, QUERIES, 1, wrong)
    assert not stats[QUERIES[0]]["ok"]
    assert stats[QUERIES[0]]["rows"] == [recorded[QUERIES[0]]]
    # no recorded count: the query passes while its trials agree
    assert stats[QUERIES[1]]["ok"]


def test_time_queries_runs_one_untimed_warm_up(spark, monkeypatch):
    """The first run of a query pays JIT and codegen warm-up: it is run
    but not timed, so a slow first run stays out of every statistic."""
    import time

    from logdag_spark import entry_queries

    calls = []

    def stub(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            time.sleep(1.0)
        return spark.range(3)

    monkeypatch.setitem(entry_queries.QUERIES, "stub", (stub, None))
    stats = bench.time_queries(spark, "sf", ["stub"], 2, {"stub": 3})
    assert len(calls) == 3
    assert stats["stub"]["ok"] and stats["stub"]["n"] == 2
    assert stats["stub"]["median"] < 0.5
