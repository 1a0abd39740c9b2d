"""The bench's final stdout line must always parse and fit a 2000-char
stdout tail, whatever the size of the result."""

import json

import bench


def _oversized() -> dict:
    sweep = {
        "spark_total_s": 123.456, "duckdb_total_s": 98.765, "ratio": 1.25,
        "floor_adjusted_ratio": 1.1, "n_both": 26, "truncated": False,
    }
    return {
        "metric": "mixed_queries_warm_total",
        "value": 999.123,
        "unit": "sec",
        "sf": 0.1,
        "n_ok": 300,
        "n_err": 0,
        "fresh_total": 1001.5,
        **{k: dict(sweep) for k in ("sf10", "sf1", "sf01", "tpch_sf1")},
        "full": "tools/bench_full.json",
        "queries": {
            f"a_rather_long_query_name_number_{i:03d}": 0.01 * (i + 1)
            for i in range(300)
        },
    }


def test_compact_line_fits_and_keeps_slowest_queries():
    compact = _oversized()
    names = sorted(compact["queries"], key=compact["queries"].get)
    line = bench.compact_line(compact)
    assert len(line) <= bench._LINE_MAX
    parsed = json.loads(line)
    kept = parsed["queries"]
    assert kept
    # the slowest queries survive; the fastest go first
    assert set(kept) == set(names[-len(kept):])
    assert parsed["queries_shed"] == 300 - len(kept)
    assert parsed["metric"] == "mixed_queries_warm_total"
    assert parsed["value"] == 999.123


def test_compact_line_fits_with_one_huge_query_name():
    compact = _oversized()
    compact["queries"] = {"q" * 1700: 2.0, "fast": 1.0}
    line = bench.compact_line(compact)
    assert len(line) <= bench._LINE_MAX
    assert list(json.loads(line)["queries"]) == ["q" * 1700]


def test_compact_line_small_result_unchanged():
    compact = {"metric": "m", "value": 1.0, "unit": "sec", "n_ok": 1,
               "queries": {"a": 1.0}}
    assert json.loads(bench.compact_line(dict(compact))) == compact
