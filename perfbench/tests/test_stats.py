import statistics

import pytest

from perfbench import stats


def test_tail_has_ten_executions_beyond():
    vals = {"q": [float(i) for i in range(1, 41)]}  # 40 executions
    # the 11th slowest; 31..40 lie beyond it
    assert stats.tail(vals) == (75.0, 30.0, 10)


def test_tail_pools_queries_and_rises_with_more_executions():
    vals = [float(i) for i in range(1, 1001)]
    assert stats.tail({"a": vals[::2], "b": vals[1::2]}) == (99.0, 990.0, 10)
    assert stats.tail({"a": vals[:200]}) == (95.0, 190.0, 10)
    assert stats.tail({"a": vals[:21]}) == (pytest.approx(100 * 11 / 21), 11.0, 10)


def test_tail_never_below_the_median():
    vals = [float(i) for i in range(1, 101)]
    for n in range(stats.MIN_EXECUTIONS, 101):
        _, value, _ = stats.tail({"q": vals[:n]})
        assert value >= statistics.median(vals[:n])


def test_tail_ignores_input_order():
    vals = [float(i) for i in range(1, 41)]
    assert stats.tail({"q": list(reversed(vals))}) == stats.tail({"q": vals})


def test_tail_below_21_executions_is_slowest_query_median():
    # 18 executions: the percentile with 10 beyond would sit below the median
    vals = {"fast": [1.0] * 6, "mid": [2.0] * 6, "slow": [3.0, 3.2, 9.0, 3.1, 3.3, 3.0]}
    assert stats.tail(vals) == (None, pytest.approx(3.15), 0)  # not the 9.0 outlier


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail({})
    with pytest.raises(ValueError):
        stats.tail({"q": []})


def test_failed_frac_counts_exceptions_and_mismatches():
    outcomes = [
        {"name": "a", "ok": True, "error": ""},
        {"name": "b", "ok": False, "error": "ValueError: boom"},  # raised
        {"name": "c", "ok": False, "error": "oracle mismatch"},  # wrong rows
        {"name": "d", "ok": False, "error": ""},  # check failed without a message
        {"name": "e", "ok": True, "error": ""},
    ]
    attempted, failed = stats.count_outcomes(outcomes)
    assert (attempted, failed) == (5, 3)
    assert stats.failed_frac(attempted, failed) == pytest.approx(0.6)


def test_failed_frac_zero_and_bounds():
    assert stats.failed_frac(7, 0) == 0.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def _window(walls_by_pass: list[dict[str, float]]) -> list[dict]:
    """Back-to-back executions, pass by pass, from t = 0."""
    out, t = [], 0.0
    for p, walls in enumerate(walls_by_pass, start=1):
        for name, wall in walls.items():
            out.append({"name": name, "pass": p, "ok": True, "error": "", "wall_s": wall,
                        "start": t, "end": t + wall})
            t += wall
    return out


def test_latency_figures_ignore_passes_beyond_the_fixed_count():
    from perfbench.run import end_to_end

    # 9 queries of 1..9 s; a faster program fits a 4th pass in the same window
    slow = {f"q{i}": float(i) for i in range(1, 10)}
    fast = {f"q{i}": i / 2.0 for i in range(1, 10)}
    res = {"setup_s": 1.0, "first_pass": [], "peak_rss_mb": 1.0, "jvm_heap_mb": 1.0,
           "jvm_nonheap_mb": 1.0, "window_s": 60.0}
    three, (_, _, n3) = end_to_end(dict(res, window=_window([slow] * 3)), passes=3)
    four, (_, _, n4) = end_to_end(dict(res, window=_window([slow] * 3 + [fast])), passes=3)
    assert n3 == n4 == 27
    # the 11th slowest of 27 is the 4th slowest query's middle execution
    assert three["latency_tail_s"] == four["latency_tail_s"] == 6.0
    assert three["latency_p50_s"] == four["latency_p50_s"] == 5.0
    # throughput too: 27 executions in the 135 s of the first three passes
    assert three["queries_per_min"] == four["queries_per_min"] == 12.0



def test_three_pass_figures_are_per_query_medians():
    from perfbench.run import end_to_end

    res = {"setup_s": 1.0, "first_pass": [], "peak_rss_mb": 1.0, "jvm_heap_mb": 1.0,
           "jvm_nonheap_mb": 1.0, "window_s": 60.0}
    # the third pass slows one execution of "a" and one of "c"
    passes = [{"a": 1.0, "b": 2.0, "c": 4.0}, {"a": 1.0, "b": 2.0, "c": 5.0},
              {"a": 7.0, "b": 2.0, "c": 9.0}]
    three, (pct, beyond, n) = end_to_end(dict(res, window=_window(passes)), passes=3)
    assert (pct, beyond, n) == (None, 0, 9)
    assert three["latency_tail_s"] == 5.0  # the slowest query's median execution
    assert three["latency_p50_s"] == 2.0  # the middle query's


def test_first_pass_runs_the_mix_as_listed_and_timed_passes_by_seed():
    from perfbench.child import pass_order

    mix = tuple(f"q{i}" for i in range(7))
    assert pass_order(mix, 1, 0) == pass_order(mix, 2, 0) == list(mix)
    assert pass_order(mix, 1, 1) == pass_order(mix, 1, 1)
    assert sorted(pass_order(mix, 1, 1)) == list(mix)
    assert len({tuple(pass_order(mix, s, 1)) for s in range(10)}) > 1
