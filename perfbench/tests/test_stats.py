import statistics

import pytest

import stats


def test_summarize_median_and_quartiles():
    s = stats.summarize([5.0, 1.0, 4.0, 2.0, 3.0])
    assert s["median"] == 3.0 and s["n"] == 5
    q1, _, q3 = statistics.quantiles([1, 2, 3, 4, 5], n=4)
    assert (s["q1"], s["q3"]) == (q1, q3) == (1.5, 4.5)


def test_summarize_single_sample_and_empty():
    assert stats.summarize([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    with pytest.raises(ValueError):
        stats.summarize([])


def test_peak_rss_counts_this_process():
    total, by_name = stats.peak_rss_mb()
    assert total > 1.0 and total == sum(by_name.values())


def test_reset_peak_rss_forgets_freed_memory():
    import numpy as np
    block = np.ones(64 << 17)          # 64 MiB, touched
    del block
    before, _ = stats.peak_rss_mb()
    stats.reset_peak_rss()
    after, _ = stats.peak_rss_mb()
    assert after < before - 32
