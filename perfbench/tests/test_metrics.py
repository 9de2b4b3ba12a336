import pytest

import metrics


def test_end_to_end():
    m = metrics.end_to_end(7.0, [9.0, 2.0, 3.0], 1200, [24.0])
    assert m["setup_s"] == pytest.approx(7.0 + 3 * 3.0)  # median drops the cold shard
    assert m["clips_per_s"] == pytest.approx(50.0)
    m = metrics.end_to_end(1.0, [2.0, 4.0], 100, [10.0, 30.0])
    assert m == {"setup_s": pytest.approx(1.0 + 2 * 3.0), "clips_per_s": pytest.approx(5.0)}
    with pytest.raises(ValueError):
        metrics.end_to_end(1.0, [2.0], 100, [])


def test_fail_ratio():
    assert metrics.fail_ratio(0, 7) == 0.0
    assert metrics.fail_ratio(2, 8) == 0.25
    with pytest.raises(ValueError):
        metrics.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        metrics.fail_ratio(3, 2)


def test_tree_rss_counts_this_process():
    import os

    assert metrics.tree_rss_bytes(os.getpid()) > 0
    sampler = metrics.PeakRss(interval_s=0.01)
    sampler.start([os.getpid()])
    assert sampler.stop() > 0
