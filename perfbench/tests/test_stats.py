import os
import subprocess
import sys

from perfbench import stats


def test_min_samples_rule():
    # ten samples must lie beyond the percentile
    assert stats.min_samples(0.5) == 20
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.99) == 1000


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.9) == 5.0
    assert stats.percentile(xs, 0.2) == 1.0
    assert stats.percentile(list(range(1, 101)), 0.9) == 90


def test_p50_is_the_median():
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.5
    assert stats.percentile([2.0, 9.0, 1.0], 0.5) == 2.0


def test_summarize_flags_unsupported_counts():
    assert stats.summarize(list(range(99)), 0.9)["supported"] is False
    full = stats.summarize([float(x) for x in range(1, 101)], 0.9)
    assert full == {"value": 90.0, "samples": 100, "supported": True}
    assert stats.summarize(list(range(20)), 0.5)["supported"] is True
    assert stats.summarize(list(range(19)), 0.5)["supported"] is False


def test_tree_peak_rss_counts_children_and_skips_excluded():
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys; x = bytearray(64 << 20); sys.stdin.read()"],
        stdin=subprocess.PIPE,
    )
    try:
        # wait until the child has touched its buffer
        while stats._hwm_kb(child.pid) < 60 << 10:
            assert child.poll() is None
        alone = stats.tree_peak_rss_mb(os.getpid(), exclude=frozenset({child.pid}))
        with_child = stats.tree_peak_rss_mb(os.getpid())
        assert with_child - alone >= 60
    finally:
        child.stdin.close()
        child.wait(timeout=30)
