import pytest

from perfbench.stats import tail, tree_rss_bytes


@pytest.mark.parametrize(
    "n, index, percentile",
    [
        (21, 10, 100 * 11 / 21),
        (100, 89, 90.0),
        (1000, 989, 99.0),
    ],
)
def test_tail_has_exactly_ten_ops_beyond(n, index, percentile):
    times = [float(i) for i in range(n)][::-1]  # order must not matter
    value, pct = tail(times)
    assert value == float(index)
    assert sum(t > value for t in times) == 10
    assert pct == pytest.approx(percentile)


@pytest.mark.parametrize("n", [1, 4, 11, 20])
def test_tail_of_twenty_or_fewer_ops_is_the_median(n):
    times = [float(i) for i in range(n)]
    assert tail(times) == ((n - 1) / 2, 50.0)


def test_tail_rejects_no_ops():
    with pytest.raises(ValueError):
        tail([])


def test_tree_rss_counts_this_process():
    import os

    assert tree_rss_bytes(os.getpid()) > 0
