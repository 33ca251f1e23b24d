import pytest

from perfbench.stats import Tally, percentile, summarize, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None),
        (10, None),
        (19, None),
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (9999, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tail_percentile_is_the_highest_that_qualifies():
    def beyond(q, n):  # samples strictly above the nearest-rank percentile
        values = list(range(n))
        return sum(v > percentile(values, q) for v in values)

    for n in (1, 11, 19, 20, 21, 39, 40, 41, 99, 100, 101, 199, 200, 999, 1000):
        p = tail_percentile(n)
        candidates = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
        if p is None:
            assert all(beyond(q, n) < 10 for q in candidates)
            continue
        assert beyond(p, n) >= 10
        assert all(beyond(q, n) < 10 for q in candidates if q > p)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99.9) == 100
    assert percentile([3.0], 75) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_median_tail_and_count():
    s = summarize([float(x) for x in range(40, 0, -1)])
    assert s == {"n": 40, "median": 20.5, "tail_p": 75.0, "tail": 30.0}
    assert summarize([1.0, 2.0, 3.0])["tail_p"] is None


def test_tally_counts_failures_against_attempts():
    t = Tally()
    assert t.failed_ratio == 0.0
    t.ok()
    assert t.check(True, "unused")
    assert not t.check(False, "wrong output")
    t.fail("missing row", 2)
    assert (t.attempted, t.failed) == (5, 3)
    assert t.reasons == {"wrong output": 1, "missing row": 2}
    assert t.failed_ratio == pytest.approx(3 / 5)
