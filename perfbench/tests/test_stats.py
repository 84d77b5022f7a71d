import pytest

import stats


def test_tail_picks_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(1, 101)]  # 100 samples
    pct, value, beyond = stats.tail(samples)
    assert pct == 90.0  # p95 would leave only 5 samples above it
    assert beyond == 10
    assert value == pytest.approx(90.1)


def test_tail_moves_down_the_ladder_as_samples_shrink():
    assert stats.tail([float(i) for i in range(1000)])[0] == 99.0
    assert stats.tail([float(i) for i in range(60)])[0] == 80.0
    assert stats.tail([float(i) for i in range(stats.MIN_SAMPLES)])[0] == 75.0


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError, match="no tail percentile"):
        stats.tail([float(i) for i in range(stats.MIN_SAMPLES - 1)])


def test_tail_counts_only_samples_strictly_above():
    # ties at the top: p90 of 100 samples sits inside the tied block, so
    # fewer than ten lie strictly above it and the ladder steps down
    samples = [1.0] * 85 + [5.0] * 15
    pct, value, beyond = stats.tail(samples)
    assert (pct, value, beyond) == (80.0, 1.0, 15)


def test_median_interpolates_between_middle_samples():
    assert stats.median([1.0, 2.0, 10.0, 11.0]) == 6.0
    assert stats.median([3.0]) == 3.0
    with pytest.raises(ValueError):
        stats.median([])
