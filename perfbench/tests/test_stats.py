from stats import beyond, percentile, tail_percentile


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    assert percentile([3.0], 90) == 3.0


def test_p90_needs_ten_samples_beyond():
    assert beyond(100, 90) == 10
    assert beyond(99, 90) == 9
    assert tail_percentile([1.0] * 99, 90) is None
    assert tail_percentile([float(i) for i in range(100)], 90) == 89.0

