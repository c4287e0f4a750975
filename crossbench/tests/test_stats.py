from crossbench.stats import mean_of_medians, quartile_spread, tail


def test_tail_needs_ten_samples_above():
    assert tail([1.0] * 10) is None  # no rank has ten samples above it
    pct, val = tail([float(i) for i in range(11)])
    assert (pct, val) == (0.0, 0.0)


def test_tail_is_highest_percentile_with_ten_above():
    xs = [float(i) for i in range(100)]
    pct, val = tail(xs)
    assert val == 89.0
    assert sum(x > val for x in xs) == 10
    assert abs(pct - 100 * 89 / 99) < 1e-12


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(xs) == tail(sorted(xs))
    _, val = tail(xs)
    assert sum(x > val for x in xs) >= 10


def test_quartile_spread():
    assert quartile_spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) > 0.0


def test_mean_of_medians_keeps_groups_apart():
    # one median over all six samples would be (1.1 + 2.0) / 2
    groups = {"a": [1.0, 1.1, 5.0], "b": [2.0, 2.2, 2.1]}
    assert mean_of_medians(groups) == (1.1 + 2.1) / 2
    assert mean_of_medians({"a": [3.0, 1.0]}) == 2.0
