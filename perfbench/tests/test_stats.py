import math

from stats import percentile


def test_percentile_reports_its_sample_count():
    p = percentile([3.0, 1.0, 2.0, 4.0], 50)
    assert p.n == 4
    assert p.value == 2.5
    assert percentile(range(1, 101), 95) == (95.05, 100)


def test_percentile_of_nothing_has_no_samples():
    p = percentile([], 95)
    assert p.n == 0 and math.isnan(p.value)
