"""The turn-weighted latency median."""

import pytest

from stream import weighted_median


def test_weighted_median_takes_the_heavier_side():
    assert weighted_median([(3.0, 10), (1.0, 5), (2.0, 6)]) == 2.0
    assert weighted_median([(1.0, 5), (2.0, 4)]) == 1.0


def test_weighted_median_of_two_equal_batches_is_their_midpoint():
    assert weighted_median([(4.0, 25_000), (8.0, 25_000)]) == pytest.approx(6.0)
    assert weighted_median([(1.0, 2), (2.0, 1), (5.0, 3)]) == pytest.approx(3.5)


def test_weighted_median_needs_samples():
    with pytest.raises(ValueError):
        weighted_median([])
