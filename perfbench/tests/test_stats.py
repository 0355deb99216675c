"""The metric arithmetic: percentile rule, self time under overlapping
children, and storage accounting."""

import pytest

from stats import (
    beyond,
    percentile,
    self_time,
    stored_bytes_per_user_byte,
    tail_percentile,
    union_length,
)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([3.0], 99) == 3.0


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(19) is None  # median has 9 beyond it
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0  # p90 has only 9 beyond it
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    for n in (20, 40, 100, 200, 1000):
        assert beyond(n, tail_percentile(n)) >= 10


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10)


def test_self_time_subtracts_the_union_of_overlapping_children():
    # two commit threads overlap in [2, 3]: covered time is 2..4, not 1+2
    assert self_time((0, 10), [(2, 3), (2, 4)]) == pytest.approx(8)
    # children reaching outside the span are clipped to it
    assert self_time((0, 10), [(-5, 1), (9, 20)]) == pytest.approx(8)
    assert self_time((0, 10), [(11, 12)]) == pytest.approx(10)


def test_stored_bytes_accounting():
    live = {"objects": 100, "object_map": 200, "chunks": 300, "chunk_store": 400}
    assert stored_bytes_per_user_byte(live, 2000) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        stored_bytes_per_user_byte(live, 0)
