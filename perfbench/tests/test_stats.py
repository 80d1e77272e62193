"""Self-tests of the benchmark's summary rules: ``python3 -m pytest perfbench/tests``."""

import pytest

from perfbench import stats


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_smallest_sample_count():
    value, pct, n = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0])
    assert value == 1.0 and n == 11
    assert pct == pytest.approx(100.0 / 11)


def test_tail_is_absent_below_eleven_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_tail_is_order_independent():
    a = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 1.1, 1.2, 0.05]
    assert stats.tail(a) == stats.tail(sorted(a)) == stats.tail(a[::-1])


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (6, 7), (10, 10)]) == 5
    assert stats.union_length([]) == 0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_of_nested_spans():
    spans = [
        _span(0, None, 0, 10),
        _span(1, 0, 1, 3),
        _span(2, 0, 2, 5),  # overlaps its sibling: covered once
        _span(3, 0, 7, 8),
        _span(4, 2, 3, 4),  # grandchild: subtracted from 2, not from 0
    ]
    st = stats.self_times(spans)
    assert st[0] == 10 - 5  # children cover [1, 5] and [7, 8]
    assert st[1] == 2
    assert st[2] == 3 - 1
    assert st[3] == 1
    assert st[4] == 1
    # the self times of a span tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10 + (2 - 1))  # siblings 1 and 2 overlap by 1


def test_self_time_clips_children_to_their_parent():
    st = stats.self_times([_span(0, None, 0, 4), _span(1, 0, 3, 9)])
    assert st[0] == 3
    assert st[1] == 6


def test_driver_idle_from_stage_intervals():
    # stages run [1,3], [2,4] (overlapping) and [8,12] (past the op's end)
    assert stats.idle_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 10 - 3 - 2
    assert stats.idle_time(0, 10, []) == 10
    assert stats.idle_time(0, 10, [(-5, 20)]) == 0
    # a stage entirely outside the operation does not count
    assert stats.idle_time(0, 10, [(11, 12)]) == 10


def test_row_hash_sees_values_and_columns():
    h = stats.row_hash(["a"], [(("i", 1),)])
    assert h == stats.row_hash(["a"], [(("i", 1),)])
    assert h != stats.row_hash(["b"], [(("i", 1),)])
    assert h != stats.row_hash(["a"], [(("i", 2),)])

