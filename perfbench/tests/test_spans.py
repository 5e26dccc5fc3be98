from spans import Span, covered, self_times


def span(i, start, end, parent=None):
    return Span(i, f"s{i}", "w/1/q", start, end, parent)


def test_self_time_subtracts_children():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 3.0, 0), span(2, 5.0, 9.0, 0)]
    st = self_times(spans)
    assert st[0] == 10.0 - 2.0 - 4.0
    assert st[1] == 2.0 and st[2] == 4.0


def test_overlapping_children_count_once():
    spans = [span(0, 0.0, 10.0), span(1, 2.0, 6.0, 0), span(2, 4.0, 8.0, 0)]
    assert self_times(spans)[0] == 10.0 - 6.0


def test_grandchildren_only_reduce_their_parent():
    spans = [span(0, 0.0, 10.0), span(1, 0.0, 8.0, 0), span(2, 1.0, 7.0, 1)]
    st = self_times(spans)
    assert st[0] == 2.0 and st[1] == 2.0 and st[2] == 6.0
    assert sum(st.values()) == 10.0  # self times partition the root


def test_covered_clips_to_the_parent():
    assert covered([(-1.0, 2.0), (9.0, 12.0)], 0.0, 10.0) == 3.0
    assert covered([], 0.0, 1.0) == 0.0
