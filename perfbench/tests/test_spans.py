"""Self-time arithmetic of the span tree."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, deepest_containing, self_times  # noqa: E402


def tree(*rows):
    """rows: (sid, parent, start, end)"""
    return [Span(sid, f"s{sid}", "k", a, b, parent) for sid, parent, a, b in rows]


def test_nested_children_are_subtracted():
    # query [0,10): construct [0,4) with a loader [1,2); execute [4,9)
    spans = tree((0, None, 0, 10), (1, 0, 0, 4), (2, 1, 1, 2), (3, 0, 4, 9))
    st = self_times(spans, spans[0])
    assert st == pytest.approx({0: 1.0, 1: 3.0, 2: 1.0, 3: 5.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_siblings_share_time():
    # two concurrent jobs [2,6) and [4,8) under an execute span [0,10)
    spans = tree((0, None, 0, 10), (1, 0, 2, 6), (2, 0, 4, 8))
    st = self_times(spans, spans[0])
    # [2,4) job1, [4,6) split, [6,8) job2, the rest the parent
    assert st == pytest.approx({0: 4.0, 1: 3.0, 2: 3.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_children_are_clipped_to_the_parent():
    # a job reported as ending after its phase closed (clock skew)
    spans = tree((0, None, 0, 10), (1, 0, 5, 10), (2, 1, 8, 12))
    st = self_times(spans, spans[0])
    assert st == pytest.approx({0: 5.0, 1: 3.0, 2: 2.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_a_leaf_beside_a_deeper_branch_keeps_its_time():
    # sibling A [0,4) has no children; sibling B [0,4) has child B1 [0,4)
    spans = tree((0, None, 0, 4), (1, 0, 0, 4), (2, 0, 0, 4), (3, 2, 0, 4))
    st = self_times(spans, spans[0])
    assert st == pytest.approx({0: 0.0, 1: 2.0, 2: 0.0, 3: 2.0})


def test_sum_equals_root_duration_on_a_random_tree():
    import random

    rng = random.Random(7)
    spans = [Span(0, "root", "query", 0.0, 100.0)]
    for sid in range(1, 60):
        parent = spans[rng.randrange(sid)]
        a = rng.uniform(parent.start - 5, parent.end)
        spans.append(Span(sid, "s", "k", a, a + rng.uniform(0, 30), parent.sid))
    st = self_times(spans, spans[0])
    assert sum(st.values()) == pytest.approx(100.0)
    assert min(st.values()) >= 0.0


def test_tracer_records_nesting_only_when_enabled():
    tr = Tracer()
    with tr.span("off", "k") as sp:
        assert sp is None
    tr.enabled = True
    with tr.span("q", "query") as q:
        with tr.span("c", "construct") as c:
            pass
    assert [s.name for s in tr.spans] == ["q", "c"]
    assert c.parent == q.sid and q.end >= c.end >= c.start >= q.start
    assert deepest_containing(tr.spans, q, c.start) is c
