"""Placing Spark jobs in the span tree, and the time the tree cannot hold."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import EventLog, Job  # noqa: E402
from tracing import TraceRun  # noqa: E402


def test_jobs_are_placed_and_lost_time_is_charged(tmp_path):
    tr = TraceRun(str(tmp_path), str(tmp_path / "trace.json"))
    add = tr.tracer.add
    qa = add("a", "query", 0.0, 10.0, None, pass_index=2, query="a")
    ex = add("execute", "execute", 2.0, 10.0, qa.sid)
    qb = add("b", "query", 12.0, 20.0, None, pass_index=2, query="b")
    add("construct", "construct", 12.0, 20.0, qb.sid)
    log = EventLog(jobs={
        # runs 1 s past its phase
        1: Job(1, "pb|2|a|execute", 3.0, 11.0),
        # concurrent with job 1: a sibling under the phase, not its child
        2: Job(2, "pb|2|a|execute", 4.0, 6.0),
        # no group, between the two queries of a traced pass: charged to a
        3: Job(3, None, 10.5, 11.5),
        # no group, outside every traced pass: an untraced pass's job
        4: Job(4, None, 30.0, 31.0),
    }, scans={})
    lost = tr._attach_external(log, [qa, qb])
    placed = {s.attrs["job_id"]: s for s in tr.tracer.spans if s.kind == "spark_job"}
    assert sorted(placed) == [1, 2]
    assert placed[1].parent == ex.sid and placed[2].parent == ex.sid
    assert lost == pytest.approx({qa.sid: 2.0})
    assert qb.sid not in lost
