"""Event-log parser and call accounting against a small recorded log.

The fixture is a real Spark 4 event log of two descriptions, trimmed to
the events and fields the parser reads: ``q:agg`` (a groupBy count, two
jobs, the second with a skipped stage) and ``q:py`` (a mapInPandas
identity, one job). Its last line is cut mid-record, as a crash leaves it.

    python3 -m pytest perfbench/tests -q
"""

import os

import pytest

from perfbench import eventlog
from perfbench.trace import Span, job_accounting

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(FIXTURE)


def test_jobs_and_descriptions(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert [log.jobs[j].desc for j in (0, 1, 2)] == ["q:agg", "q:agg", "q:py"]
    assert all(j.complete_ms >= j.submit_ms for j in log.jobs.values())


def test_skipped_stage_is_absent(log):
    # job 1 lists stages 1 and 2; stage 1 (the map side) was skipped
    assert log.jobs[1].stage_ids == [1, 2]
    assert [s.stage_id for s in log.job_stages(log.jobs[1])] == [2]


def test_stage_metrics(log):
    st = log.stages
    assert st[0].tasks == 2 and st[0].executor_ms == 437 and st[0].gc_ms == 22
    # the shuffle written by stage 0 is what stage 2 reads
    assert st[0].shuffle_write_bytes == st[2].shuffle_read_bytes == 266
    # Arrow batches to and from the Python workers of the mapInPandas
    assert (st[3].py_sent_bytes, st[3].py_recv_bytes) == (8608, 8352)
    assert st[0].py_sent_bytes == 0


def test_by_description(log):
    d = log.by_description()
    assert set(d) == {"q:agg", "q:py"}
    agg, py = d["q:agg"], d["q:py"]
    assert agg["jobs"] == 2 and py["jobs"] == 1
    assert agg["wall_s"] == pytest.approx(0.512 + 0.176)
    assert agg["executor_s"] == pytest.approx(0.522)
    # gaps: between the two q:agg jobs, then before the q:py job
    assert agg["gap_s"] == pytest.approx(0.122)
    assert py["gap_s"] == pytest.approx(0.791)
    assert py["py_sent_bytes"] == 8608


def test_union_s():
    assert eventlog.union_s([], 0, 10) == 0
    assert eventlog.union_s([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert eventlog.union_s([(1, 3), (2, 5)], 2.5, 4) == pytest.approx(1.5)
    assert eventlog.union_s([(5, 6)], 0, 4) == 0


def test_call_accounting(log):
    j0, j1, j2 = log.jobs[0], log.jobs[1], log.jobs[2]
    # a call spanning the q:agg jobs (ids 0-1), starting 100 ms before the first
    sp = Span("q.agg", (j0.submit_ms - 100) / 1e3, (j1.complete_ms + 50) / 1e3,
              attrs={"jobs": [0, 1]})
    acc = job_accounting(log, sp)
    assert [j.job_id for j in acc["jobs"]] == [0, 1]
    assert acc["job_s"] == pytest.approx(0.512 + 0.176)
    assert acc["driver_gap_s"] == pytest.approx(sp.dur - acc["job_s"])
    assert acc["accounted"] == pytest.approx(1.0)
    # the same call credited with job 1 only: job 0 ran inside it unattributed
    sp.attrs["jobs"] = [1, 1]
    assert job_accounting(log, sp)["accounted"] == pytest.approx(1 - j0.wall_s / sp.dur)
    # a call that ends before its job does: the job spills past the span
    sp = Span("q.py", j2.submit_ms / 1e3, (j2.submit_ms + 1000) / 1e3, attrs={"jobs": [2, 2]})
    assert job_accounting(log, sp)["accounted"] == pytest.approx(j2.wall_s / 1.0)
