"""Event-log fold on a small recorded log.

The fixture is a trimmed Spark 4.1 event log of three traced spans run
on ``local[2]``: ``count`` (one job, two stages), ``shuffle`` (one job)
and ``stream`` (a schema-inference job in the span's own group, then an
``availableNow`` micro-batch whose job carries the streaming query's
group and so falls back to the span's time window).  A job before the
first span belongs to no span.  Run with
``python3 -m pytest perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from eventlog import Span, fold_file, merge

FIXTURES = Path(__file__).resolve().parent / "fixtures"


@pytest.fixture(scope="module")
def spans():
    raw = json.loads((FIXTURES / "small_eventlog_spans.json").read_text())
    return [Span(s["key"], s["start"], s["end"]) for s in raw]


@pytest.fixture(scope="module")
def folded(spans):
    return fold_file(FIXTURES / "small_eventlog.jsonl", spans)


def test_counts_per_span(folded):
    got = {k: (c.jobs, c.stages, c.tasks, c.sql_executions) for k, c in folded.items()}
    assert got == {"count": (1, 2, 3, 1), "shuffle": (1, 1, 2, 1), "stream": (2, 2, 3, 2)}
    assert sum(c.failed_tasks for c in folded.values()) == 0


def test_job_group_attribution(folded):
    # job 0 ran before any span: dropped, not charged to "count"
    assert folded["count"].jobs == 1
    # the micro-batch job's group is the query's run id, not "stream":
    # charged by time window, alongside the span's own group job
    stream = folded["stream"]
    assert stream.jobs == 2
    assert stream.streaming_batches == 1
    assert stream.streaming_batch_s == pytest.approx(0.983)


def test_task_metrics_summed(folded):
    c = folded["count"]
    assert c.executor_run_s > 0
    assert c.executor_cpu_s > 0


def test_no_job_time(folded, spans):
    by_key = {s.key: s for s in spans}
    count = by_key["count"]
    # job 1 ran from 1792178093.779 to 1792178094.128
    assert folded["count"].no_job_s == pytest.approx(count.end - count.start - 0.349, abs=1e-6)


def test_merge_recomputes_no_job_time(folded, spans):
    by_key = {s.key: s for s in spans}
    lo, hi = by_key["count"].start, by_key["shuffle"].end
    total = merge([folded["count"], folded["shuffle"]], lo, hi)
    assert (total.jobs, total.stages, total.tasks) == (2, 3, 5)
    # jobs 1 and 2 ran 0.349 s and 0.257 s, without overlap
    assert total.no_job_s == pytest.approx(hi - lo - 0.349 - 0.257, abs=1e-6)
