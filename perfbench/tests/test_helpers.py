"""Unit tests for the benchmark's pure helpers: the percentile sample
rule, interval union and span self time, span nesting, the event-log
parser on a small checked-in log, and the per-kind and per-unit medians
behind the end-to-end metrics."""

from __future__ import annotations

import os

import pytest

from core import OpRecord
from report import kind_medians, unit_rates
from spans import (Span, Tracer, clip, jobs_by_span, parse_event_log, percentile,
                   self_time, union_length)

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(99)), 90) is None
    assert percentile([float(i) for i in range(100)], 90) == pytest.approx(89.1)
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)
    assert percentile([], 50) is None


def test_percentile_ignores_input_order():
    xs = [5.0, 1.0, 3.0] * 40
    assert percentile(xs, 90) == percentile(sorted(xs), 90) == 5.0


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_clip_keeps_only_the_part_inside():
    assert clip([(0, 5), (8, 12), (20, 30)], 3, 10) == [(3, 5), (8, 10)]


def test_self_time_subtracts_covered_part_once():
    s = Span(0, "pipelines.x", 10.0, 20.0, None, 0)
    # children overlap each other and stick out of the span
    assert self_time(s, [(9.0, 12.0), (11.0, 14.0), (18.0, 25.0)]) == pytest.approx(4.0)
    assert self_time(s, []) == pytest.approx(10.0)


def test_tracer_spans_nest_and_record_their_op():
    t = Tracer()
    with t.span("op.a", op=True):
        with t.span("pipelines.p"):
            with t.span("tables.merge_upsert"):
                pass
        with t.span("tables.read"):
            pass
    with t.span("outside"):
        pass
    op, pipe, merge, read, outside = t.spans
    assert [pipe.parent, merge.parent, read.parent] == [op.sid, pipe.sid, op.sid]
    assert {s.op for s in (op, pipe, merge, read)} == {op.sid}
    assert outside.op is None and outside.parent is None
    kids = t.children()
    assert [k.sid for k in kids[op.sid]] == [pipe.sid, read.sid]
    assert op.start <= pipe.start <= merge.start <= merge.end <= pipe.end <= op.end


def test_wrap_spans_calls_and_flat_layers_count_once():
    class Table:
        def read(self):
            return "rows"

        def merge(self):
            return self.read()

    t = Tracer()
    t.wrap("tables.read", [(Table, "read")], flat=True)
    t.wrap("tables.merge", [(Table, "merge")], flat=True)
    assert Table().merge() == "rows"
    assert [s.name for s in t.spans] == ["tables.merge"]
    t.unwrap()
    assert Table().merge() == "rows" and len(t.spans) == 1


def test_parse_event_log_attributes_jobs_stages_and_tasks():
    with open(LOG) as f:
        jobs, stages, stage_job = parse_event_log(f)
    assert sorted(jobs) == [0, 1]
    assert jobs[0].group is None
    assert jobs[1].group == "span-7"
    assert jobs[1].end >= jobs[1].start > jobs[0].end - 1
    assert jobs_by_span(jobs) == {7: [jobs[1]]}
    ran = {sid: st for sid, st in stages.items() if st.tasks}
    assert {stage_job[sid] for sid in ran} == {0, 1}
    job1 = [st for sid, st in ran.items() if stage_job[sid] == 1]
    assert sum(st.tasks for st in job1) == 6
    assert sum(st.shuffle_write_bytes for st in job1) > 0
    assert sum(st.shuffle_read_records for st in job1) == 4
    assert all(st.run_s >= 0 and st.cpu_s >= 0 and st.end >= st.start for st in ran.values())


def test_kind_medians_take_each_kind_apart():
    recs = [OpRecord("read", "q1", t, 1, 0, None) for t in (1.0, 9.0, 2.0)]
    recs += [OpRecord("read", "scan", t, 1, 0, None) for t in (0.1, 0.3)]
    assert sorted(kind_medians(recs)) == pytest.approx([0.2, 2.0])


def test_unit_rates_skip_the_cold_unit():
    recs = [OpRecord("read", "q", 4.0, 0, 100, None),
            OpRecord("read", "q", 1.0, 1, 10, None), OpRecord("write", "w", 1.0, 1, 30, None),
            OpRecord("read", "q", 0.5, 2, 10, None)]
    assert unit_rates(recs, 3) == [pytest.approx((1.0, 20.0)), pytest.approx((2.0, 20.0))]
