"""Span recording and self-time arithmetic (no Spark needed)."""

import pytest

from layers import LayerReport, metric_names
from sparkstats import StageTotals
from spans import Span, Tracer, self_times, subtree


def _span(i, name, start, end, parent=None, it="0", cpu=0.0):
    return Span(id=i, name=name, iteration=it, parent=parent, start=start,
                end=end, cpu_start=0.0, cpu_end=cpu)


def test_self_time_subtracts_union_of_children():
    spans = [_span(0, "a", 0, 10, cpu=4.0),
             _span(1, "b", 1, 3, parent=0, cpu=1.0),
             _span(2, "c", 2, 5, parent=0, cpu=1.5),  # overlaps b
             _span(3, "d", 6, 7, parent=0)]
    st = self_times(spans)
    assert st[0][0] == pytest.approx(10 - (5 - 1) - 1)
    assert st[0][1] == pytest.approx(4.0 - 2.5)
    assert st[1][0] == pytest.approx(2) and st[3][0] == pytest.approx(1)


def test_child_outside_parent_is_clipped():
    spans = [_span(0, "a", 0, 4), _span(1, "b", 3, 9, parent=0)]
    assert self_times(spans)[0][0] == pytest.approx(3)


def test_self_times_partition_the_root():
    spans = [_span(0, "bench.iteration", 0, 10),
             _span(1, "query.x", 0.5, 9, parent=0),
             _span(2, "registry.build", 1, 4, parent=1),
             _span(3, "spark.exec", 4, 8.5, parent=1)]
    st = self_times(spans)
    assert sum(w for w, _ in st.values()) == pytest.approx(10)
    assert st[3][0] == pytest.approx(4.5)
    assert st[1][0] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    calls = []
    t = Tracer(False, on_enter=calls.append, on_exit=calls.append)
    with t.span("a", iteration="0") as s:
        assert s is None
    assert t.spans == [] and calls == []


def test_tracer_nests_and_tags():
    entered, exited = [], []
    t = Tracer(True, on_enter=lambda s: entered.append(s.name),
               on_exit=lambda p: exited.append(p and p.name))
    with t.span("bench.iteration", iteration="7"):
        with t.span("query.q"):
            with t.span("spark.exec"):
                pass
        with t.span("query.r"):
            pass
    a, q, e, r = t.spans
    assert (q.parent, e.parent, r.parent) == (a.id, q.id, a.id)
    assert {s.iteration for s in t.spans} == {"7"}
    assert entered == ["bench.iteration", "query.q", "spark.exec", "query.r"]
    assert exited == ["query.q", "bench.iteration", "bench.iteration", None]
    assert [s.name for s in subtree(t.spans, q)] == ["query.q", "spark.exec"]
    assert all(s.end >= s.start for s in t.spans)


def test_span_closes_when_the_call_raises():
    t = Tracer(True)
    with pytest.raises(ValueError):
        with t.span("a"):
            raise ValueError("boom")
    assert t.spans[0].end >= t.spans[0].start
    with t.span("b"):
        pass
    assert t.spans[1].parent is None


class _FakeCounters:
    """Stands in for SparkCounters: span id -> StageTotals."""

    def __init__(self, by_group):
        self.by_group = by_group

    def drain(self):
        pass

    def job_ids(self, group):
        return [group] if group in self.by_group else []

    def totals(self, job_ids):
        out = StageTotals()
        for g in job_ids:
            out += self.by_group[g]
        return out


def test_layer_report_attributes_jobs_and_time():
    spans = [_span(0, "bench.iteration", 0, 10),
             _span(1, "query.prep_batch", 0, 6, parent=0),
             _span(2, "pipeline.fit", 0, 2, parent=1, cpu=0.5),
             _span(3, "spark.exec", 2, 6, parent=1),
             _span(4, "query.sessionize", 6, 10, parent=0),
             _span(5, "registry.build", 6, 7, parent=4),
             _span(6, "spark.exec", 7, 9.5, parent=4)]
    counters = _FakeCounters({
        "perfbench-2": StageTotals(jobs=4, stages=6, executor_run_s=1.5),
        "perfbench-3": StageTotals(jobs=1, stages=2, shuffle_write_bytes=100),
        "perfbench-6": StageTotals(jobs=2, stages=3, shuffle_write_bytes=7),
    })
    report = LayerReport(spans, counters)
    m = report.metrics({"prep_batch": [6.0], "sessionize": [4.0]},
                       {"prep_batch": [6.6], "sessionize": [4.4]})
    assert m["pipeline.fit_s"][0] == pytest.approx(2)
    assert m["pipeline.fit_jobs"][0] == 4
    assert m["pipeline.fit_stages"][0] == 6
    assert m["pipeline.fit_executor_run_s"][0] == pytest.approx(1.5)
    assert m["pipeline.driver_cpu_s"][0] == pytest.approx(0.5)
    assert m["spark.exec_s"][0] == pytest.approx(4 + 2.5)
    assert m["spark.jobs"][0] == 7
    assert m["query.prep_batch.jobs"][0] == 5
    assert m["query.prep_batch.shuffle_bytes"][0] == 100
    assert m["query.sessionize.s"][0] == pytest.approx(4)
    assert m["trace.overhead_frac"][0] == pytest.approx(0.1)
    # registry 1 + pipeline 2 + spark 6.5 of a 10 s iteration
    assert report.coverage() == pytest.approx(0.95)
    assert {n for n, _ in metric_names()} >= set(m)
