"""Tests of the timed loop and the end-to-end arithmetic: steal blocks,
re-timing and the fallback."""

import time
from types import SimpleNamespace

from run import STEAL_LIMIT, Sample, end_to_end, undisturbed


def test_block_with_steal_is_left_out():
    quiet = [Sample("a", 0.5, 0.5, 0.0), Sample("b", 0.5, 0.5, 0.0)]
    # 1 s of wall on 4 CPUs: 0.2 s of steal is 5% of the machine's time
    stolen = [Sample("a", 0.5, 0.5, 0.2), Sample("b", 0.5, 0.5, 0.0)]
    assert undisturbed(quiet + stolen + quiet, 4) == quiet + quiet


def test_steal_up_to_the_limit_is_kept():
    block = [Sample("a", 1.0, 1.0, STEAL_LIMIT * 4)]
    assert undisturbed(block, 4) == block


def test_short_samples_are_judged_together():
    # ten 0.1 s samples make one block; the steal of one of them is
    # 0.25% of the block's CPU time
    block = [Sample("a", 0.1, 0.1, 0.01 if i == 3 else 0.0)
             for i in range(10)]
    assert undisturbed(block, 4) == block


def test_short_rest_joins_the_last_block():
    # the last 0.1 s sample passed one 10 ms jiffy of steal: 2.5% of its
    # own CPU time, but 0.2% of the block it joins
    samples = [Sample("a", 1.0, 1.0, 0.0), Sample("b", 0.1, 0.1, 0.01)]
    assert undisturbed(samples, 4) == samples
    stolen = [Sample("a", 1.0, 1.0, 0.2), Sample("b", 0.1, 0.1, 0.0)]
    assert undisturbed(stolen, 4) == []


def test_operation_without_undisturbed_sample_keeps_all():
    wl = SimpleNamespace(operations=lambda: [("a", None), ("b", None)],
                         input_rows={"a": 10, "b": 20})
    samples = [Sample("a", 1.0, 2.0, 0.0), Sample("a", 3.0, 2.0, 0.0),
               Sample("b", 2.0, 1.0, 1.0)]
    metrics, clean = end_to_end(wl, samples, 5.0, 100.0, 4)
    assert clean == {"a": 2, "b": 0}
    assert metrics["wall_s"] == 2.0 + 2.0
    assert metrics["cpu_s"] == 2.0 + 1.0
    assert metrics["rows_per_s"] == (10 + 20) / (2.0 + 2.0)



SECONDS = 0.1


def _steal_workload(monkeypatch, disturbed_runs_of_b):
    """Operations a and b; each of b's first ``disturbed_runs_of_b`` runs
    takes 1.2 × SECONDS and passes 1 s of steal, later runs take 1 ms.
    Returns (workload, [op names in run order])."""
    import run
    import sparkstats

    ran, steal = [], [0.0]
    monkeypatch.setattr(run, "STEAL_BLOCK_S", 0.0)
    monkeypatch.setattr(sparkstats, "host_steal_s", lambda: steal[0])

    def op(name):
        def fn():
            ran.append(name)
            if name == "b" and ran.count("b") <= disturbed_runs_of_b:
                time.sleep(1.2 * SECONDS)
                steal[0] += 1.0
            else:
                time.sleep(0.001)
        return fn

    wl = SimpleNamespace(operations=lambda: [("a", op("a")), ("b", op("b"))],
                         row_layer="query", check_last=lambda: None)
    return wl, ran


def _measure(wl):
    from run import measure
    from spans import Tracer

    ctx = SimpleNamespace(fail=lambda what, detail: None)
    return measure(wl, Tracer(False), SECONDS, False, ctx, lambda: 0.0, 4)


def test_disturbed_operation_alone_is_timed_again(monkeypatch):
    wl, ran = _steal_workload(monkeypatch, disturbed_runs_of_b=1)
    samples, _, attempted, failed = _measure(wl)
    assert ran == ["a", "b", "b"]
    assert [s.steal for s in samples] == [0.0, 1.0, 0.0]
    assert (attempted, failed) == (3, 0)


def test_retiming_stops_at_the_limit(monkeypatch):
    from run import RETIME_UNTIL

    wl, ran = _steal_workload(monkeypatch, disturbed_runs_of_b=10**6)
    t0 = time.perf_counter()
    _measure(wl)
    assert time.perf_counter() - t0 < (RETIME_UNTIL + 1.2) * SECONDS + 0.05
    assert ran == ["a", "b", "b"]
