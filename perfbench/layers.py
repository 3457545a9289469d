"""Per-layer metrics of a traced run.

Each traced iteration (one ``query_mix`` pass, one ``serve_online``
request) gives one value per metric: self time of the spans with that
name, driver CPU, and Spark counters of the jobs launched under those
spans.  A run reports the median over its traced iterations for times
and the mean for counts, so a job that only some requests launch still
shows.  Layers a workload does not use read 0.
"""

from __future__ import annotations

import statistics

from sparkstats import StageTotals
from spans import self_times, subtree
from workloads import PIPELINE_ROWS, QUERY_ROWS

#: (metric, unit, how it is summarised over iterations)
_TIME, _COUNT = "median", "mean"
FIXED = [
    ("pipeline.fit_s", "s", _TIME),
    ("pipeline.fit_jobs", "count", _COUNT),
    ("pipeline.fit_stages", "count", _COUNT),
    ("pipeline.fit_executor_run_s", "s", _TIME),
    ("pipeline.transform_s", "s", _TIME),
    ("pipeline.driver_cpu_s", "s", _TIME),
    ("persistence.save_s", "s", _TIME),
    ("persistence.save_jobs", "count", _COUNT),
    ("persistence.load_s", "s", _TIME),
    ("persistence.load_jobs", "count", _COUNT),
    ("persistence.bytes_written", "bytes", _COUNT),
    ("registry.build_s", "s", _TIME),
    ("spark.exec_s", "s", _TIME),
    ("spark.jobs", "count", _COUNT),
    ("spark.stages", "count", _COUNT),
    ("spark.tasks", "count", _COUNT),
    ("spark.executor_run_s", "s", _TIME),
    ("spark.executor_cpu_s", "s", _TIME),
    ("spark.gc_s", "s", _TIME),
    ("spark.input_bytes", "bytes", _COUNT),
    ("spark.shuffle_write_bytes", "bytes", _COUNT),
    ("spark.shuffle_read_bytes", "bytes", _COUNT),
    ("spark.spill_bytes", "bytes", _COUNT),
    ("serving.compile_ms", "ms", _TIME),
    ("serving.collect_ms", "ms", _TIME),
    ("serving.driver_cpu_ms", "ms", _TIME),
    ("serving.jobs_per_request", "count", _COUNT),
]
ROWS = PIPELINE_ROWS + QUERY_ROWS
PER_ROW = [(f"query.{r}.{m}", u, how) for r in ROWS for m, u, how in
           (("s", "s", _TIME), ("jobs", "count", _COUNT),
            ("shuffle_bytes", "bytes", _COUNT))]
#: layers whose self time makes up an iteration's wall, apart from the
#: benchmark's own bookkeeping
PROGRAM_LAYERS = ("pipeline", "persistence", "registry", "spark", "serving")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    return ([("session.start_s", "s"), ("inputs.gen_s", "s")]
            + [(m, u) for m, u, _ in FIXED + PER_ROW]
            + [("trace.overhead_frac", "frac")])


class LayerReport:
    def __init__(self, spans, counters):
        counters.drain()
        self.spans = spans
        self.self_wall = {}
        self.self_cpu = {}
        for sid, (w, c) in self_times(spans).items():
            self.self_wall[sid], self.self_cpu[sid] = w, c
        self.stage = {s.id: counters.totals(
            counters.job_ids(f"perfbench-{s.id}")) for s in spans}

    def _iterations(self):
        return [s for s in self.spans if s.name == "bench.iteration"]

    def _one(self, root) -> dict[str, float]:
        spans = subtree(self.spans, root)
        v: dict[str, float] = {m: 0.0 for m, _, _ in FIXED + PER_ROW}

        def add(metric, x):
            v[metric] += x

        for s in spans:
            wall, cpu, st = self.self_wall[s.id], self.self_cpu[s.id], self.stage[s.id]
            for f in ("jobs", "stages", "tasks", "executor_run_s",
                      "executor_cpu_s", "gc_s", "input_bytes",
                      "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes"):
                add(f"spark.{f}", getattr(st, f))
            if s.layer == "pipeline":
                add("pipeline.driver_cpu_s", cpu)
            if s.name == "pipeline.fit":
                add("pipeline.fit_s", wall)
                add("pipeline.fit_jobs", st.jobs)
                add("pipeline.fit_stages", st.stages)
                add("pipeline.fit_executor_run_s", st.executor_run_s)
            elif s.name == "pipeline.transform":
                add("pipeline.transform_s", wall)
            elif s.name == "persistence.save":
                add("persistence.save_s", wall)
                add("persistence.save_jobs", st.jobs)
                add("persistence.bytes_written", s.attrs.get("bytes_written", 0))
            elif s.name == "persistence.load":
                add("persistence.load_s", wall)
                add("persistence.load_jobs", st.jobs)
            elif s.name == "registry.build":
                add("registry.build_s", wall)
            elif s.name == "spark.exec":
                add("spark.exec_s", wall)
            elif s.name == "serving.compile":
                add("serving.compile_ms", wall * 1e3)
            elif s.name == "serving.collect":
                add("serving.collect_ms", wall * 1e3)
            elif s.name == "serving.request":
                sub = subtree(self.spans, s)
                add("serving.driver_cpu_ms",
                    sum(self.self_cpu[k.id] for k in sub) * 1e3)
                add("serving.jobs_per_request",
                    sum(self.stage[k.id].jobs for k in sub))
            elif s.layer == "query":
                row = s.name.split(".", 1)[1]
                sub = subtree(self.spans, s)
                total = sum((self.stage[k.id] for k in sub), StageTotals())
                add(f"query.{row}.s", s.duration)
                add(f"query.{row}.jobs", total.jobs)
                add(f"query.{row}.shuffle_bytes", total.shuffle_write_bytes)
        return v

    def metrics(self, plain: dict, traced: dict) -> dict[str, tuple[float, str]]:
        per_it = [self._one(it) for it in self._iterations()]
        out = {}
        for m, unit, how in FIXED + PER_ROW:
            xs = [v[m] for v in per_it]
            out[m] = ((statistics.median(xs) if how == _TIME
                       else statistics.fmean(xs)), unit)
        untraced = sum(statistics.median(v) for v in plain.values())
        with_trace = sum(statistics.median(v) for v in traced.values())
        out["trace.overhead_frac"] = (with_trace / untraced - 1.0, "frac")
        return out

    def coverage(self) -> float:
        """Share of the traced iterations' wall that program layers'
        self time accounts for (the rest is the benchmark's own work)."""
        covered = total = 0.0
        for it in self._iterations():
            total += it.duration
            covered += sum(self.self_wall[s.id] for s in subtree(self.spans, it)
                           if s.layer in PROGRAM_LAYERS)
        return covered / total
