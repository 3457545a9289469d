"""Seeded benchmark of dataframe_pipeline_spark.

    python3 perfbench/run.py --workload {query_mix,serve_online} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run generates its inputs from the
seed with ``scripts/gen_testdata.generate``, starts one Spark session
(``local[<cores>]``), warms up and checks the program's outputs on an
untimed pass, then times the workload's operations for at least
``--seconds`` seconds.  Everything it writes stays under ``.bench_work/``
in the checkout; the run's own scratch directory is removed on exit.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
The line before it records the seed, the scale factor, each table's row
count and the sample counts.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

#: one input set for every workload; batch walls at this size are per-job
#: overhead, not data (README.md, "Inputs")
SF = 0.02
#: input generation is repeated and its median reported as set-up
GEN_REPEATS = 3
#: driver heap, committed and touched up front (-Xms, AlwaysPreTouch) so
#: the JVM's peak resident set does not depend on how far the collector
#: let the heap grow during the run.
#: -XX:-UsePerfData keeps the JVMs (driver and spark-submit's launcher)
#: from writing /tmp/hsperfdata_<user>.
DRIVER_MEMORY = "2g"
#: a block of timed samples is left out of the end-to-end metrics when
#: the hypervisor took more than this share of the machine's CPU time
#: during it (README.md, "Host steal")
STEAL_LIMIT = 0.02
#: timed wall of one such block; /proc/stat counts steal in 10 ms jiffies
STEAL_BLOCK_S = 1.0
#: an untraced run re-times operations that have only disturbed samples
#: until this multiple of --seconds has passed
RETIME_UNTIL = 1.5

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "wall_p90_s": "s",
             "cpu_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            " -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def load_generator():
    path = os.path.join(ROOT, "scripts", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def table_rows(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    from workloads import TABLES

    return {t: pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows
            for t in TABLES}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def p90(xs: list[float]) -> float:
    return float(np.percentile(xs, 90))


@dataclass
class Sample:
    """One untraced timing of one operation."""
    op: str
    wall: float
    cpu: float
    #: CPU seconds the hypervisor took from the machine's CPUs meanwhile
    steal: float


def measure(wl, tracer, seconds: float, trace: bool, ctx, cpu,
            n_cpus: int):
    """Run the workload's operations in order, cycling, until ``seconds``
    have passed and every operation has a sample.  Without ``trace``,
    operations whose samples are all disturbed (``undisturbed``) are then
    run again, and only they, until each has an undisturbed sample or
    RETIME_UNTIL × ``seconds`` have passed.  With ``trace``, cycles
    alternate untraced and traced, every operation needs a sample of
    each kind, and a traced cycle always completes.  ``cpu()`` reads the
    CPU seconds used so far; it and the host's steal counter are read
    outside the timed region.
    Returns ([Sample] untraced in run order, {op: [wall s]} traced,
    attempted, failed)."""
    from sparkstats import host_steal_s

    ops = wl.operations()
    plain: list[Sample] = []
    traced = {n: [] for n, _ in ops}
    attempted = failed = 0
    start = time.perf_counter()

    def settled() -> set:
        """Operations that need no more untraced samples."""
        elapsed = time.perf_counter() - start
        if elapsed < seconds or {s.op for s in plain} != traced.keys():
            return set()
        if trace or elapsed >= RETIME_UNTIL * seconds:
            return set(traced)
        return {s.op for s in undisturbed(plain, n_cpus)}

    def done():
        return (settled() == traced.keys()
                and (not trace or all(traced.values())))

    cycle = 0
    while not done():
        tracer.enabled = trace and cycle % 2 == 1
        with tracer.span("bench.iteration", iteration=str(cycle)):
            for name, fn in ops:
                if not tracer.enabled and name in settled():
                    continue
                attempted += 1
                c0, s0 = cpu(), host_steal_s()
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"{wl.row_layer}.{name}"):
                        fn()
                    problem = None
                except Exception:
                    problem = traceback.format_exc(limit=5)
                dt = time.perf_counter() - t0
                if tracer.enabled:
                    traced[name].append(dt)
                else:
                    plain.append(Sample(name, dt, cpu() - c0,
                                        host_steal_s() - s0))
                if problem is None:
                    problem = wl.check_last()
                if problem:
                    failed += 1
                    ctx.fail(name, problem)
                if not tracer.enabled and done():
                    break
        cycle += 1
    tracer.enabled = False
    return plain, traced, attempted, failed


def undisturbed(samples: list[Sample], n_cpus: int) -> list[Sample]:
    """The samples outside disturbed blocks.  Consecutive samples form
    blocks of at least STEAL_BLOCK_S of timed wall, and a shorter rest
    joins the last block (jiffy counts are too coarse to judge one short
    sample alone); a block is disturbed when the hypervisor took more
    than STEAL_LIMIT of the machine's CPU time during it."""
    blocks, block = [], []
    for s in samples:
        block.append(s)
        if sum(b.wall for b in block) >= STEAL_BLOCK_S:
            blocks.append(block)
            block = []
    if block and blocks:
        blocks[-1] += block
    elif block:
        blocks.append(block)
    return [s for b in blocks
            if sum(x.steal for x in b)
            <= STEAL_LIMIT * sum(x.wall for x in b) * n_cpus
            for s in b]


def by_op(samples: list[Sample], ops) -> dict[str, list[Sample]]:
    return {op: [s for s in samples if s.op == op] for op in ops}


def end_to_end(wl, samples: list[Sample], setup_s: float,
               peak_mb: float, n_cpus: int) -> tuple[dict, dict]:
    """End-to-end metrics over the undisturbed samples; an operation
    with none keeps all of its samples.  Returns (metrics,
    {op: undisturbed samples})."""
    ops = [n for n, _ in wl.operations()]
    clean = by_op(undisturbed(samples, n_cpus), ops)
    kept = {op: clean[op] or v for op, v in by_op(samples, ops).items()}
    walls = {op: [s.wall for s in v] for op, v in kept.items()}
    wall = sum(statistics.median(v) for v in walls.values())
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "wall_p90_s": sum(p90(v) for v in walls.values()),
        # mean, not median: a JVM's CPU clock ticks in 10 ms steps, and a
        # request takes about ten of them
        "cpu_s": sum(statistics.fmean(s.cpu for s in v)
                     for v in kept.values()),
        # the input rows of one cycle over its wall: a mean over every
        # sample would weigh the operations by how often they ran
        "rows_per_s": sum(wl.input_rows[op] for op in ops) / wall,
        "peak_rss_mb": peak_mb,
    }, {op: len(v) for op, v in clean.items()}


def run(args, work: str) -> dict:
    from workloads import WORKLOADS, Ctx

    gen = load_generator()
    sf_dir = os.path.join(work, "data")
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        gen.generate(SF, sf_dir, seed=args.seed)
        gen_s.append(time.perf_counter() - t0)
    rows = table_rows(sf_dir)

    t0 = time.perf_counter()
    from dataframe_pipeline_spark import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    try:
        from layers import LayerReport
        from sparkstats import (SparkCounters, driver_peak_rss_bytes,
                                host_steal_s, process_cpu_s, vm_hwm_bytes)
        from spans import Tracer

        counters = SparkCounters(spark)
        tracer = Tracer(
            False,
            on_enter=lambda s: counters.set_group(f"perfbench-{s.id}"),
            on_exit=lambda p: counters.set_group(
                None if p is None else f"perfbench-{p.id}"))
        ctx = Ctx(spark=spark, sf_dir=sf_dir, work=work,
                  rng=np.random.default_rng(args.seed), tracer=tracer,
                  table_rows=rows)
        wl = WORKLOADS[args.workload](ctx)
        warm_s, n_checks = wl.warm_up_and_check()
        check_failures = len(ctx.failures)
        jvm_pid = counters.jvm_pid()

        def cpu():
            return process_cpu_s(jvm_pid) + time.process_time()

        cpu0, steal0, t0 = cpu(), host_steal_s(), time.perf_counter()
        samples, traced, attempted, failed = measure(
            wl, tracer, args.seconds, bool(args.trace), ctx, cpu,
            os.cpu_count())
        plain = {op: [s.wall for s in v] for op, v in
                 by_op(samples, traced).items()}
        window_s = time.perf_counter() - t0
        window = {
            "wall_s": window_s,
            "cpu_s": cpu() - cpu0,
            "host_steal_frac": (host_steal_s() - steal0)
            / (window_s * os.cpu_count()),
        }
        driver_mb = driver_peak_rss_bytes() / 2**20
        jvm_mb = vm_hwm_bytes(jvm_pid) / 2**20
        peak_mb = driver_mb + jvm_mb
        setup_s = session_s + statistics.median(gen_s) + warm_s
        if args.trace:
            report = LayerReport(tracer.spans, counters)
            metrics = report.metrics(plain, traced)
            metrics["session.start_s"] = (session_s, "s")
            metrics["inputs.gen_s"] = (statistics.median(gen_s), "s")
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
            coverage = report.coverage()
            undisturbed_samples = None
        else:
            e2e, undisturbed_samples = end_to_end(
                wl, samples, setup_s, peak_mb, os.cpu_count())
            metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
            coverage = None
    finally:
        stop_spark(spark)

    attempted += n_checks
    failed += check_failures
    record = {
        "seed": args.seed, "sf": SF, "workload": args.workload,
        "trace": args.trace, "table_rows": rows,
        "samples": {n: len(v) for n, v in plain.items()},
        "undisturbed_samples": undisturbed_samples,
        "median_s": {n: statistics.median(v) for n, v in plain.items() if v},
        "traced_samples": {n: len(v) for n, v in traced.items() if v},
        "peak_rss_mb": {"driver": driver_mb, "jvm": jvm_mb},
        "timed_window": window,
        "fail_frac": failed / attempted,
        "failures": ctx.failures[:5],
    }
    if coverage is not None:
        record["layer_coverage"] = coverage
    print("# " + json.dumps(record))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("dataframe_pipeline_spark", "scripts/gen_testdata.py",
                 "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing; run from the root of a "
                  "full checkout", file=sys.stderr)
            return 2
    sys.path.insert(1, ROOT)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    configure_env(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
