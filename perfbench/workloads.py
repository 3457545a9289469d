"""The benchmark's workloads.  Each one times calls into public functions
of the program and nothing else; see README.md for why each exists.

- ``query_mix``: one pass runs twelve rows in a fixed order: the
  training-data prep pipeline (fused ``fit_transform``), a model refresh
  (``fit`` -> ``save`` -> ``load`` -> ``transform``), and ten registry
  queries from ``__spark_entry__.queries()``.  Every row ends in the
  ``noop`` sink.
- ``serve_online``: a closed loop with one client sending one-row
  ``serve_rows`` requests through a pipeline fitted during set-up.

A workload object offers ``warm_up_and_check()`` (untimed except for its
program share, which counts as set-up), ``operations()`` (the timed
units, each run inside a ``<row_layer>.<name>`` span), ``check_last()``
(checks the output of the operation just timed) and ``input_rows`` (input
rows one operation reads).
"""

from __future__ import annotations

import os
import re
import sys
import time
import traceback
from dataclasses import dataclass, field
from functools import partial

#: the registry rows of ``query_mix``: one or two per module family
#: (TPC-H shapes with join hints and AQE, dedup, similarity, text,
#: windowed sessions), few enough that every row gets two samples in a
#: run.  Rows whose fit is memoized across calls in the program
#: (``_PQ_FIT_MEMO``, ``_IVF_FIT_MEMO``, ``_SKETCH_FIT_CACHE``) are left
#: out: a repeat would time a memo hit.
QUERY_ROWS = [
    "tpch_q2_mincost", "tpch_q12_priority_class", "dedup_minhash_pairs",
    "sim_topk_cosine", "text_quality", "sessionize",
]
PIPELINE_ROWS = ["prep_batch", "model_refresh"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
LINEITEM_KEY = ["l_orderkey", "l_linenumber"]

#: serve requests drawn per run; a run cycles through them
N_REQUESTS = 1000
#: share of requests that carry a user_id or event_type unseen in fit
UNSEEN_SHARE = 0.05
#: untimed requests before the timed loop: the JIT is still compiling the
#: analyzer paths for about the first hundred (about 10 s on 4 cores)
WARM_REQUESTS = 100


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    rng: object
    tracer: object
    table_rows: dict
    failures: list = field(default_factory=list)

    def fail(self, what: str, detail: str) -> None:
        self.failures.append(f"{what}: {detail}")
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr)


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prep_steps():
    """Feature pipeline over lineitem: five stateful steps and two
    stateless ones.  Every step reads input columns only, so the fused
    ``fit_transform`` and ``fit`` + ``transform`` must agree."""
    import dataframe_pipeline_spark as dfp

    return [
        dfp.FunctionTransformer(inputs=[("l_extendedprice", "l_discount")],
                                outputs=["revenue"],
                                func=lambda p, d: p * (1 - d)),
        dfp.ComplementLabelEncoder(inputs=["l_returnflag"],
                                   outputs=["rf_code"]),
        dfp.FrequencyEncoder(inputs=["l_linestatus"], outputs=["ls_freq"]),
        dfp.TargetEncoder(inputs=["l_returnflag"], outputs=["rf_te"],
                          target="l_extendedprice", smoothing=10.0),
        dfp.Aggregator(inputs=["l_extendedprice"], outputs=["supp_mean"],
                       groupby=["l_suppkey"], func="mean"),
        dfp.Scaler(inputs=["l_quantity"], outputs=["qty_mm"],
                   strategy="minmax"),
        dfp.StringConcatenator(inputs=[("l_returnflag", "l_linestatus")],
                               outputs=["flag_status"], separator="_"),
    ]


def serve_steps():
    import dataframe_pipeline_spark as dfp

    return [
        dfp.ComplementLabelEncoder(inputs=["event_type"], outputs=["type_id"]),
        dfp.Aggregator(inputs=["value"], outputs=["user_mean"],
                       groupby=["user_id"], func="mean"),
        dfp.FrequencyEncoder(inputs=["event_type"], outputs=["type_freq"]),
        dfp.WOEEncoder(inputs=["event_type"], outputs=["type_woe"],
                       target="y"),
        dfp.Scaler(inputs=["value"], outputs=["value_mm"], strategy="minmax"),
    ]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class QueryMix:
    name = "query_mix"
    row_layer = "query"

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        self.ctx = ctx
        li = ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "lineitem.parquet"))
        self.lineitem = li
        self.train = li.where(F.col("l_orderkey") % 5 != 0)
        self.holdout = li.where(F.col("l_orderkey") % 5 == 0)
        self.queries: dict = {}
        self.input_rows: dict = {}
        self._saves = 0

    def operations(self):
        ops = [("prep_batch", self.prep), ("model_refresh", self.refresh)]
        return ops + [(q, partial(self.query, q)) for q in QUERY_ROWS]

    def check_last(self) -> None:
        return None  # the noop sink keeps no output; see warm_up_and_check

    def prep(self) -> None:
        from dataframe_pipeline_spark import DataframePipeline

        span = self.ctx.tracer.span
        pipe = DataframePipeline(steps=prep_steps())
        with span("pipeline.fit"):
            out = pipe.fit_transform(self.lineitem)
        with span("spark.exec"):
            sink(out)

    def _fit_save_load(self, frame):
        from dataframe_pipeline_spark import DataframePipeline

        span = self.ctx.tracer.span
        pipe = DataframePipeline(steps=prep_steps())
        with span("pipeline.fit"):
            pipe.fit(frame)
        self._saves += 1
        path = os.path.join(self.ctx.work, "models", f"refresh-{self._saves}")
        with span("persistence.save") as s:
            pipe.save(path)
        if s is not None:
            s.attrs["bytes_written"] = dir_bytes(path)
        with span("persistence.load"):
            loaded = DataframePipeline.load(self.ctx.spark, path)
        return pipe, loaded

    def refresh(self) -> None:
        span = self.ctx.tracer.span
        _, loaded = self._fit_save_load(self.train)
        with span("pipeline.transform"):
            out = loaded.transform(self.holdout)
        with span("spark.exec"):
            sink(out)

    def query(self, name: str) -> None:
        span = self.ctx.tracer.span
        with span("registry.build"):
            df = self.queries[name](self.ctx.spark, self.ctx.sf_dir)
        with span("spark.exec"):
            sink(df)

    def warm_up_and_check(self) -> tuple[float, int]:
        """One untimed pass that imports the registry, then collects every
        row's output and checks it:

        - prep_batch: fused ``fit_transform`` equals ``fit`` + ``transform``;
        - model_refresh: the saved-and-loaded pipeline's ``transform``
          equals the in-memory one's;
        - each registry row equals its DuckDB oracle.

        Returns (seconds spent in program calls, checks made)."""
        import duckdb

        from checks import frames_equal, oracle_equal
        from dataframe_pipeline_spark import DataframePipeline

        t0 = time.perf_counter()
        import __spark_entry__ as entry

        registry = entry.queries()
        self.queries = {q: registry[q] for q in QUERY_ROWS}
        program_s = time.perf_counter() - t0

        def timed(fn):
            nonlocal program_s
            t0 = time.perf_counter()
            try:
                return fn()
            finally:
                program_s += time.perf_counter() - t0

        def check(row, fn):
            try:
                problem = fn()
            except Exception:
                problem = traceback.format_exc(limit=3)
            if problem:
                self.ctx.fail(f"check {row}", problem)

        oracles = entry.oracle_sql(self.ctx.sf_dir, names=QUERY_ROWS)
        rows = self.ctx.table_rows
        self.input_rows = {r: rows["lineitem"] for r in PIPELINE_ROWS}
        for q in QUERY_ROWS:
            self.input_rows[q] = sum(rows[t] for t in TABLES
                                     if re.search(rf"\b{t}\b", oracles[q]))

        li = self.lineitem
        try:
            fused = timed(lambda: DataframePipeline(steps=prep_steps())
                          .fit_transform(li).toPandas())
            pipe, loaded = timed(lambda: self._fit_save_load(li))
            split = timed(lambda: pipe.transform(li).toPandas())
            reloaded = timed(lambda: loaded.transform(li).toPandas())
        except Exception:
            problem = traceback.format_exc(limit=3)
            for row in PIPELINE_ROWS:
                self.ctx.fail(f"check {row}", problem)
        else:
            check("prep_batch", lambda: frames_equal(fused, split, LINEITEM_KEY))
            check("model_refresh",
                  lambda: frames_equal(reloaded, split, LINEITEM_KEY))
        con = duckdb.connect()
        try:
            for t in TABLES:
                p = os.path.join(self.ctx.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for q in QUERY_ROWS:
                check(q, lambda q=q: oracle_equal(
                    timed(lambda: self.queries[q](
                        self.ctx.spark, self.ctx.sf_dir).toPandas()),
                    con.sql(oracles[q]).df()))
        finally:
            con.close()
        return program_s, len(PIPELINE_ROWS) + len(QUERY_ROWS)


class ServeOnline:
    name = "serve_online"
    row_layer = "serving"

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from dataframe_pipeline_spark import DataframePipeline

        self.ctx = ctx
        self.events = (ctx.spark.read.parquet(
            os.path.join(ctx.sf_dir, "events.parquet"))
            .withColumn("y", (F.col("value") > 50).cast("int")))
        self.schema = self.events.schema
        self.pipe = DataframePipeline(steps=serve_steps())
        self.requests: list[tuple] = []
        self.expected: dict = {}
        self.input_rows = {"request": 1}
        self._next = 0

    def _draw_requests(self) -> None:
        """Seeded draws of distinct events; about UNSEEN_SHARE of them get
        a user_id or event_type that the fit never saw."""
        from pyspark.sql import functions as F

        rng = self.ctx.rng
        n_events = self.ctx.table_rows["events"]
        ids = sorted(int(i) for i in rng.choice(
            n_events, size=min(N_REQUESTS, n_events), replace=False))
        rows = sorted(self.events.where(F.col("event_id").isin(ids)).collect(),
                      key=lambda r: r["event_id"])
        names = self.schema.names
        unseen_user = 1 + max(r["user_id"] for r in rows) + n_events
        out = []
        for k in rng.permutation(len(rows)):
            d = rows[int(k)].asDict()
            u = rng.random()
            if u < UNSEEN_SHARE / 2:
                d["user_id"] = unseen_user + int(k)
            elif u < UNSEEN_SHARE:
                d["event_type"] = f"unseen_{int(k)}"
            out.append(tuple(d[c] for c in names))
        self.requests = out

    def warm_up_and_check(self) -> tuple[float, int]:
        """Fit, draw the requests, compute each request's batch
        ``transform`` row, then send WARM_REQUESTS untimed requests.
        Returns (seconds spent in fit and warm requests, checks made)."""
        t0 = time.perf_counter()
        self.pipe.fit(self.events)
        program_s = time.perf_counter() - t0
        self._draw_requests()
        batch = self.pipe.transform(
            self.ctx.spark.createDataFrame(self.requests, self.schema))
        self.expected = {r["event_id"]: r for r in batch.collect()}
        for _ in range(WARM_REQUESTS):
            t0 = time.perf_counter()
            self.request()
            program_s += time.perf_counter() - t0
            problem = self.check_last()
            if problem:
                self.ctx.fail("warm-up request", problem)
        return program_s, WARM_REQUESTS

    def operations(self):
        return [("request", self.request)]

    def request(self) -> None:
        from dataframe_pipeline_spark import local_rows_df, serve_rows

        row = self.requests[self._next % len(self.requests)]
        self._next += 1
        span = self.ctx.tracer.span
        if self.ctx.tracer.enabled:
            with span("serving.compile"):
                df = self.pipe.serving_transform(
                    local_rows_df(self.ctx.spark, [row], self.schema))
            with span("serving.collect"):
                got = df.collect()
        else:
            got = serve_rows(self.pipe, self.ctx.spark, [row], self.schema)
        self._last = (row, got)

    def check_last(self) -> str | None:
        """Compare the last response with the batch row for its input
        (outside the timed region)."""
        import math

        row, got = self._last
        exp = self.expected[row[self.schema.names.index("event_id")]]
        if len(got) != 1:
            return f"{len(got)} rows returned"
        g, e = got[0].asDict(), exp.asDict()
        if g.keys() != e.keys():
            return f"columns {sorted(g)} vs {sorted(e)}"
        for k, v in e.items():
            w = g[k]
            nan = (isinstance(v, float) and isinstance(w, float)
                   and math.isnan(v) and math.isnan(w))
            if w != v and not nan:
                return f"{k}: served {w!r}, batch {v!r}"
        return None


WORKLOADS = {w.name: w for w in (QueryMix, ServeOnline)}
