"""Low-latency online-scoring tier: a fitted pipeline scores one row
(or a tiny micro-batch) without launching a Spark job.

Batch transform plans JOIN fitted lookup tables — the scale-correct
shape (lookups can be arbitrarily large; size-gated broadcast / AQE pick
the join strategy).  For ONLINE serving that plan costs a full Spark job
per request: ~240 ms of scheduling and task dispatch for well under
1 ms of actual work (BENCH r4 ``online_p50_ms.exec_only``).

:func:`serving_transform` calls each step's ``serving_transform`` hook
where it has one, else its ``transform``.  Every dictionary encoder
keeps its fitted state as a :class:`~.base.FittedLookup`, whose serving
apply is an ``element_at`` on a literal ``MapType`` compiled once from
one collect of the lookup (gated by ``SERVING_MAX_ROWS``: a dictionary
too big to inline falls back to the join plan for that step).  Every
other operator already compiles to pure Column arithmetic.  The
resulting plan over a local (driver-side) input relation is join-free
and deterministic, so Catalyst's ``ConvertToLocalRelation`` folds the
ENTIRE transform into a ``LocalRelation`` during optimization —
``collect()`` is a driver-side expression evaluation, zero jobs, zero
task scheduling.  An ANN stage (similarity.AnnAnnotator) uses the same
hook to probe its in-process index replica.

This is the second deploy shape of the reference (benchmarks/RunBench.py
— fitted pipeline scoring single rows); the compiled-literal trick is
the Spark analog of its compiled-plan export.

Scale note: the fallback keeps correctness at any cardinality, and the
collected literals are exactly the state a size-gated broadcast would
ship to every executor — the serving path moves it into the plan instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .base import SERVING_MAX_ROWS  # noqa: F401  (public gate constant)


# -- local input construction ---------------------------------------------
#
# ``spark.createDataFrame([row])`` wraps a *Python RDD* (LogicalRDD):
# ConvertToLocalRelation cannot fold over it and every collect() runs a
# distributed job — measured ~270 ms for one row.  An inline ``VALUES``
# table resolves to a true LocalRelation (foldable literals are evaluated
# at ANALYSIS time), the whole serving plan collapses to LocalTableScan,
# and collect() is ~4 ms, job-free.

def _sql_literal(v, dt) -> str:
    import datetime
    import decimal
    import math

    from pyspark.sql import Row
    from pyspark.sql import types as T

    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, datetime.datetime):
        # tz-aware inputs: render the UTC instant (the session timezone
        # is UTC and batch createDataFrame converts to UTC); a naive
        # strftime would store the foreign wall-clock as if it were UTC.
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        return f"TIMESTAMP '{base}.{v.microsecond:06d}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, (list, tuple)) and isinstance(dt, T.ArrayType):
        inner = ", ".join(_sql_literal(e, dt.elementType) for e in v)
        return f"array({inner})"
    if isinstance(v, dict) and isinstance(dt, T.MapType):
        parts = []
        for k, val in v.items():
            parts += [_sql_literal(k, dt.keyType),
                      _sql_literal(val, dt.valueType)]
        return f"map({', '.join(parts)})"
    if isinstance(v, Row) and isinstance(dt, T.StructType):
        parts = []
        for f in dt.fields:
            parts += [f"'{f.name}'", _sql_literal(v[f.name], f.dataType)]
        return f"named_struct({', '.join(parts)})"
    raise ValueError(
        f"local_rows_df cannot render {type(v).__name__} as a SQL "
        f"literal for {dt.simpleString()}; use spark.createDataFrame "
        "for this input")


def local_rows_df(spark, rows, schema) -> DataFrame:
    """Build a DataFrame from driver-side rows as an inline VALUES table
    — a true LocalRelation, so serving plans over it fold completely.
    ``rows``: list of Rows / dicts / tuples; ``schema``: the batch
    frame's StructType (every value is CAST to its field type, so
    serving and batch schemas match exactly)."""
    if not rows:
        raise ValueError("local_rows_df needs at least one row")
    rendered = []
    for row in rows:
        if hasattr(row, "asDict"):
            row = row.asDict()
        vals = ([row[f.name] for f in schema.fields]
                if isinstance(row, dict) else list(row))
        cells = [
            f"CAST({_sql_literal(v, f.dataType)} AS {f.dataType.simpleString()})"
            for v, f in zip(vals, schema.fields)]
        rendered.append(f"({', '.join(cells)})")
    names = ", ".join(f"`{f.name}`" for f in schema.fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rendered)} AS t({names})")


def serve_rows(pipeline, spark, rows, schema) -> list:
    """One-call scoring: rows -> inline LocalRelation -> compiled
    serving transform -> collected Rows.  Job-free end to end."""
    return pipeline.serving_transform(
        local_rows_df(spark, rows, schema)).collect()


def serving_transform(pipeline, df: DataFrame) -> DataFrame:
    """Transform ``df`` through a fitted pipeline with every step's
    serving hook (fitted lookups compiled to literal maps).  Results are identical to
    ``pipeline.transform`` (parity-tested); the plan over a local input
    folds to a LocalRelation — ``collect()`` launches no job."""
    X = df
    for step in pipeline.steps:
        X = getattr(step, "serving_transform", step.transform)(X)
    return X
