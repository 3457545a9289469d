"""Dump .explain("formatted") for named registry queries to text files.

Used to commit the round's before/after plan evidence under plans/<round>/:
run it at the pre-round commit for the *_before.txt files and at HEAD for
*_after.txt.

Usage: python scripts/dump_plans.py <out_dir> <suffix> <query> [query ...]
       (suffix is "before" or "after"; sf_dir from $SPARK_GRAFT_SF_DIR,
        default /root/testdata/sf0.1)

Besides registry queries, ``pipeline_prep`` and ``pipeline_serve`` name
the benchmark's pipelines (perfbench/workloads.py: ``prep_steps`` on
lineitem, ``serve_steps`` on events with its binary ``y``): each is
fitted on the frame and dumped twice, as ``transform`` and as
``serving_transform`` of that frame.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dataframe_pipeline_spark.session import get_spark  # noqa: E402


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    m = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(m)


def pipeline_frames(spark, sf_dir: str, name: str) -> dict:
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark import DataframePipeline
    from perfbench.workloads import prep_steps, serve_steps

    if name == "pipeline_prep":
        steps = prep_steps
        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    else:
        steps = serve_steps
        df = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
              .withColumn("y", (F.col("value") > 50).cast("int")))
    pipe = DataframePipeline(steps=steps())
    pipe.fit(df)
    return {f"{name}_transform": pipe.transform(df),
            f"{name}_serving": pipe.serving_transform(df)}


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    qs = entrymod.queries()
    frames = {}
    for name in names:
        if name in ("pipeline_prep", "pipeline_serve"):
            frames.update(pipeline_frames(spark, sf_dir, name))
        elif name in qs:
            frames[name] = qs[name](spark, sf_dir)
        else:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
    for name, df in frames.items():
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# query: {name}  ({suffix})  sf_dir={sf_dir}\n")
            f.write(explain_str(df))
        print(path)


if __name__ == "__main__":
    main()
