"""Per-query isolation harness (optimization guide §1).

Usage:
    python tools/isolate.py q1 q2 ...          # time with noop sink + count
    PLAN_SUFFIX=_before python tools/isolate.py --plans q1 ...

For each named query (from __spark_entry__.queries()):
  - runs it REPS times against $SPARK_GRAFT_SF_DIR with the noop sink
    (computes every column, no driver collect) and with .count() (the
    driver bench's timed action), reporting best-of;
  - with --plans, also writes .explain("formatted") to
    $PLAN_DIR/<query>$PLAN_SUFFIX.txt (PLAN_DIR defaults to
    $TMPDIR/adam_spark_plans, outside the checkout).

Prints one line per query: name, noop best, count best.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

import __spark_entry__ as entrymod
from adam_spark import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_plans = "--plans" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("REPS", "3"))
    plan_dir = os.environ.get(
        "PLAN_DIR", os.path.join(tempfile.gettempdir(), "adam_spark_plans")
    )
    suffix = os.environ.get("PLAN_SUFFIX", "")
    spark = get_spark("adam-spark-isolate")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    from pyspark.sql import functions as F

    spark.range(1_000).select(F.sum("id")).collect()

    @F.pandas_udf("long")
    def _echo(v: pd.Series) -> pd.Series:
        return v

    warm = spark.range(10_000).repartition(64)
    warm.select(F.sum(_echo("id"))).collect()
    small = spark.range(100).withColumnRenamed("id", "k")
    warm.join(F.broadcast(small), warm["id"] == small["k"]).count()

    qs = entrymod.queries()
    names = args if args else list(qs)
    for name in names:
        fn = qs[name]
        if do_plans:
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
        noop_best = count_best = float("inf")
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{name}: noop")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop_best = min(noop_best, time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(f"{name}: count")
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            count_best = min(count_best, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        print(f"{name:36s} noop_best={noop_best:7.3f}  count_best={count_best:7.3f}", flush=True)


if __name__ == "__main__":
    main()
