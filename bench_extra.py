"""Extra measurements next to the frozen bench.py (guide §1).

Modes:
  python bench_extra.py time [query ...]     best-of-N wall per query,
                                             bench.py-identical force()
  python bench_extra.py split [query ...]    construction+planning vs
                                             execution wall, per query
  python bench_extra.py plans [query ...]    write plans/r08/<q>_<tag>.txt
                                             (tag via PLAN_TAG, default
                                             'before') with
                                             explain("formatted")
  python bench_extra.py noop [query ...]     noop-sink wall (guide §1.4)

Same env contract as bench.py: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS.
Defaults to the bench HEADLINE list; positional names override.
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("TEI_EXTRA_REPEATS", "3"))
PLAN_TAG = os.environ.get("PLAN_TAG", "before")

PLAN_DIR = os.path.join(REPO, "plans", "r08")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or HEADLINE

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from tei_chunker_spark.sources.session import get_spark

    spark = get_spark("bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS, max_partition_bytes="16m")
    queries = entrymod.queries()

    def force(df):
        cols = [F.col(c) for c in df.columns]
        return (
            df.select((F.xxhash64(*cols) % 1_000_000_007).alias("h"))
            .agg(F.sum("h"))
            .collect()
        )

    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"{mode}:{name}")
        if mode == "plans":
            os.makedirs(PLAN_DIR, exist_ok=True)
            df = fn(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"{name}: wrote {path}")
            continue
        force(fn(spark, SF_DIR))  # warm
        if mode == "time":
            walls = []
            for _ in range(REPEATS):
                t0 = time.time()
                force(fn(spark, SF_DIR))
                walls.append(round(time.time() - t0, 3))
            print(f"{name}: min={min(walls)} walls={walls}")
        elif mode == "split":
            builds, plans, execs = [], [], []
            for _ in range(REPEATS):
                t0 = time.time()
                df = fn(spark, SF_DIR)
                t1 = time.time()
                cols = [F.col(c) for c in df.columns]
                out = df.select(
                    (F.xxhash64(*cols) % 1_000_000_007).alias("h")
                ).agg(F.sum("h"))
                out._jdf.queryExecution().executedPlan()  # force planning
                t2 = time.time()
                out.collect()
                t3 = time.time()
                builds.append(round(t1 - t0, 3))
                plans.append(round(t2 - t1, 3))
                execs.append(round(t3 - t2, 3))
            print(
                f"{name}: build(min)={min(builds)} plan(min)={min(plans)} "
                f"exec(min)={min(execs)}  builds={builds} plans={plans} execs={execs}"
            )
        elif mode == "noop":
            walls = []
            for _ in range(REPEATS):
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                walls.append(round(time.time() - t0, 3))
            print(f"{name}: min={min(walls)} walls={walls}")
        spark.sparkContext.setJobDescription(None)

    spark.stop()


if __name__ == "__main__":
    main()
