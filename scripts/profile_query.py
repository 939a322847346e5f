"""Profile registered queries: wall time, Spark job counts and codegen compiles.

Usage:
    python scripts/profile_query.py name1 name2 ...
    SPARK_GRAFT_PROFILE_RUNS=3 python scripts/profile_query.py name1

For each query: builds the DataFrame fresh each run, runs it through the
noop sink (the bench's timed action), and reports per-run wall seconds
plus how many jobs the run scheduled (SparkStatusTracker deltas) and how
many whole-stage classes it compiled, with their compile milliseconds
(CodegenMetrics / CodeGenerator.compileTime deltas) — fixed scheduling
and compile overhead vs data work is the first split the optimization
guide asks for. A warm run that still compiles has outgrown the codegen
cache.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))


def main() -> None:
    names = sys.argv[1:]
    from dend_covid19_spark import plans
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.session import get_spark

    spark = get_spark(app_name="profile-query")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        load_table(spark, t, SF_DIR).count()

    reg = plans.all_queries()
    tracker = sc.statusTracker()
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = sc._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    for name in names:
        fn = reg[name]
        rows = []
        for i in range(RUNS + 1):  # run 0 = cold (plan/codegen), kept separate
            jobs0 = tracker.getJobIdsForGroup(None)
            n0 = len(jobs0)
            c0, ns0 = compiles.getCount(), codegen.compileTime()
            sc.setJobDescription(f"profile:{name}:run{i}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            jobs1 = tracker.getJobIdsForGroup(None)
            rows.append(
                (
                    dt,
                    len(jobs1) - n0,
                    compiles.getCount() - c0,
                    (codegen.compileTime() - ns0) / 1e6,
                )
            )
            spark.catalog.clearCache()
        cold = rows[0]
        steady = sorted(r[0] for r in rows[1:])[len(rows[1:]) // 2]
        print(
            f"{name}: cold={cold[0]:.3f}s/{cold[1]}jobs/"
            f"{cold[2]}compiles/{cold[3]:.0f}ms "
            f"steady_median={steady:.3f}s "
            f"runs={[f'{d:.3f}s/{j}j/{c}c/{ms:.0f}ms' for d, j, c, ms in rows[1:]]}"
        )
        sc.setJobDescription(None)


if __name__ == "__main__":
    main()
