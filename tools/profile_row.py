"""Per-row bench profiler: split a row's wall into plan-build (eager
actions inside the query fn) vs execution (the noop-equivalent action),
with per-job wall times from the StatusTracker.

Usage::

    python tools/profile_row.py <row> [row ...] [--reps N] [--noop]

Mirrors bench.py's methodology (warm-up rep, pin release between reps)
but reports a breakdown instead of one number, and can time the
execution with the noop sink (guide §1.4) instead of count().
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from remote_storage_adapter_spark.session import get_spark  # noqa: E402
from remote_storage_adapter_spark.sources.tables import load_table  # noqa: E402
from remote_storage_adapter_spark.operators import dedup as D  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    use_noop = "--noop" in sys.argv
    names = args or ["sample_dsir"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("profile-row")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    load_table(spark, sf_dir, "events").count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long").count()

    if bench.NEEDS_INDEX.intersection(names):
        bench.warm_indexes(spark, sf_dir)
        # cross_join_indexed builds its catalog tables on first call
        bench.bench_dedup_cross_join_indexed(spark, sf_dir)
        D.unpersist_pinned(blocking=True)

    for name in names:
        fn = bench.BENCH_QUERIES[name]
        # warm-up
        sc.setJobGroup(f"warm-{name}", "warm")
        fn(spark, sf_dir).count()
        D.unpersist_pinned(blocking=True)
        sc._jvm.System.gc()
        for rep in range(reps):
            grp = f"prof-{name}-{rep}"
            sc.setJobGroup(grp, "profiled rep")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t_build = time.time() - t0
            t1 = time.time()
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t_exec = time.time() - t1
            D.unpersist_pinned(blocking=True)
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(grp)
            n_stages = sum(len(st.getJobInfo(j).stageIds)
                           for j in jobs if st.getJobInfo(j))
            print(f"{name} rep{rep}: build={t_build:.3f}s "
                  f"exec={t_exec:.3f}s total={t_build+t_exec:.3f}s "
                  f"jobs={len(jobs)} stages={n_stages}")
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
