"""Capture ``explain("formatted")`` for bench rows into plans/r<N>/.

Usage::

    python tools/capture_plans.py <tag> [query ...]

Writes ``plans/r<N>/<query>_<tag>.txt`` (tag = before|after, round dir
from ``SPARK_GRAFT_PLANS_ROUND``, default r15) for each named bench
row (default: all rows in ``bench.BENCH_QUERIES``).

The indexed probe rows need their materialized indexes to exist, so
bench's untimed ``warm_indexes`` runs first when any of those rows is
requested.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from remote_storage_adapter_spark.session import get_spark  # noqa: E402


def explain_formatted(df) -> str:
    jdf = df._jdf
    qe = jdf.queryExecution()
    return qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(bench.BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15"))
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    if bench.NEEDS_INDEX.intersection(names):
        bench.warm_indexes(spark, sf_dir)
        # cross_join_indexed builds its catalog tables on first call
        bench.bench_dedup_cross_join_indexed(spark, sf_dir)

    for name in names:
        fn = bench.BENCH_QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            txt = explain_formatted(df)
        except Exception as exc:  # noqa: BLE001
            txt = f"ERROR capturing plan: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_exch = txt.count("Exchange")
        n_py = (txt.count("BatchEvalPython") + txt.count("ArrowEvalPython")
                + txt.count("MapInPandas") + txt.count("MapInArrow")
                + txt.count("FlatMapGroupsInPandas"))
        print(f"{name:28s} exchanges~{n_exch:2d} python_nodes={n_py} "
              f"-> {os.path.relpath(path)}")
    spark.stop()


if __name__ == "__main__":
    main()
