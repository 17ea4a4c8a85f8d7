"""Skew-mitigation helpers for hot series / heavy-hitter keys.

At 100 TB a handful of metric series can dominate (one noisy target
emitting at 1 ms cadence): any operator that materializes a whole
series in one task — ``collect_list`` assembly (A5), exact percentiles
— turns that key into a straggler. Algebraic aggregates (count/avg/
min/max/approx-percentile) are immune: Spark's partial aggregation
already combines map-side. For the holistic ones, these helpers salt
the hot key into ``n_salts`` sub-keys, aggregate the salted chunks in
parallel, then merge the (much smaller) per-chunk results.

Join skew is handled separately by AQE (``skewJoin.enabled`` is on in
session.tune); this module covers aggregation skew, which AQE does not
re-plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Volume ceilings for ONE Python-bound task when the min_tasks floor
#: engages. Measured (BENCH_SF10 r11): long mapInPandas tasks degrade
#: SUPERLINEARLY in per-task volume — the sf100 tar walk cost 188 s
#: at 32 tasks × 470 MB/task but 54 s at 128 tasks × 117 MB/task, and
#: image_dhash (73-byte payloads, so a per-task ROW effect, not
#: bytes) cost 59 s at 32 × 156k rows but 12 s at 128 × 39k rows,
#: with 512 tasks plateauing at 128's wall. Smaller Arrow batches do
#: NOT help (batch 1000 was 19% WORSE than 10000 on the tar walk) —
#: the lever is task volume, not batch size. 128 MB matches the
#: maxPartitionBytes philosophy for file-backed inputs.
MAX_TASK_PAYLOAD_BYTES = 128 << 20
MAX_TASK_PYTHON_ROWS = 50_000


def ensure_min_tasks(df: DataFrame, min_tasks: int | None, *,
                     payload_col: str | None = None) -> DataFrame:
    """Parallelism floor for file-layout-bound Python stages: a
    mapInPandas source inherits the INPUT file layout (a 2-file
    landing directory ⇒ 2 tasks, 30 idle cores), so callers that are
    about to pay per-row Python (archive walks, media decode) can ask
    for at least ``min_tasks`` partitions. ``None`` (the default
    everywhere) respects the input layout — partition-preserving, no
    shuffle; a value only repartitions when the input has FEWER
    partitions, and that one bounded round-robin shuffle of
    (id, payload) is the explicit price of fair fan-out. At 100 TB a
    landing layout has thousands of files and this is a no-op (and
    ``maxPartitionBytes`` already bounds per-task FILE bytes there).

    ``payload_col`` (r11): also bound the VOLUME of one task —
    ``min_tasks`` alone handed each task 1/32 of the corpus however
    big the corpus, and long Python tasks degrade superlinearly (see
    the constants above). The volume estimate is deliberately CHEAP
    (a payload-pruned row count plus a ≤32-rows-PER-PARTITION
    payload-size sample — a full octet_length sum re-generates or
    re-reads the whole payload column, which measured as a 30%
    planning tax on the sf10 tar flows): the fan-out scales to
    ``max(min_tasks, est_bytes/128MB, rows/50k)``. The per-partition
    sample (r12, ADVICE r11) decorrelates the estimate from file
    layout — a ``limit(1024)`` took the head of ONE partition, so a
    size-sorted landing directory biased avg bytes arbitrarily; each
    task now contributes its first ≤32 rows and stops (lazy
    iterator), so the job touches every partition but computes ~32
    payloads each. Residual within-partition head bias is
    acceptable — the ceilings are order-of-magnitude task sizing,
    not contracts, and the row ceiling is exact.

    With ``payload_col`` set this function is EAGER: it runs two
    bounded driver actions (count + sample) at plan-construction
    time, and an uncached upstream shuffle re-executes under each
    (plus the real job). Callers that already applied a closed-form
    pre-inflation fan-out (the planted-shard builders) know the
    volume bound holds by construction and should pass
    ``payload_col=None`` — that keeps this a pure width floor:
    lazy, no actions, no shuffle when the input is already wide.

    The volume check runs EVEN when the input already has
    ``min_tasks`` partitions: "wide enough by file bytes" does not
    bound per-task GENERATED/decoded payload bytes. That was the
    first r11 attempt's exact failure — at sf100 the 520 MB docs
    parquet scanned as 32 partitions, the ``>= min_tasks`` early
    return skipped the volume fan-out, and each of the 32 tasks
    walked ~470 MB of synthesized tar payload: tar_shards stayed
    24×-per-decade superlinear (219 s) with the "fix" in the tree.
    With the target computed first (this version) the walk runs at
    ~128 MB/task and the decade ratio drops to ~linear. At a real
    100 TB file-backed layout the stored payload bytes ARE the file
    bytes, so the scan width already satisfies the byte target and
    the check costs two bounded driver actions, no shuffle."""
    if min_tasks is None:
        return df
    if min_tasks <= 0:
        raise ValueError(f"min_tasks must be positive, got {min_tasks}")
    target = min_tasks
    if payload_col is not None:
        import math

        rows = df.count()  # payload column pruned — cheap
        avg_b = 0
        if rows:
            from itertools import islice

            lens = (df.select(F.octet_length(F.col(payload_col))
                              .alias("_b"))
                    .rdd.mapPartitions(lambda it: islice(it, 32))
                    .collect())
            vals = [r["_b"] for r in lens if r["_b"] is not None]
            avg_b = sum(vals) / len(vals) if vals else 0
        target = max(min_tasks,
                     math.ceil(rows * avg_b / MAX_TASK_PAYLOAD_BYTES),
                     math.ceil(rows / MAX_TASK_PYTHON_ROWS))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _bounded_tasks(raw_tasks: int, max_tasks: int | None,
                   default_parallelism: int) -> tuple[int, bool]:
    """Pure cap decision for :func:`plan_bytes_tasks` (unit-locked).

    r14 (VERDICT r13 wrong #3 / next #3): the former hard
    ``max_tasks=4096`` silently re-admitted the windows-per-task
    hazard once the plan estimate exceeded cap × divisor (~8 GiB at
    the 2 MB passage divisor, ≈ sf10000) — beyond it, per-task volume
    grows again toward the G1-humongous regime the bound exists to
    prevent. The default cap now WIDENS with the session
    (``max(4096, defaultParallelism × 64)``: a real cluster with
    thousands of cores gets a proportionally higher runaway backstop,
    while the 32-core box keeps 4096 = 128 waves), and a binding cap
    is reported to the caller so it can be logged — the repo's
    no-silent-caps rule. Returns ``(tasks, cap_bound)``."""
    if max_tasks is None:
        max_tasks = max(4096, default_parallelism * 64)
    if raw_tasks > max_tasks:
        return max_tasks, True
    return raw_tasks, False


def plan_bytes_tasks(df: DataFrame, *, bytes_per_task: int,
                     max_tasks: int | None = None) -> int | None:
    """Task-width target from Catalyst's optimized-plan size
    estimate — ZERO driver actions, unlike the sampling estimate in
    :func:`ensure_min_tasks` (two bounded jobs), so it can gate a
    fan-out even on sub-second small-scale calls where an extra job
    costs more than it saves (the r12 host's per-job constant ran
    119-173 ms). The estimate is file-bytes-grade (a parquet scan's
    ``sizeInBytes`` is compressed file size scaled by column
    pruning), good for order-of-magnitude task sizing only. Returns
    None when the plan carries no usable estimate (in-memory/RDD
    relations report the ``defaultSizeInBytes`` sentinel — those
    inputs are test-sized; a 100 TB input is always file-backed).

    ``max_tasks=None`` (default) derives the runaway backstop from
    the session — ``max(4096, defaultParallelism × 64)`` — and WARNS
    when it binds (see :func:`_bounded_tasks`): a bound cap means
    per-task volume is no longer held at ``bytes_per_task`` and the
    caller's hazard margin is shrinking with further scale."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:  # non-JVM frame / connect — size unknowable
        return None
    if est <= 0 or est >= (1 << 50):  # 1 PiB: unknown-size sentinel
        return None
    import math

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # connect session — no local context
        par = 0
    tasks, bound = _bounded_tasks(math.ceil(est / bytes_per_task),
                                  max_tasks, par)
    if bound:
        import warnings

        warnings.warn(
            f"plan_bytes_tasks: cap {tasks} binds (estimate {est} B "
            f"wants {math.ceil(est / bytes_per_task)} tasks of "
            f"{bytes_per_task} B) — per-task volume exceeds the "
            f"requested bound; raise max_tasks or widen the cluster",
            RuntimeWarning, stacklevel=2)
    return tasks


def salted(df: DataFrame, n_salts: int = 32,
           salt_col: str = "_salt") -> DataFrame:
    """Add a uniform deterministic salt derived from the row content.

    Hash-based (not ``rand()``) so retried tasks salt identically —
    required for exactly-once sinks and reproducible tests.
    """
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
               F.lit(n_salts)).cast("int"),
    )


def assemble_series_salted(flat: DataFrame, n_salts: int = 32) -> DataFrame:
    """Skew-proof A5 series assembly (same result as
    plans.read.assemble_series).

    Phase 1 groups by (name, tags, salt) and collects per-chunk sample
    arrays — a hot series spreads over ``n_salts`` tasks. Phase 2
    groups by (name, tags), flattens the ≤``n_salts`` chunk arrays and
    sorts once. The phase-2 rows carry pre-aggregated arrays, so the
    second shuffle moves the same data volume but never concentrates
    *work* (sorting chunk arrays is O(total log total) in one task —
    acceptable because the output row itself must hold the whole
    series; callers needing bounded rows use the step cap, O3).

    On ``plans.read.read_request`` output neither phase plans an
    exchange of its own: that output is already hash-partitioned on the
    series key, which clusters both groupings, so each series' chunks
    are collected and merged in the task that holds the series. There
    the salting spreads no work; it pays only on a flat frame not
    partitioned by series.
    """
    chunked = (
        salted(flat.select("name", "tags", "t", "value"), n_salts)
        .groupBy("name", "tags", "_salt")
        .agg(
            F.collect_list(F.struct(F.col("t"), F.col("value")))
            .alias("chunk")
        )
    )
    return (
        chunked.groupBy("name", "tags")
        .agg(
            F.sort_array(
                F.flatten(F.collect_list(F.col("chunk")))
            ).alias("samples")
        )
    )


def heavy_hitters(df: DataFrame, keys: Sequence[str],
                  min_count: int = 1_000_000) -> DataFrame:
    """Keys whose row count exceeds ``min_count`` — the monitoring query
    an operator runs to decide what needs salting/isolation."""
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc())
    )
