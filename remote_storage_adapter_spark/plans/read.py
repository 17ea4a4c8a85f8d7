"""Read-path planner: dynamic downsample + quantile agg + assembly.

Reproduces the reference's generated ClickHouse query
(clickhouse/query.go:17)::

    SELECT COUNT() AS cnt, (intDiv(toUInt32(ts), %d) * %d) * 1000 AS t,
           name, tags, quantile(0.75)(val) AS value
    FROM %s.%s WHERE date >= toDate(%d) AND ts >= toDateTime(%d)
                 AND ts <= toDateTime(%d) [AND matchers...]
    GROUP BY t, name, tags ORDER BY t

as a Catalyst plan: filter (partition-pruned, parquet-pushed) → hash
exchange on the series key → hash-aggregate (quantile via
``percentile``/``percentile_approx``). :func:`read_query` adds the
final sort by bucket (the reference's ``ORDER BY t``).

Step computation (clickhouse/query.go:13-15,48-58): ``step =
max((end-start)/8192, 10)`` seconds. The reference inverts the
subtraction (SURVEY §4.5.1) so its step is stuck at 10 s; we implement
the intended formula (``parity_mode`` reproduces the bug).

Series assembly (A5, clickhouse/client.go:183-223): grouped rows →
one row per series with a t-sorted samples array.

Multi-query union (M1, clickhouse/client.go:167-210): results of all
queries in a request are merged into a single result set.
:func:`read_request` plans no sort: the series assembly after it
regroups the rows and orders each series' samples itself, so a range
sort there would cost an exchange, its sampling job and a sort only to
be thrown away.

One exchange per query: each query's matched rows are hash-partitioned
on the series key ``(name, tags)`` before the bucket aggregate. That
partitioning satisfies every grouping after it, since each groups on
the series key plus perhaps ``t``: the bucket aggregate, the
first-query-wins merge of a multi-query request (a union of inputs
partitioned alike keeps the partitioning) and the series assembly. A
one-query request, read then assembled, plans one hash exchange.
The trade-offs this takes:

- one series' matched rows all go to one reducer. The query range
  bounds them, and the assembly puts the whole series in one task
  anyway;
- the exchange carries raw ``(ts, val, name, tags)`` rows, not
  ``percentile_approx`` partial sketches, and the whole aggregate runs
  on the reduce side. At fine steps a bucket holds a few samples and
  the sketch is the larger; at coarse steps the raw rows can be. On
  the benchmark's seed-1 read mix, one 90-day request moved 0.76 →
  1.29 MB while the whole mix moved 43 % fewer bytes;
- the exchange has a fixed width, one wave of reduce tasks
  (:func:`_reduce_width`), which AQE does not coalesce. AQE would
  coalesce a small read to its 1 MB minimum partition size, that is to
  one task, which would then run the whole bucket aggregate alone.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_storage_adapter_spark.plans import matchers as M

MAX_SAMPLES = 8192  # clickhouse/query.go:13
MIN_STEP_S = 10     # clickhouse/query.go:14 (`period`)
QUANTILE = 0.75     # clickhouse/query.go:15


def compute_step_s(start_ms: int, end_ms: int,
                   max_samples: int = MAX_SAMPLES,
                   min_step_s: int = MIN_STEP_S,
                   parity_mode: bool = False) -> int:
    """Bucket width in seconds so ≤ ``max_samples`` buckets are returned."""
    start_s, end_s = start_ms // 1000, end_ms // 1000
    div = (start_s - end_s) if parity_mode else (end_s - start_s)
    return max(div // max_samples, min_step_s)


def bucket_ms(ts, step_s: int):
    """``(intDiv(toUInt32(ts), step) * step) * 1000`` — bucket start, ms."""
    epoch_s = ts.cast("long")
    return ((epoch_s - (epoch_s % F.lit(step_s))) * 1000).cast("long")


def _reduce_width(spark) -> int:
    """Reduce tasks of a read's exchange: one wave of the session's
    cores, and no more than its shuffle width."""
    return min(int(spark.conf.get("spark.sql.shuffle.partitions")),
               spark.sparkContext.defaultParallelism)


def _read_buckets(df: DataFrame, q: "M.PromQuery", *,
                  quantile: float = QUANTILE,
                  exact_quantile: bool = False,
                  parity_mode: bool = False) -> DataFrame:
    """The bucket aggregate of one PromQuery, unsorted: matchers → the
    series-key exchange → ``groupBy(t, name, tags)`` → ``count`` +
    quantile. Its output stays hash-partitioned on ``(name, tags)``."""
    step = q.step_s or compute_step_s(q.start_ms, q.end_ms,
                                      parity_mode=parity_mode)
    filtered = M.apply(df, q, parity_mode=parity_mode)
    qfn = F.percentile if exact_quantile else F.percentile_approx
    return (
        filtered
        .repartition(_reduce_width(df.sparkSession), "name", "tags")
        .groupBy(
            bucket_ms(F.col("ts"), step).alias("t"),
            F.col("name"),
            F.col("tags"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            qfn(F.col("val"), F.lit(quantile)).alias("value"),
        )
        .select("cnt", "t", "name", "tags", "value")
    )


def read_query(df: DataFrame, q: "M.PromQuery", **kw) -> DataFrame:
    """Compile one PromQuery against the canonical metrics frame.

    Returns the flat shape ``(cnt, t, name, tags, value)`` ordered by
    ``t`` (clickhouse/query.go:17). ``exact_quantile`` switches
    ``percentile_approx`` (scale path, mergeable sketch ≙ ClickHouse's
    approximate ``quantile()``) to exact ``percentile`` (oracle path).
    """
    return _read_buckets(df, q, **kw).orderBy("t")


def read_request(df: DataFrame, queries: Sequence["M.PromQuery"],
                 **kw) -> DataFrame:
    """M1: union all per-query results into one result set
    (clickhouse/client.go:212-223 collapses into Results[0]), unsorted.

    The reference appends duplicate samples when query ranges overlap
    (clickhouse/client.go:205-208, no dedup); we instead keep exactly
    one row per (t, name, tags) bucket, **first query wins** —
    deterministic even when two queries clip the same bucket to
    different ranges and so disagree on cnt/value (a bare
    ``dropDuplicates`` would keep an arbitrary one). Same mechanism as
    :func:`merge_sorted_dedup`: scalar ``min_by`` on the query index —
    hash aggregate, no window/sort. A single query has nothing to
    merge, so its bucket aggregate is returned as it is.
    """
    if len(queries) == 1:
        return _read_buckets(df, queries[0], **kw)
    parts = [
        _read_buckets(df, q, **kw).withColumn("_prio", F.lit(i))
        for i, q in enumerate(queries)
    ]
    union = reduce(DataFrame.unionByName, parts)
    return (
        union.groupBy("t", "name", "tags")
        .agg(
            F.min_by("cnt", "_prio").alias("cnt"),
            F.min_by("value", "_prio").alias("value"),
        )
        .select("cnt", "t", "name", "tags", "value")
    )


def assemble_series(flat: DataFrame) -> DataFrame:
    """A5: flat buckets → one row per series with t-sorted samples.

    ``sort_array`` on an array of structs orders by the first field
    (``t``), reproducing the scan-order append at
    clickhouse/client.go:205-208 without a per-group sort shuffle.
    """
    return (
        flat.groupBy("name", "tags")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("t"), F.col("value")))
            ).alias("samples")
        )
    )


def to_read_response(assembled: DataFrame) -> dict:
    """§3.3 step 4 (clickhouse/client.go:212-223): assembled series →
    the remote-read response shape, all series collapsed into
    ``results[0]`` exactly as the reference does (its deliberate
    deviation from one-QueryResult-per-Query; SURVEY §4.5.7).

    Driver-side by design: this is the last hop before the protocol
    gateway protobuf-encodes, and the step cap (O3) bounds what the
    collect can return (≤8192 samples/series). The collect is one
    Arrow table, read by column: every series' samples are flattened
    once into a ``t`` and a ``value`` list, then cut per series by the
    list lengths, so no Row is built per sample. ``to_pylist`` keeps a
    null value ``None``.
    """
    from itertools import islice

    import pyarrow.compute as pc

    table = assembled.toArrow()
    samples = table.column("samples")
    flat = pc.list_flatten(samples)
    points = zip(pc.struct_field(flat, "t").to_pylist(),
                 pc.struct_field(flat, "value").to_pylist())
    series = []
    for tags, n in zip(table.column("tags").to_pylist(),
                       pc.list_value_length(samples).to_pylist()):
        # split on the FIRST '=' only (Go SplitN(tag, "=", 2),
        # makeLabels clickhouse/tagvalue.go:32-49): a value containing
        # '=' keeps everything after the first separator; empty-valued
        # tags are dropped. Python maxsplit=1 == Go SplitN n=2.
        labels = [
            {"name": t.split("=", 1)[0], "value": t.split("=", 1)[1]}
            for t in tags
            if "=" in t and t.split("=", 1)[1] != ""
        ]
        series.append(
            {
                "labels": labels,
                "samples": [
                    {"timestamp": t, "value": v}
                    for t, v in islice(points, n)
                ],
            }
        )
    series.sort(key=lambda s: tuple(
        (l["name"], l["value"]) for l in s["labels"]
    ))
    return {"results": [{"timeseries": series}]}


def merge_sorted_dedup(a: DataFrame, b: DataFrame,
                       keys: Optional[Sequence[str]] = None, *,
                       assert_unique: bool = False) -> DataFrame:
    """M2: union two result sets, first-input-wins on duplicate
    timestamps (influxdb/client.go:287-308 ``mergeSamples``).

    The reference walks two sorted lists and keeps list-a's sample on
    equal timestamps; distributed form: tag each side with a priority
    and keep the min-priority row's payload per (series, t) via scalar
    ``min_by`` aggregates — one hash aggregate with map-side partial
    combine. (A ranking window over the priority would give the same
    rows but shuffle+sort every partition with no combiner — the
    100 TB-hostile plan.) Precondition, inherited from the reference's
    merge of two per-query result lists: each input has at most one
    row per key (aggregated read results always do). The per-column
    ``min_by`` form relies on it: if an input violated it, tied
    priorities could stitch payload columns from different rows (a
    single packed-struct ``min_by`` would stay row-atomic but its
    non-primitive buffer degrades HashAggregate to SortAggregate —
    the 100 TB-hostile plan shape this module exists to avoid).
    ``assert_unique=True`` is the debug path: it eagerly verifies the
    precondition with one count per input and raises ``ValueError``
    on violation.
    """
    keys = list(keys or ["name", "tags", "t"])
    if assert_unique:
        for side, df in (("a", a), ("b", b)):
            dup = (df.groupBy(*keys).count()
                   .filter(F.col("count") > 1).limit(1).count())
            if dup:
                raise ValueError(
                    f"merge_sorted_dedup precondition violated: input "
                    f"'{side}' has >1 row for some {keys}"
                )
    payload = [c for c in a.columns if c not in keys]
    tagged = a.withColumn("_prio", F.lit(0)).unionByName(
        b.withColumn("_prio", F.lit(1))
    )
    return (
        tagged.groupBy(*keys)
        .agg(*[F.min_by(c, "_prio").alias(c) for c in payload])
        .select(*a.columns)
    )
