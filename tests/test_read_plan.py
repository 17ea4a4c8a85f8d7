"""Read-planner tests: step computation (A1 + §4.5.1), downsample agg,
series assembly (A5), merge-dedup (M2), result cap (O3)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from remote_storage_adapter_spark.plans.matchers import PromQuery
from remote_storage_adapter_spark.plans.read import (
    MAX_SAMPLES,
    MIN_STEP_S,
    assemble_series,
    compute_step_s,
    merge_sorted_dedup,
    read_query,
)


def test_step_short_range_floor():
    # < 81920 s range → min step 10 s (clickhouse/query.go:13-15)
    assert compute_step_s(0, 80_000_000) == MIN_STEP_S


def test_step_long_range_scales():
    # 30 days → 2592000/8192 = 316 s
    assert compute_step_s(0, 2_592_000_000) == 316


def test_step_parity_mode_reproduces_bug():
    # reference inverts operands → negative // 8192 → always min step
    assert compute_step_s(0, 2_592_000_000, parity_mode=True) == MIN_STEP_S


@given(st.integers(0, 10**12), st.integers(0, 10**12))
@settings(max_examples=200, deadline=None)
def test_step_bounds_result_size(a, b):
    start, end = sorted((a, b))
    step = compute_step_s(start, end)
    assert step >= MIN_STEP_S
    # number of buckets is capped (O3). Integer division step means the
    # cap can overshoot by up to range/step/(range//8192) ≈ 10%.
    assert (end - start) / 1000 / step <= MAX_SAMPLES * 1.1 + 1


def _metrics(spark, rows):
    df = spark.createDataFrame(
        rows,
        "name string, labels map<string,string>, val double, ts_ms long",
    )
    return (
        df.withColumn("ts", F.timestamp_millis("ts_ms"))
        .withColumn("date", F.to_date("ts"))
        .withColumn("updated", F.col("ts"))
        .withColumn(
            "tags",
            F.array_sort(
                F.transform(
                    F.map_entries("labels"),
                    lambda e: F.concat_ws("=", e["key"], e["value"]),
                )
            ),
        )
    )


def test_downsample_quantile_and_count(spark):
    # 5 samples in one 10s bucket, values 1..5 → q75 = 4.0 (cont interp)
    rows = [("m", {"__name__": "m"}, float(v), 1000 * v) for v in range(1, 6)]
    m = _metrics(spark, rows)
    q = PromQuery(0, 60_000, step_s=10)
    out = read_query(m, q, exact_quantile=True).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cnt"] == 5 and r["t"] == 0 and r["value"] == 4.0


def test_bucket_boundaries(spark):
    rows = [
        ("m", {"__name__": "m"}, 1.0, 9_999),   # bucket 0
        ("m", {"__name__": "m"}, 2.0, 10_000),  # bucket 10000
        ("m", {"__name__": "m"}, 3.0, 19_999),  # bucket 10000
    ]
    out = read_query(_metrics(spark, rows), PromQuery(0, 60_000, step_s=10),
                     exact_quantile=True).collect()
    got = {r["t"]: r["cnt"] for r in out}
    assert got == {0: 1, 10_000: 2}


def test_series_assembly_sorted(spark):
    rows = [
        ("m", {"__name__": "m", "a": "1"}, 5.0, 30_000),
        ("m", {"__name__": "m", "a": "1"}, 1.0, 10_000),
        ("m", {"__name__": "m", "a": "2"}, 2.0, 10_000),
    ]
    flat = read_query(_metrics(spark, rows), PromQuery(0, 60_000, step_s=10),
                      exact_quantile=True)
    series = {tuple(r["tags"]): r["samples"]
              for r in assemble_series(flat).collect()}
    s1 = series[("__name__=m", "a=1")]
    assert [s["t"] for s in s1] == [10_000, 30_000]  # t-sorted (A5)
    assert [s["value"] for s in s1] == [1.0, 5.0]
    assert len(series[("__name__=m", "a=2")]) == 1


def test_merge_dedup_first_wins(spark):
    a = spark.createDataFrame(
        [("m", "k", 1000, 1.0)], "name string, tags string, t long, value double"
    )
    b = spark.createDataFrame(
        [("m", "k", 1000, 99.0), ("m", "k", 2000, 2.0)],
        "name string, tags string, t long, value double",
    )
    out = {r["t"]: r["value"]
           for r in merge_sorted_dedup(a, b, keys=["name", "tags", "t"]).collect()}
    # influxdb mergeSamples: list-a wins on equal timestamps
    assert out == {1000: 1.0, 2000: 2.0}


def test_merge_dedup_assert_unique_guard(spark):
    """ADVICE r2 #1: the debug path enforces the at-most-one-row-per-
    key precondition the per-column min_by form relies on."""
    import pytest

    clean = spark.createDataFrame(
        [("m", "k", 1000, 1.0)],
        "name string, tags string, t long, value double",
    )
    dup = spark.createDataFrame(
        [("m", "k", 1000, 1.0), ("m", "k", 1000, 2.0)],
        "name string, tags string, t long, value double",
    )
    # clean inputs pass the guard unchanged
    out = merge_sorted_dedup(clean, clean, keys=["name", "tags", "t"],
                             assert_unique=True)
    assert out.count() == 1
    with pytest.raises(ValueError, match="precondition"):
        merge_sorted_dedup(clean, dup, keys=["name", "tags", "t"],
                           assert_unique=True)


def test_to_read_response_shape(spark):
    from remote_storage_adapter_spark.plans.read import to_read_response

    flat = spark.createDataFrame(
        [("up", ["__name__=up", "job=api"], 1000, 1.5),
         ("up", ["__name__=up", "job=api"], 2000, 2.5),
         ("up", ["__name__=up", "job=db", "x="], 1000, 9.0)],
        "name string, tags array<string>, t long, value double",
    )
    resp = to_read_response(assemble_series(flat))
    assert len(resp["results"]) == 1  # reference collapses to Results[0]
    ts = resp["results"][0]["timeseries"]
    assert len(ts) == 2
    api = ts[0]
    assert {"name": "job", "value": "api"} in api["labels"]
    assert api["samples"] == [
        {"timestamp": 1000, "value": 1.5},
        {"timestamp": 2000, "value": 2.5},  # t-sorted
    ]
    # empty-valued tag dropped on read (W5 / M4 semantics)
    db = ts[1]
    assert all(l["name"] != "x" for l in db["labels"])


def test_to_read_response_golden(spark):
    """Full-dict golden for the remote-read response (VERDICT r1 next
    #5): hand-built expected ReadResponse, locking the wire shape the
    gateway protobuf-encodes (clickhouse/client.go:212-223) including
    the '='-in-value edges from ADVICE r1:

    - ``env=stage=blue``: Go ``SplitN(tag, "=", 2)`` keeps everything
      after the FIRST '=' → value ``stage=blue`` (makeLabels,
      clickhouse/tagvalue.go:32-49).
    - ``odd==x``: splits to value ``=x`` — non-empty, so KEPT.
    - ``drop=``: empty value → dropped (M4 semantics).
    """
    from remote_storage_adapter_spark.plans.read import to_read_response

    flat = spark.createDataFrame(
        [("up", ["__name__=up", "env=stage=blue", "odd==x", "drop="],
          2000, 2.5),
         ("up", ["__name__=up", "env=stage=blue", "odd==x", "drop="],
          1000, 1.5),
         ("rq", ["__name__=rq"], 1000, 9.0)],
        "name string, tags array<string>, t long, value double",
    )
    resp = to_read_response(assemble_series(flat))
    assert resp == {
        "results": [
            {
                "timeseries": [
                    {
                        "labels": [
                            {"name": "__name__", "value": "rq"},
                        ],
                        "samples": [{"timestamp": 1000, "value": 9.0}],
                    },
                    {
                        "labels": [
                            {"name": "__name__", "value": "up"},
                            {"name": "env", "value": "stage=blue"},
                            {"name": "odd", "value": "=x"},
                        ],
                        "samples": [
                            {"timestamp": 1000, "value": 1.5},
                            {"timestamp": 2000, "value": 2.5},
                        ],
                    },
                ]
            }
        ]
    }


def test_read_request_overlap_deterministic(spark):
    """ADVICE r1 low: two queries whose ranges clip the same bucket
    differently must yield the FIRST query's cnt/value for that bucket,
    not an arbitrary survivor."""
    from remote_storage_adapter_spark.plans.read import read_request

    # bucket [10000,20000): q0 sees only ts=10s..14s (3 samples),
    # q1 sees the whole bucket (6 samples) → they disagree on cnt.
    rows = [("m", {"__name__": "m"}, float(v), 10_000 + v * 1500)
            for v in range(8)]  # ts 10.0s..20.5s → buckets 10000, 20000
    m = _metrics(spark, rows)
    q0 = PromQuery(10_000, 14_500, step_s=10)
    q1 = PromQuery(0, 60_000, step_s=10)
    out = {r["t"]: (r["cnt"], r["value"])
           for r in read_request(m, [q0, q1],
                                 exact_quantile=True).collect()}
    # first-query-wins on the contested bucket: the merged result must
    # carry exactly what q0 alone computes there.
    solo = {r["t"]: (r["cnt"], r["value"])
            for r in read_request(m, [q0], exact_quantile=True).collect()}
    assert out[10_000] == solo[10_000]
    # buckets only q1 covers still present
    assert 20_000 in out


def test_approx_quantile_close_to_exact(spark):
    # the scale path uses percentile_approx (mergeable sketch ≙ CH's
    # approximate quantile); bound its error against exact percentile
    import pyspark.sql.functions as F
    from remote_storage_adapter_spark.sources.events import load_metrics

    m = load_metrics(spark, "/root/testdata/sf0.001")
    row = m.groupBy("name").agg(
        F.percentile_approx("val", 0.75).alias("approx"),
        F.percentile("val", 0.75).alias("exact"),
        F.max("val").alias("mx"),
        F.min("val").alias("mn"),
    ).collect()
    for r in row:
        spread = r["mx"] - r["mn"]
        assert abs(r["approx"] - r["exact"]) <= 0.05 * spread + 1e-9


# ---------------------------------------------------------------------
# read_request plans no range sort: equality with the sorted form it
# replaced, and the plan shape that makes it cheaper.

def _sorted_union_merge(df, queries, **kw):
    """The earlier read_request: every query through the sorted
    read_query, then the first-query-wins min_by merge, also for one
    query."""
    from functools import reduce

    from pyspark.sql import DataFrame

    parts = [read_query(df, q, **kw).withColumn("_prio", F.lit(i))
             for i, q in enumerate(queries)]
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("t", "name", "tags")
        .agg(F.min_by("cnt", "_prio").alias("cnt"),
             F.min_by("value", "_prio").alias("value"))
        .select("cnt", "t", "name", "tags", "value")
    )


def _rows(df):
    return sorted((r["t"], r["name"], tuple(r["tags"]), r["cnt"], r["value"])
                  for r in df.collect())


def _mixed_metrics(spark):
    # three series of two names, 4 s apart over 400 s, repeated values
    rows = [(n, {"__name__": n, "pod": p}, float((i * 7 + len(p)) % 13),
             4_000 * i)
            for i in range(100)
            for n, p in (("up", "a"), ("up", "b"), ("rq", "a"))]
    return _metrics(spark, rows)


_REQUESTS = {
    "single": [PromQuery(0, 400_000, step_s=30)],
    "single_default_step": [PromQuery(50_000, 250_000)],
    # overlapping ranges with different steps clip shared buckets
    "overlap_steps": [PromQuery(0, 200_000, step_s=20),
                      PromQuery(100_000, 400_000, step_s=60),
                      PromQuery(150_000, 170_000, step_s=20)],
    "overlap_same_step": [PromQuery(60_000, 180_000, step_s=30),
                          PromQuery(0, 400_000, step_s=30)],
}


@pytest.mark.parametrize("exact", [True, False])
@pytest.mark.parametrize("name", sorted(_REQUESTS))
def test_read_request_equals_sorted_union_merge(spark, name, exact):
    from remote_storage_adapter_spark.plans.read import read_request

    m = _mixed_metrics(spark)
    qs = _REQUESTS[name]
    got = _rows(read_request(m, qs, exact_quantile=exact))
    assert got and got == _rows(
        _sorted_union_merge(m, qs, exact_quantile=exact))


def _final_plan(df) -> str:
    """The executed plan of ``df``'s last action: AQE's final plan."""
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return plan.count("Exchange hashpartitioning")


def test_read_request_plan_has_no_range_sort(spark):
    """Matched rows are hash-partitioned on the series key once, and the
    bucket aggregate, the multi-query merge and the assembly all run on
    that partitioning."""
    from remote_storage_adapter_spark.operators.skew import (
        assemble_series_salted,
    )
    from remote_storage_adapter_spark.plans.read import read_request

    m = _mixed_metrics(spark)
    one = assemble_series(read_request(m, _REQUESTS["single"]))
    assert len(one.collect()) == 3
    plan = _final_plan(one)
    assert "rangepartitioning" not in plan
    assert not re.search(r"\bSort\b", plan)
    assert _exchanges(plan) == 1
    # a fixed width: AQE would coalesce a small read to one reduce task
    assert "coalesced" not in plan

    # one exchange per query, none above the union
    qs = _REQUESTS["overlap_steps"]
    many = assemble_series(read_request(m, qs))
    many.collect()
    plan = _final_plan(many)
    assert "rangepartitioning" not in plan
    assert _exchanges(plan) == len(qs)
    assert _exchanges(plan[:plan.index("Union")]) == 0

    # the salted assembly adds none either: the series key already
    # clusters its rows
    salted = assemble_series_salted(
        read_request(m, _REQUESTS["single"]), n_salts=4)
    assert len(salted.collect()) == 3
    assert _exchanges(_final_plan(salted)) == 1


def test_read_runs_two_jobs_after_open(spark, tmp_path):
    """A one-query read, from the opened frame to the response dict: the
    exchange's map stage and the Arrow collect."""
    from remote_storage_adapter_spark.plans.read import (
        read_request,
        to_read_response,
    )

    path = str(tmp_path / "metrics")
    _mixed_metrics(spark).write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "test-read-jobs"
    sc.setJobGroup(group, group)
    try:
        resp = to_read_response(
            assemble_series(read_request(df, _REQUESTS["single"])))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(resp["results"][0]["timeseries"]) == 3
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


# ---------------------------------------------------------------------
# to_read_response reads an Arrow table by column: equality with the
# Row-by-Row form it replaced.

def _row_read_response(assembled):
    """The earlier to_read_response: one Row per series and per
    sample."""
    series = []
    for row in assembled.collect():
        labels = [
            {"name": t.split("=", 1)[0], "value": t.split("=", 1)[1]}
            for t in row["tags"]
            if "=" in t and t.split("=", 1)[1] != ""
        ]
        series.append(
            {
                "labels": labels,
                "samples": [
                    {"timestamp": s["t"], "value": s["value"]}
                    for s in row["samples"]
                ],
            }
        )
    series.sort(key=lambda s: tuple(
        (l["name"], l["value"]) for l in s["labels"]
    ))
    return {"results": [{"timeseries": series}]}


_FLAT = "name string, tags array<string>, t long, value double"


def _assert_same_response(assembled):
    from remote_storage_adapter_spark.plans.read import to_read_response

    got = to_read_response(assembled)
    # repr: byte-equal, so an int timestamp turned float would show. A
    # bool is asserted, not the strings, so that a failure does not
    # diff a megabyte-long repr.
    same = repr(got) == repr(_row_read_response(assembled))
    assert same, "the Arrow and the Row response differ"
    return got


def test_arrow_response_empty(spark):
    got = _assert_same_response(
        assemble_series(spark.createDataFrame([], _FLAT)))
    assert got == {"results": [{"timeseries": []}]}


def test_arrow_response_label_edges(spark):
    """The golden tests' '='-in-value and empty-valued tags."""
    flat = spark.createDataFrame(
        [("up", ["__name__=up", "env=stage=blue", "odd==x", "drop="],
          2000, 2.5),
         ("up", ["__name__=up", "env=stage=blue", "odd==x", "drop="],
          1000, 1.5),
         ("up", ["__name__=up", "job=db", "x="], 1000, 9.0),
         ("rq", ["__name__=rq"], 1000, 9.0)],
        _FLAT,
    )
    got = _assert_same_response(assemble_series(flat))
    assert len(got["results"][0]["timeseries"]) == 3


def test_arrow_response_null_value_stays_none(spark):
    flat = spark.createDataFrame(
        [("up", ["__name__=up"], 1000, None),
         ("up", ["__name__=up"], 2000, 2.5)],
        _FLAT,
    )
    got = _assert_same_response(assemble_series(flat))
    samples = got["results"][0]["timeseries"][0]["samples"]
    assert samples[0] == {"timestamp": 1000, "value": None}


def test_arrow_response_full_series(spark):
    """A series at the step cap next to a short one: the flattened
    columns are cut at the right lengths."""
    flat = (
        spark.range(MAX_SAMPLES)
        .select(F.lit("up").alias("name"),
                F.array(F.lit("__name__=up")).alias("tags"),
                (F.col("id") * 10_000).alias("t"),
                (F.col("id") / 7).alias("value"))
        .unionByName(spark.createDataFrame(
            [("rq", ["__name__=rq"], t, float(t)) for t in (1, 2, 3)],
            _FLAT))
    )
    got = _assert_same_response(assemble_series(flat))
    lens = [len(s["samples"]) for s in got["results"][0]["timeseries"]]
    assert lens == [3, MAX_SAMPLES]


def test_arrow_response_many_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    flat = spark.createDataFrame(
        [("up", ["__name__=up", f"pod={p}"], 1000 * i, float(p * i))
         for p in range(5) for i in range(p + 1)],
        _FLAT,
    )
    assembled = assemble_series(flat).coalesce(1)
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        # the case is only a case if the collect arrives in pieces
        assert assembled.toArrow().column("samples").num_chunks > 1
        got = _assert_same_response(assembled)
    finally:
        spark.conf.set(key, old)
    assert len(got["results"][0]["timeseries"]) == 5
