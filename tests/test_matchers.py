"""Matcher-compiler unit corpus (F2-F7 + SURVEY §4.5 deviations) —
the coverage the reference's read path never had."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from remote_storage_adapter_spark.plans.matchers import (
    LabelMatcher,
    PromQuery,
    apply as apply_query,
    compile_matchers,
)


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        # name, labels, val, ts_ms
        ("up", {"__name__": "up", "job": "api", "env": "prod"}, 1.0, 1000),
        ("up", {"__name__": "up", "job": "db", "env": "prod"}, 2.0, 2000),
        ("up", {"__name__": "up", "job": "api"}, 3.0, 3000),  # env absent
        ("down", {"__name__": "down", "job": "api", "env": ""}, 4.0, 4000),
        ("errors_total", {"__name__": "errors_total", "job": "worker-1"}, 5.0, 5000),
    ]
    df = spark.createDataFrame(
        [(n, l, v, t) for n, l, v, t in rows],
        "name string, labels map<string,string>, val double, ts_ms long",
    )
    return df.withColumn("ts", F.timestamp_millis("ts_ms")).withColumn(
        "date", F.to_date("ts")
    )


def vals(frame, *matchers, parity=False):
    pred = compile_matchers(
        matchers, F.col("labels"), F.col("name"), parity_mode=parity
    )
    return sorted(r["val"] for r in frame.filter(pred).collect())


def test_name_eq_neq(frame):
    assert vals(frame, LabelMatcher("EQ", "__name__", "up")) == [1.0, 2.0, 3.0]
    assert vals(frame, LabelMatcher("NEQ", "__name__", "up")) == [4.0, 5.0]


def test_name_regex_unanchored(frame):
    # ClickHouse match() is a partial match (clickhouse/query.go:82-84)
    assert vals(frame, LabelMatcher("RE", "__name__", "rror")) == [5.0]
    assert vals(frame, LabelMatcher("NRE", "__name__", "^up$")) == [4.0, 5.0]


def test_label_eq_alternation(frame):
    # EQ value split on '|' (clickhouse/query.go:103) — deliberate
    # non-standard Prometheus semantics preserved.
    assert vals(frame, LabelMatcher("EQ", "job", "api|db")) == [1.0, 2.0, 3.0, 4.0]


def test_label_eq_absent_label_no_match(frame):
    assert vals(frame, LabelMatcher("EQ", "env", "prod")) == [1.0, 2.0]


def test_label_neq_matches_absent(frame):
    # arrayExists(...)=0 matches rows without the label at all
    assert vals(frame, LabelMatcher("NEQ", "env", "prod")) == [3.0, 4.0, 5.0]


def test_label_eq_empty_value(frame):
    # F7: empty matcher value → matches explicit-empty label only
    assert vals(frame, LabelMatcher("EQ", "env", "")) == [4.0]


def test_label_re_anchored_semantics(frame):
    # intended semantics: regex anchored at start of the label value
    assert vals(frame, LabelMatcher("RE", "job", "^worker-\\d+")) == [5.0]
    # non-^-anchored value still matches from the start (we fix §4.5.3)
    assert vals(frame, LabelMatcher("RE", "job", "a")) == [1.0, 3.0, 4.0]


def test_label_re_parity_mode_presence(frame):
    # reference bug: non-anchored regex degrades to label presence
    got = vals(frame, LabelMatcher("RE", "job", "a"), parity=True)
    assert got == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_label_nre(frame):
    assert vals(frame, LabelMatcher("NRE", "job", "^a")) == [2.0, 5.0]


def test_time_range_and_partition_prune(frame):
    q = PromQuery(2000, 4000)
    got = sorted(r["val"] for r in apply_query(frame, q).collect())
    assert got == [2.0, 3.0, 4.0]


def test_start_after_end_rejected():
    with pytest.raises(ValueError):
        PromQuery(10, 5)


def test_unknown_matcher_type_rejected():
    with pytest.raises(ValueError):
        LabelMatcher("LIKE", "a", "b")


def test_apply_tags_only_frame(spark, frame):
    # wire-format frame: tags array, no labels map → derived on the fly
    from remote_storage_adapter_spark.functions.codecs import tags_from_labels

    tagged = frame.withColumn(
        "tags", tags_from_labels(F.col("labels"))
    ).drop("labels")
    q = PromQuery(0, 10_000, (
        LabelMatcher("EQ", "__name__", "up"),
        LabelMatcher("EQ", "job", "api"),
    ))
    got = sorted(r["val"] for r in apply_query(tagged, q).collect())
    assert got == [1.0, 3.0]


def test_time_range_prunes_date_partitions(spark, tmp_path):
    """The time range reaches the scan as partition filters on both date
    bounds, and keeps its inclusive ts bounds."""
    import re

    day = 86_400_000
    rows = [("up", {"__name__": "up"}, float(i), i * day // 2)
            for i in range(8)]  # two samples a day over four days
    df = spark.createDataFrame(
        rows, "name string, labels map<string,string>, val double, "
              "ts_ms long")
    path = str(tmp_path / "m")
    (df.withColumn("ts", F.timestamp_millis("ts_ms"))
     .withColumn("date", F.to_date("ts"))
     .write.partitionBy("date").parquet(path))
    q = PromQuery(day, 2 * day)  # both ends fall on a sample
    got = apply_query(spark.read.parquet(path), q)
    assert sorted(r["val"] for r in got.collect()) == [2.0, 3.0, 4.0]
    plan = got._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PartitionFilters: \[(.*?)\]", plan).group(1)
    assert ">=" in pushed and "<=" in pushed
