"""Rollup engine tests: LWW versioning (A8) + tiered re-bucketing (A7)
with version-conflict fixtures (SURVEY §7 'what's hard' (a))."""

from __future__ import annotations

import pyspark.sql.functions as F

from remote_storage_adapter_spark.plans.rollup import (
    DEFAULT_TIERS,
    RollupTier,
    lww_dedup,
    rollup,
    run_tiers,
)

DAY_MS = 86_400_000


def _metrics(spark, rows):
    """rows: (name, ts_ms, val, updated_ms)"""
    df = spark.createDataFrame(
        rows, "name string, ts_ms long, val double, upd_ms long"
    )
    return df.select(
        F.to_date(F.timestamp_millis("ts_ms")).alias("date"),
        "name",
        F.array(F.concat(F.lit("__name__="), "name")).alias("tags"),
        F.create_map(F.lit("__name__"), F.col("name")).alias("labels"),
        "val",
        F.timestamp_millis("ts_ms").alias("ts"),
        F.timestamp_millis("upd_ms").alias("updated"),
    )


def test_lww_keeps_latest_version(spark):
    m = _metrics(spark, [
        ("m", 1000, 1.0, 100),
        ("m", 1000, 99.0, 200),   # later write wins
        ("m", 2000, 2.0, 100),
    ])
    out = {r["ts"].second: r["val"] for r in lww_dedup(m).collect()}
    assert out == {1: 99.0, 2: 2.0}


def test_lww_exact_rows_preserves_stored_payload(spark):
    """ADVICE r2 #2: exact_rows=True is pure row selection — stored
    labels that disagree with the tags codec (an empty-valued label an
    older writer kept) ride through verbatim instead of being
    re-derived, and the winner per key is still the max-updated row."""
    m = _metrics(spark, [
        ("m", 1000, 1.0, 100),
        ("m", 1000, 99.0, 200),   # later write wins
        ("m", 2000, 2.0, 100),
    ]).withColumn(
        # stored labels diverge from what labels_from_tags(tags) gives:
        # an empty-valued label the codec would drop
        "labels",
        F.map_concat("labels", F.create_map(F.lit("stale"), F.lit(""))),
    )
    out = {r["ts"].second: r for r in
           lww_dedup(m, exact_rows=True).collect()}
    assert {s: r["val"] for s, r in out.items()} == {1: 99.0, 2: 2.0}
    # pure selection: the divergent stored labels survive
    assert all(r["labels"].get("stale") == "" for r in out.values())
    # default mode rewrites: the codec-derived labels drop the empty one
    rederived = lww_dedup(m).collect()
    assert all("stale" not in r["labels"] for r in rederived)


def test_rollup_avg_bucketing(spark):
    # 4 samples across two 30 s buckets, all older than cutoff
    m = _metrics(spark, [
        ("m", 0, 1.0, 0),
        ("m", 10_000, 3.0, 0),
        ("m", 30_000, 10.0, 0),
        ("m", 59_000, 20.0, 0),
    ])
    out = rollup(m, 30, now_ms=DAY_MS * 10, older_than_s=0)
    got = {int(r["ts"].timestamp()): r["val"] for r in out.collect()}
    assert got == {0: 2.0, 30: 15.0}


def test_rollup_applies_lww_before_avg(spark):
    m = _metrics(spark, [
        ("m", 0, 1.0, 100),
        ("m", 0, 5.0, 200),    # replaces the 1.0 sample
        ("m", 10_000, 7.0, 0),
    ])
    out = rollup(m, 30, now_ms=DAY_MS * 10, older_than_s=0).collect()
    assert len(out) == 1
    assert out[0]["val"] == 6.0  # avg(5, 7), not avg(1, 5, 7)


def test_tier_selection(spark):
    """A sample exactly one tier boundary old stays in the younger
    tier: 86,400 s → 10 s, 86,401 s → 30 s."""
    now = DAY_MS * 10
    m = _metrics(spark, [
        ("m", now - 86_400_000, 1.0, 0),
        ("m", now - 86_401_000, 2.0, 0),
    ])
    tiers = run_tiers(m, now_ms=now, tiers=DEFAULT_TIERS)
    assert [r["val"] for r in tiers[10].collect()] == [1.0]
    assert [r["val"] for r in tiers[30].collect()] == [2.0]
    assert tiers[300].count() == 0


def test_run_tiers_partitions_by_age(spark):
    now = DAY_MS * 10
    m = _metrics(spark, [
        ("m", now - 1000, 1.0, 0),                 # fresh → 10 s tier
        ("m", now - DAY_MS - 1000, 2.0, 0),        # 1-2 days → 30 s tier
        ("m", now - 3 * DAY_MS, 3.0, 0),           # >2 days → 300 s tier
    ])
    tiers = run_tiers(m, now_ms=now)
    assert sorted(tiers) == [10, 30, 300]
    assert [r["val"] for r in tiers[10].collect()] == [1.0]
    assert [r["val"] for r in tiers[30].collect()] == [2.0]
    assert [r["val"] for r in tiers[300].collect()] == [3.0]


def test_custom_tier_config(spark):
    m = _metrics(spark, [("m", 0, 1.0, 0), ("m", 45_000, 3.0, 0)])
    out = rollup(m, 60, now_ms=DAY_MS, older_than_s=0, agg="max")
    assert [r["val"] for r in out.collect()] == [3.0]
    custom = (RollupTier(0, 5), RollupTier(3600, 60))
    c = _metrics(spark, [("m", DAY_MS - 3_600_000, 1.0, 0),
                         ("m", DAY_MS - 7_200_000, 3.0, 0)])
    tiers = run_tiers(c, now_ms=DAY_MS, tiers=custom)
    assert sorted(tiers) == [5, 60]
    assert [r["val"] for r in tiers[5].collect()] == [1.0]
    assert [r["val"] for r in tiers[60].collect()] == [3.0]


def test_tiered_view_routes_age_slices(spark):
    from remote_storage_adapter_spark.plans.rollup import (
        DEFAULT_TIERS,
        run_tiers,
        tiered_view,
    )
    from remote_storage_adapter_spark.operators.ingest import to_metrics
    from remote_storage_adapter_spark.schema import SAMPLES_SCHEMA
    import pyspark.sql.functions as F

    NOW = 1704067200000  # "now"
    DAY = 86400000

    def mk(age_days, n, v):
        base = int(NOW - age_days * DAY)
        return [(base + i * 1000, "m", {"__name__": "m", "job": "x"},
                 float(v)) for i in range(n)]

    rows = mk(0.5, 60, 1.0) + mk(1.5, 60, 2.0) + mk(3, 60, 3.0)
    raw = to_metrics(
        spark.createDataFrame(rows, SAMPLES_SCHEMA),
        updated=F.timestamp_millis(F.col("ts_ms")),
    )
    tiers = run_tiers(raw, now_ms=NOW)
    view = tiered_view(raw, tiers, now_ms=NOW)
    got = view.select(
        "ts", "val",
        ((F.lit(NOW) / 1000 - F.unix_timestamp("ts")) / 86400)
        .alias("age_days"),
    ).collect()
    newest = [r for r in got if r["age_days"] < 1]
    mid = [r for r in got if 1 <= r["age_days"] < 2]
    old = [r for r in got if r["age_days"] >= 2]
    # newest slice = tier-0 10 s buckets (the reference's "raw" is
    # itself 10 s precision, README.md:73-76): 60 x 1 s samples → 6
    assert len(newest) == 6 and all(r["val"] == 1.0 for r in newest)
    # middle slice = 30 s buckets (60 x 1 s samples → 2-3 buckets)
    assert 2 <= len(mid) <= 3 and all(r["val"] == 2.0 for r in mid)
    # old slice = 300 s buckets (60 s span → 1 bucket)
    assert len(old) == 1 and old[0]["val"] == 3.0
    # total row count shrank: 180 raw → 6 + ~3 + 1
    assert view.count() <= 10
