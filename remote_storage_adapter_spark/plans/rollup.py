"""Tiered retention rollup + last-write-wins versioning (SURVEY §4.3).

The reference delegates this to ClickHouse's GraphiteMergeTree
``graphite_rollup`` config (README.md:66-86): version column
``updated`` picks the last write per (name, tags, ts); retention tiers
re-bucket by age — default function ``avg``; 10 s raw, 30 s after 1 day,
300 s after 2 days. The storage engine applies this during background
merges; here it is an explicit, config-driven batch job (the Spark-first
equivalent: deterministic, idempotent, incrementally schedulable per
date partition).

At 100 TB: each tier job reads only the date partitions whose age makes
them eligible (partition pruning on the `date` column), aggregates with
map-side partial aggregation, and overwrites the tier's partitions
atomically. No global shuffle beyond the per-tier groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_storage_adapter_spark.functions.codecs import labels_from_tags
from remote_storage_adapter_spark.plans.read import bucket_ms


@dataclass(frozen=True)
class RollupTier:
    """One retention rule (README.md:71-85 XML → code)."""

    age_s: int        # applies to rows older than this
    precision_s: int  # target bucket width


#: The reference's shipped config (README.md:73-84).
DEFAULT_TIERS = (
    RollupTier(age_s=0, precision_s=10),
    RollupTier(age_s=86400, precision_s=30),
    RollupTier(age_s=172800, precision_s=300),
)


def lww_dedup(df: DataFrame,
              keys: Sequence[str] = ("name", "tags", "ts"), *,
              exact_rows: bool = False) -> DataFrame:
    """A8: keep the max-``updated`` row per sample key.

    GraphiteMergeTree's version-column semantics (README.md:70,
    DDL ``updated`` default at 0001-create-table.sql:8): on duplicate
    (name, tags, ts) the last write wins; ``updated`` ties (two writes
    in the same ingest instant — ClickHouse keeps an arbitrary row)
    break deterministically on max ``val``.

    100 TB physical plan: this is a pure hash-aggregate pipeline
    (partial+final, map-side combine) — never a ranking window, which
    would shuffle every raw row and then SORT every partition with no
    partial aggregation. Two details force the shape used here:

    - ``max_by(struct(payload), struct(updated, val))`` — the obvious
      one-pass form — has non-primitive aggregation buffers, which
      HashAggregateExec cannot hold (it requires UnsafeRow-mutable,
      fixed-width buffer types), so Catalyst silently degrades it to
      SortAggregate. Two chained aggregates with scalar-only buffers
      (max(val) per (key, updated), then max_by(val, updated) per key)
      stay HashAggregate end to end; duplicates collapse map-side in
      BOTH passes, so the second shuffle moves already-deduped rows.
    - ``labels``/``date`` (non-scalar / derived payload) would likewise
      poison the buffers, so they are dropped before the aggregate and
      re-derived: ``date`` from ``ts``, ``labels`` via the W5 codec
      from ``tags`` (reference read-path behavior, makeLabels
      clickhouse/tagvalue.go:32-49 — empty-valued labels drop, which
      the reference's own read path does too).

    Other scalar payload columns are carried with ``max_by`` (winning
    row's value; ties on (updated, val) pick one deterministically-
    aggregated row).

    The ``labels``/``date`` re-derivation widens the contract from
    'row selection' to 'row rewrite': stored data that disagrees with
    the codec (an older writer, empty-valued labels preserved on
    disk) is silently normalized. The rollup call sites own their
    schema and want exactly that; generic callers can pass
    ``exact_rows=True`` for pure row selection — winners are picked
    with the same two chained hash aggregates on (keys, updated,
    val) only, then semi-joined back to the input, so every payload
    column (including non-scalar ones) is carried verbatim. Costs one
    extra join of the winner keys against the input; rows tying on
    (keys, updated, val) but differing elsewhere collapse to one
    arbitrary row (ClickHouse keeps an arbitrary row there too).
    """
    keys = list(keys)
    if exact_rows:
        winners = (
            df.select(*keys, "updated", "val")
            .groupBy(*keys, "updated")
            .agg(F.max("val").alias("val"))
            .groupBy(*keys)
            .agg(F.max_by("val", "updated").alias("val"),
                 F.max("updated").alias("updated"))
        )
        return (
            df.join(winners, [*keys, "updated", "val"], "leftsemi")
            .dropDuplicates(keys)
            .select(*df.columns)
        )
    cols = df.columns
    derived = {}
    if "labels" in cols and "tags" in keys:
        derived["labels"] = labels_from_tags(F.col("tags"))
    if "date" in cols and "ts" in keys:
        derived["date"] = F.to_date(F.col("ts"))
    carry = [
        c for c in cols
        if c not in keys and c not in ("val", "updated") and c not in derived
    ]
    per_version = (
        df.drop(*derived.keys())
        .groupBy(*keys, "updated")
        .agg(
            F.max("val").alias("val"),
            *[F.max_by(c, "val").alias(c) for c in carry],
        )
    )
    winner = (
        per_version.groupBy(*keys)
        .agg(
            F.max_by("val", "updated").alias("val"),
            *[F.max_by(c, "updated").alias(c) for c in carry],
            F.max("updated").alias("updated"),
        )
    )
    for name, expr in derived.items():
        winner = winner.withColumn(name, expr)
    return winner.select(*cols)


def _age_slices(tiers: Sequence[RollupTier], now_ms: int) -> list:
    """[(tier, predicate)] youngest tier first: a tier takes the rows
    whose age is in [tier.age_s, next tier's age_s), so a sample
    exactly one tier boundary old stays in the younger tier. The one
    routing rule :func:`run_tiers` and :func:`tiered_view` share."""
    ordered = sorted(tiers, key=lambda t: t.age_s)
    uppers = [t.age_s for t in ordered[1:]] + [None]

    def cutoff(age_s):
        return F.timestamp_millis(F.lit(now_ms - age_s * 1000))

    out = []
    for t, upper in zip(ordered, uppers):
        pred = F.col("ts") < cutoff(t.age_s) if t.age_s > 0 else F.lit(True)
        if upper is not None:
            pred = pred & (F.col("ts") >= cutoff(upper))
        out.append((t, pred))
    return out


def rollup(df: DataFrame, precision_s: int, *, now_ms: int,
           older_than_s: int = 0, agg: str = "avg") -> DataFrame:
    """One tier pass: LWW-dedup then re-bucket rows older than
    ``older_than_s`` to ``precision_s`` buckets with ``agg`` (default
    avg, the graphite_rollup default README.md:72).

    Output schema matches the canonical table minus raw ts precision:
    (date, name, tags, val, ts, updated) with ts = bucket start.
    """
    cutoff = F.timestamp_millis(F.lit(now_ms - older_than_s * 1000))
    agg_fn = getattr(F, agg)
    deduped = lww_dedup(df.filter(F.col("ts") < cutoff))
    bucket = bucket_ms(F.col("ts"), precision_s)
    # labels re-derived from tags post-agg (W5 codec) rather than
    # first(labels): a map-typed aggregation buffer would force the
    # whole tier job from HashAggregate down to SortAggregate.
    return (
        deduped
        .groupBy(
            F.col("name"),
            F.col("tags"),
            F.timestamp_millis(bucket).alias("ts"),
        )
        .agg(
            agg_fn(F.col("val")).alias("val"),
            F.max(F.col("updated")).alias("updated"),
        )
        .withColumn("labels", labels_from_tags(F.col("tags")))
        .withColumn("date", F.to_date(F.col("ts")))
        .select("date", "name", "tags", "labels", "val", "ts", "updated")
    )


def tiered_view(raw: DataFrame, tier_tables: dict, *, now_ms: int,
                tiers: Sequence[RollupTier] = DEFAULT_TIERS) -> DataFrame:
    """Route each age slice to its coarsest rolled-up table — the read
    side of GraphiteMergeTree's transparent tier selection (a query
    against the CH table automatically reads merged 30 s/300 s parts
    for old data; README.md:66-86).

    ``tier_tables`` maps precision_s → DataFrame produced by
    :func:`rollup`/:func:`run_tiers` (canonical schema). The newest
    slice (or any tier without a table) falls back to ``raw``. The
    result is a single canonical metrics frame read_query can use
    unchanged — old ranges scan ~precision/10 fewer rows.

    At 100 TB this is the difference between scanning raw 10 s samples
    and 300 s aggregates for a 90-day query: 30× fewer rows before the
    query's own downsample runs.
    """
    parts = [tier_tables.get(t.precision_s, raw).filter(pred)
             .select(*raw.columns)
             for t, pred in _age_slices(tiers, now_ms)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_tiers(df: DataFrame, *, now_ms: int,
              tiers: Sequence[RollupTier] = DEFAULT_TIERS,
              agg: str = "avg") -> dict:
    """Run every tier; returns {precision_s: DataFrame}. Tier N covers
    rows whose age ∈ [tier.age_s, next_tier.age_s)."""
    return {
        t.precision_s: rollup(df.filter(pred), t.precision_s, now_ms=now_ms,
                              older_than_s=t.age_s, agg=agg)
        for t, pred in _age_slices(tiers, now_ms)
    }
