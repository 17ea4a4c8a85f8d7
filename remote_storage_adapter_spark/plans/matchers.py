"""Prometheus label-matcher → Catalyst predicate compiler (SURVEY F2-F9).

The reference compiles ``prompb.Query`` matchers into a ClickHouse SQL
WHERE clause by string concatenation (clickhouse/query.go:72-127). We
compile the same matcher language into a Catalyst ``Column`` predicate
tree — parameterized expressions, so none of the reference's quoting /
escaping machinery (F8, clickhouse/query.go:78-84) is needed, and
Catalyst gets a real AST to push down into the parquet scan.

Matcher semantics reproduced (with deliberate deviations per SURVEY §4.5):

- name EQ/NEQ  → ``name = v`` / ``name != v``  (clickhouse/query.go:77-80)
- name RE/NRE  → unanchored regex match, like ClickHouse ``match()``
  (clickhouse/query.go:81-84; the reference's unquoted-SQL bug is fixed
  by construction here).
- label EQ     → the value is split on ``|`` into an IN-list — the
  reference's deliberate non-standard alternation
  (clickhouse/query.go:93-107). Absent label ⇒ no match.
- label NEQ    → negation of EQ; absent label ⇒ match (the reference's
  ``arrayExists(...) = 0`` matches rows without the tag).
- label RE     → value regex anchored at the start of the label value
  (intended ``^k=<re>`` semantics; the reference degrades non-``^``
  values to a prefix-presence test — SURVEY §4.5.3 — which we fix;
  pass ``parity_mode=True`` to reproduce the buggy behavior).
- label NRE    → negation; absent label ⇒ match.
- empty matcher value normalizes to ``''`` (clickhouse/query.go:89-91).

Time range (F2, clickhouse/query.go:18,67-70): ``ts`` between start and
end **plus a redundant ``date >= to_date(start)`` conjunct** so the
date-partitioned table gets partition pruning, exactly as the reference
adds the conjunct to hit the MergeTree partition key. We additionally
bound ``date <= to_date(end)`` (strictly better pruning, same rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EQ, NEQ, RE, NRE = "EQ", "NEQ", "RE", "NRE"
NAME_LABEL = "__name__"


@dataclass(frozen=True)
class LabelMatcher:
    type: str  # EQ | NEQ | RE | NRE
    name: str
    value: str

    def __post_init__(self) -> None:
        if self.type not in (EQ, NEQ, RE, NRE):
            raise ValueError(f"unknown matcher type {self.type!r}")


@dataclass(frozen=True)
class PromQuery:
    """Flattened ``prompb.Query`` (main.go:194-197)."""

    start_ms: int
    end_ms: int
    matchers: Tuple[LabelMatcher, ...] = field(default_factory=tuple)
    step_s: Optional[int] = None  # explicit step override (else computed)

    def __post_init__(self) -> None:
        # clickhouse/query.go:52-54: start after end is an error.
        if self.start_ms > self.end_ms:
            raise ValueError(
                f"start time {self.start_ms} > end time {self.end_ms}"
            )


def _strip_anchor(regex: str) -> str:
    return regex[1:] if regex.startswith("^") else regex


def _label_value(labels: Column, key: str) -> Column:
    return F.element_at(labels, F.lit(key))


def compile_one(m: LabelMatcher, labels: Column, name: Column,
                parity_mode: bool = False) -> Column:
    """Compile a single matcher against (name, labels-map) columns."""
    value = m.value or ""
    if m.name == NAME_LABEL:
        if m.type == EQ:
            return name == F.lit(value)
        if m.type == NEQ:
            return name != F.lit(value)
        if m.type == RE:
            return name.rlike(value)
        return ~name.rlike(value)

    lv = _label_value(labels, m.name)
    if m.type in (EQ, NEQ):
        # clickhouse/query.go:103: EQ value split on '|' → IN-list.
        alts = value.split("|")
        hit = lv.isin(alts)
    else:
        if parity_mode and not value.startswith("^"):
            # SURVEY §4.5.3: reference degrades to label-presence.
            hit = lv.isNotNull()
        else:
            hit = lv.rlike("^(?:%s)" % _strip_anchor(value))
    hit = F.coalesce(hit, F.lit(False))  # absent label => no hit
    if m.type in (EQ, RE):
        return hit
    return ~hit


def compile_matchers(matchers: Sequence[LabelMatcher], labels: Column,
                     name: Column, parity_mode: bool = False) -> Column:
    """AND-fold all matchers (clickhouse/query.go:72-127 loop)."""
    pred = F.lit(True)
    for m in matchers:
        pred = pred & compile_one(m, labels, name, parity_mode=parity_mode)
    return pred


def compile_time_range(q: PromQuery, ts: str = "ts",
                       date: Optional[str] = None) -> Column:
    """F2: ts range + explicit partition-pruning conjuncts on `date`,
    over the named columns.

    One SQL expression, not a tree of Column calls: its only values are
    the two integer bounds, and each PySpark Column call costs several
    py4j round trips."""
    start = f"timestamp_millis({int(q.start_ms)})"
    end = f"timestamp_millis({int(q.end_ms)})"
    pred = f"`{ts}` >= {start} AND `{ts}` <= {end}"
    if date is not None:
        pred = (f"`{date}` >= to_date({start}) AND "
                f"`{date}` <= to_date({end}) AND {pred}")
    return F.expr(pred)


def apply(df: DataFrame, q: PromQuery, parity_mode: bool = False) -> DataFrame:
    """Filter a canonical metrics frame by a query's time range+matchers.

    Matchers compile against the ``labels`` map column; a frame carrying
    only the wire-format ``tags`` array (e.g. loaded straight from a
    reference-schema export) gets the map derived on the fly (W5 codec).
    """
    if "labels" not in df.columns and "tags" in df.columns:
        from remote_storage_adapter_spark.functions.codecs import (
            labels_from_tags,
        )

        df = df.withColumn("labels", labels_from_tags(F.col("tags")))
    date = "date" if "date" in df.columns else None
    return df.filter(
        compile_time_range(q, "ts", date)
        & compile_matchers(q.matchers, F.col("labels"), F.col("name"),
                           parity_mode=parity_mode)
    )
