"""Incremental sketch maintenance — streaming merges of the mergeable
sketch family.

The batch sketches in ``operators/sketch.py`` are mergeable by
construction — HLL registers combine by ``max(max_rho)`` per cell, CMS
counters by ``sum(cnt)``, Bloom bit sets by distinct union (bitwise
OR) — so per-micro-batch sketches fold into a maintained at-rest table
without ever touching previously-seen raw data. This module wires that
property into Structured Streaming via ``foreachBatch``: each
micro-batch is sketched (bounded rows however large the batch) and
merged into the state table. HLL and Bloom merges are idempotent
(max / set-union), so re-delivered batches are absorbed exactly-once
under at-least-once delivery; CMS ``sum`` is NOT replay-idempotent, so
the maintainer passes the micro-batch id and the merge records applied
ids in a ledger that lives INSIDE the state directory and swaps
atomically WITH the data (``_merge_into``) — a batch re-fed after
a swap-then-crash-before-checkpoint-commit is skipped, closing the
double-count window the checkpoint-offset contract alone leaves.

At 100 TB: the stream state is the sketch table itself — bounded by
the sketch parameters regardless of ingest volume — and each merge
shuffles only that bounded table plus one micro-batch's sketch. The
estimate read from the maintained table equals the batch estimate over
the union of all micro-batches (asserted e2e in
tests/test_streaming_ops.py), because every merge is associative and
commutative.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from remote_storage_adapter_spark.operators.sketch import (
    bloom_sketch,
    cms_sketch,
    hll_registers,
)
from remote_storage_adapter_spark.streaming.source import file_stream


def _merge_into(state_path: str, new, merge,
                batch_id: int | None = None) -> bool:
    """Read current state (if any), combine via ``merge``, swap in the
    result; returns True if this call merged the batch. State presence
    is an explicit filesystem check, NOT a try/except around the
    read+merge — an analysis error from the merge itself (schema
    drift, corrupt state) must fail loudly, never silently reset the
    accumulated sketch to this batch (ADVICE r5).

    The swap is staged: merged state is written to a sibling ``._tmp``
    directory (the plan still reads the live path, so no lineage cut
    is needed), then the live path is moved aside to ``._old`` and the
    tmp renamed in — single filesystem renames, so the live path is
    never a partially-written directory, unlike the previous in-place
    ``mode('overwrite')`` whose delete-then-write window could leave
    partial state behind a crash. A crash between the two renames
    leaves the state at ``._old`` with no live path; the next merge
    restores it before reading (and the interrupted batch replays from
    the stream checkpoint — the standard foreachBatch contract).

    ``batch_id`` gives EXACTLY-ONCE replay for non-idempotent merges
    (CMS sums, LM counts): the applied-batch ledger lives INSIDE the
    state directory (``_applied.txt``) and is rewritten into the
    staged ``._tmp`` alongside the merged data, so the single atomic
    swap rename commits data and ledger together — there is no window
    where the merge is applied but unrecorded (the gap the
    checkpoint-offset contract leaves: a crash after the swap but
    before the stream's commit re-feeds the batch). A replayed batch
    whose id the live ledger holds is skipped (returns False). Without
    an id the merge always applies, and a ledger that a state
    maintained with batch ids already carries is kept as it is — a
    no-id merge must not clobber it, or later crash-replays
    double-count (r6 review).
    """
    spark = new.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    state = hpath(state_path)
    old = hpath(state_path + "._old")
    tmp = hpath(state_path + "._tmp")
    fs = state.getFileSystem(spark._jsc.hadoopConfiguration())
    # crash recovery: a swap that died between its two renames parked
    # the accumulated state at ._old — restore it, don't restart from
    # zero
    if not fs.exists(state) and fs.exists(old):
        fs.rename(old, state)
    applied = _read_applied(fs, jvm, hpath(f"{state_path}/_applied.txt"))
    if batch_id is not None:
        if batch_id in applied:
            return False
        applied = applied | {batch_id}
    if fs.exists(state):
        cur = spark.read.parquet(state_path)
        merged = merge(cur)  # errors here propagate — no fallback
    else:  # first batch: no state yet
        merged = new
    if fs.exists(tmp):  # leftover from an interrupted stage write
        fs.delete(tmp, True)
    merged.write.parquet(state_path + "._tmp")
    if applied:
        out = fs.create(hpath(f"{state_path}._tmp/_applied.txt"), True)
        out.write(bytearray(
            "".join(f"{i}\n" for i in sorted(applied)), "utf-8"))
        out.close()
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(state):
        fs.rename(state, old)
    fs.rename(tmp, state)
    fs.delete(old, True)
    return True


def _read_applied(fs, jvm, path) -> set:
    """Applied-batch ids recorded in the state's ``_applied.txt``
    (underscore-prefixed: parquet readers skip it)."""
    if not fs.exists(path):
        return set()
    br = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(path)))
    ids = set()
    line = br.readLine()
    while line is not None:
        if line.strip():
            ids.add(int(line.strip()))
        line = br.readLine()
    br.close()
    return ids


def merge_hll_state(batch_df, state_path: str, key_col: str,
                    group_cols: Sequence[str] = (), *,
                    p: int = 12, batch_id: int | None = None) -> None:
    """Fold one batch of raw rows into the register table at
    ``state_path`` (creating it on first use). Idempotent: replaying
    a batch cannot raise any register (``max`` merge); ``batch_id``
    adds the in-state ledger skip anyway (uniform contract)."""
    new = hll_registers(batch_df, key_col, group_cols, p=p)
    merge = lambda cur: (
        cur.unionByName(new)
        .groupBy(*group_cols, "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    _merge_into(state_path, new, merge, batch_id)


def merge_cms_state(batch_df, state_path: str, key_col: str, *,
                    depth: int = 4, width: int = 1024,
                    batch_id: int | None = None) -> None:
    """Fold one batch into a count-min sketch table: cells sum. The
    sum merge is NOT replay-idempotent, so pass ``batch_id`` (the
    stream maintainer does) to engage the in-state ledger — a
    replayed batch then merges exactly once even across the
    swap-then-crash-before-checkpoint window."""
    new = cms_sketch(batch_df, key_col, depth=depth, width=width)
    merge = lambda cur: (
        cur.unionByName(new)
        .groupBy("sketch_row", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    _merge_into(state_path, new, merge, batch_id)


def merge_bloom_state(batch_df, state_path: str, key_col: str, *,
                      m_bits: int = 1 << 16, k: int = 4,
                      batch_id: int | None = None) -> None:
    """Fold one batch into a Bloom bit-set table: bitwise OR, spelled
    as distinct union of the sparse set-bit rows. Idempotent;
    ``batch_id`` engages the in-state ledger anyway."""
    new = bloom_sketch(batch_df, key_col, m_bits=m_bits, k=k)
    merge = lambda cur: (
        cur.unionByName(new).dropDuplicates(["bit"])
    )
    _merge_into(state_path, new, merge, batch_id)


#: kind → (merge_fn, accepted kwargs) for stream_sketch_maintain
_MERGERS = {
    "hll": (merge_hll_state, ("group_cols", "p")),
    "cms": (merge_cms_state, ("depth", "width")),
    "bloom": (merge_bloom_state, ("m_bits", "k")),
}


def stream_sketch_maintain(
    spark: SparkSession,
    raw_path: str,
    state_path: str,
    checkpoint_dir: str,
    *,
    kind: str,
    schema: StructType,
    key_col: str,
    available_now: bool = False,
    max_files_per_trigger: int = 64,
    **sketch_kwargs,
):
    """Maintain a sketch table of the given ``kind`` ('hll' | 'cms' |
    'bloom') over a parquet landing directory; returns the
    StreamingQuery. Read the maintained table any time with the batch
    estimators (``hll_estimate`` / ``cms_estimate`` /
    ``bloom_contains``) — the at-rest shape is identical to the batch
    sketch's."""
    merge_fn, allowed = _MERGERS[kind]
    bad = set(sketch_kwargs) - set(allowed)
    if bad:
        raise TypeError(f"{kind} sketch takes {allowed}, got {sorted(bad)}")
    raw = file_stream(spark, schema, raw_path, fmt="parquet",
                      max_files_per_trigger=max_files_per_trigger)
    writer = (
        raw.writeStream
        .foreachBatch(lambda df, bid: merge_fn(
            df, state_path, key_col, batch_id=bid, **sketch_kwargs))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_hll_maintain(
    spark: SparkSession,
    raw_path: str,
    state_path: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    key_col: str,
    group_cols: Sequence[str] = (),
    p: int = 12,
    available_now: bool = False,
    max_files_per_trigger: int = 64,
):
    """Maintain an HLL register table over a landing directory; returns
    the StreamingQuery. Read the estimate at any time with
    ``hll_estimate(spark.read.parquet(state_path), group_cols, p=p)``.
    """
    return stream_sketch_maintain(
        spark, raw_path, state_path, checkpoint_dir, kind="hll",
        schema=schema, key_col=key_col, available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
        group_cols=group_cols, p=p,
    )
