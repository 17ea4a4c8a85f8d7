"""SparkSession construction / tuning helpers.

All timestamps in the engine are UTC (the reference stores ClickHouse
``DateTime`` which is timezone-naive wall-seconds; we pin the session to
UTC so ``to_date``/``unix_timestamp`` are deterministic and match the
DuckDB oracle, which treats naive timestamps as UTC).
"""

from __future__ import annotations

import os
import re
from typing import Mapping

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to *any* session we are handed
#: (the driver owns session creation for `queries()` callables).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # the driver's events.parquet carries TIMESTAMP(NANOS) which the
    # parquet reader rejects by default; read as long (ns) + convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # round-5 testdata switched events.ts to tz-naive TIMESTAMP(MICROS),
    # which Spark 4 infers as TIMESTAMP_NTZ by default — NTZ forbids the
    # epoch casts the read path is built on. Read naive parquet
    # timestamps as LTZ; with the session pinned to UTC this is exactly
    # DuckDB's naive-as-UTC semantics.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # r10: index probes push small literal In-filters (≤~1000
    # bucket/id values) into parquet so key-sorted reference files
    # skip row groups/pages; above this threshold Spark degrades the
    # push to a min/max range, which over hash-valued keys prunes
    # nothing. Deliberately NOT higher: parquet-mr evaluates a pushed
    # In as an O(depth) recursive OR tree — ~2000 values overflows
    # default task stacks (measured), which is also why the probes
    # cap their push sizes (minhash_lsh_join_indexed push limits)
    # instead of raising this.
    #
    # SESSION-WIDE by necessity, not preference (ADVICE r10): the
    # conf is read at ACTION time, and every probe returns a lazy
    # frame the caller executes later, so a set/restore scope around
    # the probe function cannot cover the scan (unlike
    # dedup_clusters' AQE toggle, whose loop runs its own actions).
    # Why 11-1200-literal In lists are safe for THIS engine's other
    # scans (inventory, r11): every parquet-scan isin() in that range
    # targets a key-SORTED index table where page-skipping is the
    # point — BM25 posting scans push query terms over term-sorted
    # posting files (operators/text.py), ANN probes push bucket/cell
    # ids over key-partitioned index tables (operators/similarity.py)
    # — the same pattern this threshold was raised FOR. The remaining
    # isin() sites are either expressions over DERIVED columns
    # (web.py suffix match, text.py array lambdas — never pushed to
    # parquet) or user matcher alternations (plans/matchers.py),
    # which are regex-alternation-sized (a handful of label values).
    # The measured 3×-slower-than-unpushed regime needed ~500 pushed
    # values over UNSORTED files — no engine scan constructs that
    # shape. External code sharing the session inherits the
    # tradeoff; tune() is the documented place to override.
    "spark.sql.parquet.pushdown.inFilterThreshold": "1200",
}


_UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"
#: A Unix domain socket path holds at most 107 bytes (``sun_path`` is
#: 108, NUL included); PySpark and the JVM name each socket
#: ``<dir>/.<uuid4>.sock``, 42 of them.
_UDS_PATH_MAX = 107
_UDS_NAME_LEN = len(".00000000-0000-0000-0000-000000000000.sock")


def _jvm_tmpdir(conf: Mapping[str, str], env: Mapping[str, str]) -> str:
    """The ``java.io.tmpdir`` the driver JVM will start with: the last
    ``-Djava.io.tmpdir=`` among the options it reads, in the order it
    reads them (``_JAVA_OPTIONS`` last), else the JVM default ``/tmp``.
    """
    opts = " ".join((env.get("JAVA_TOOL_OPTIONS", ""),
                     env.get("SPARK_SUBMIT_OPTS", ""),
                     conf.get("spark.driver.extraJavaOptions", ""),
                     env.get("_JAVA_OPTIONS", "")))
    found = re.findall(r"-Djava\.io\.tmpdir=(\S+)", opts)
    return found[-1] if found else "/tmp"


def _uds_fits(socket_dir: str) -> bool:
    return len(os.fsencode(socket_dir)) + 1 + _UDS_NAME_LEN <= _UDS_PATH_MAX


def _uds_conf(conf: Mapping[str, str], tmpdir: str,
              short_dir: str = "/tmp") -> dict:
    """Confs that keep the Python worker sockets' paths within
    ``_UDS_PATH_MAX``. Without a socket directory the sockets go under
    ``java.io.tmpdir`` (``tmpdir``); when those paths would not fit,
    name ``short_dir`` instead, or fall back to TCP when it cannot
    serve. A socket directory the caller set, or TCP, is left alone."""
    if str(conf.get(_UDS_ENABLED, "false")).lower() != "true" \
            or _UDS_DIR in conf or _uds_fits(tmpdir):
        return {}
    if _uds_fits(short_dir) and os.access(short_dir, os.W_OK | os.X_OK):
        return {_UDS_DIR: short_dir}
    return {_UDS_ENABLED: "false"}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by owner
            pass
    return spark


def get_spark(app_name: str = "remote-storage-adapter-spark",
              extra_conf: dict | None = None) -> SparkSession:
    """Build a local session shaped like the test/bench environment.

    ``local[N]`` here stands in for a multi-executor cluster: everything
    downstream relies only on partitioning, never on single-JVM locality.
    N, and the shuffle width, is the number of CPUs this process may
    run on, so a default session runs one task thread per core;
    ``SPARK_GRAFT_CPUS`` overrides it.

    ``extra_conf`` lets measurement harnesses (perfbench, bench.py's
    event log) override STARTUP confs (e.g.
    ``spark.io.compression.codec``, which the shuffle block writers
    read from the frozen SparkConf) while keeping every other knob
    identical to the production session — a comparison then isolates
    exactly the overridden conf. A key of
    ``_RUNTIME_CONF`` raises ``ValueError``: the query results and the
    oracle contract depend on those (the session time zone, how
    parquet timestamps read).
    """
    extra_conf = dict(extra_conf or {})
    clash = sorted(extra_conf.keys() & _RUNTIME_CONF.keys())
    if clash:
        raise ValueError(
            f"extra_conf may not override the engine's runtime confs: "
            f"{clash}")
    uds = os.environ.get("SPARK_GRAFT_UDS", "1") != "0"
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # r11: Python workers talk to the JVM over UNIX DOMAIN
        # sockets, not loopback TCP (startup-time conf, so set here
        # rather than in _RUNTIME_CONF). Motive: a 30-minute
        # mapInPandas wedge observed at sf100 — the worker blocked
        # writing output, the JVM's advertised receive window stuck
        # at ZERO with an empty Recv-Q, the JVM→worker direction in
        # RTO backoff 22 with retransmits lost ON LOOPBACK (ss
        # showed rwnd_limited 99.9%, 21 MB unread input) — i.e. a
        # kernel TCP flow-control wedge under heavy bidirectional
        # Arrow traffic, not an application deadlock. UDS has no
        # windows, no congestion control, no retransmission: the
        # whole failure class vanishes, and same-host framing is
        # cheaper. ``SPARK_GRAFT_UDS=0`` restores TCP (the conf
        # only applies to local/classic mode, which is where we
        # run; a real cluster's executors set their own transport).
        # The sockets are named <java.io.tmpdir>/.<uuid>.sock unless a
        # socket directory is set, and a deep tmpdir overflows a socket
        # path: _uds_conf then names a short directory, or picks TCP.
        .config(_UDS_ENABLED, uds)
        # r14: ContextCleaner reclaims shuffle/broadcast state only
        # when the DRIVER GCs, and a large heap (the sf100 recipe
        # runs 48 GiB) full-GCs rarely — an r14 session that ran 6
        # sf10 executions then sf100 reps in one JVM OOM'd in a
        # shuffle-heavy aggregate around rep 3 while the identical
        # fresh-JVM run completed clean. Halving the periodic-GC
        # interval (30 min default) bounds cross-execution
        # accumulation in long-lived sessions; a forced full GC on
        # an idle driver every 5 min is noise, one during a busy
        # window is far cheaper than the allocation stall it
        # prevents. Startup conf: ContextCleaner reads it once.
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"))
    )
    conf = {_UDS_ENABLED: str(uds).lower(), **extra_conf}
    uds_conf = _uds_conf(conf, _jvm_tmpdir(conf, os.environ))
    for k, v in {**_RUNTIME_CONF, **extra_conf, **uds_conf}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
