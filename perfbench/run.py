"""Benchmark of the Prometheus round trip, end to end and layer by layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <ingest|read_mix> --seed <n> \\
        --seconds <s> --trace <0|1>

``--trace 0`` runs the workload: setup and warm-up rounds (together
``setup_s``), then timed rounds until ``--seconds`` have passed, and
reports the end-to-end metrics. ``--trace 1`` runs one traced pass over
every layer instead (see ``layers.py``) and reports the per-layer
metrics. Either way the last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Every file a run makes lives in its own directory under ``.perfbench/``
in the checkout, removed when the run ends; a traced run also leaves
its spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "remote_storage_adapter_spark"

sys.path.insert(0, str(HERE))


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc on a background thread.

    Each process counts its proportional set size, so pages shared
    between processes (a child forked from the JVM, shared libraries)
    count once in the total."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree() -> list:
        ppid = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    pass
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            frontier = [p for p, pp in ppid.items() if pp in frontier]
            tree += frontier
        return tree

    @staticmethod
    def _pss(pid: int) -> int:
        """Proportional set size in bytes; resident size where the
        kernel has no smaps_rollup."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError, IndexError):
            pass
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            return 0

    def sample(self) -> int:
        total = sum(self._pss(pid) for pid in self._tree())
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


class Tracer:
    """Spans around layer calls, kept in memory and written at the end:
    name, start, end (s since the run started), parent span, request."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, request=None):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": request,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def durations_ms(self, name: str) -> list:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["end"] is not None]


class Run:
    """One invocation: its directory, session, counts and checks."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
        self.tracer = Tracer() if self.traced else None
        self.attempted = 0
        self.failed = 0
        self.timed = True
        self.correct = True
        self.spark = None
        self.session_start_s = None
        self.event_log = self.dir / "eventlog"

    def path(self, *parts) -> str:
        p = self.dir.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        return str(p)

    # -- accounting ----------------------------------------------------

    def attempt(self, what: str, fn, *args, **kw):
        """Run one workload operation; an exception counts it as failed,
        with its traceback on stderr. Returns (ok, value)."""
        ok, value = guard(what, fn, *args, **kw)
        if self.timed:
            self.attempted += 1
            self.failed += not ok
        return ok, value

    def check(self, what: str, errors: list) -> None:
        if errors:
            self.correct = False
            print(f"perfbench: check failed: {what}:", file=sys.stderr)
            for e in errors:
                print(f"  {e}", file=sys.stderr)

    def span(self, name: str, request=None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, request)

    @contextlib.contextmanager
    def tagged(self, group: str):
        """Tag the Spark jobs run inside with a job group (traced runs)."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- session -------------------------------------------------------

    def start_session(self) -> None:
        cpus = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            mem_mb = int(f.readline().split()[1]) // 1024
        heap_mb = max(1024, min(4096, mem_mb // 8))
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # The session talks to its Python workers over Unix domain
        # sockets, named <dir>/.<uuid>.sock, and a socket path has at
        # most 107 bytes: a checkout deeper than about 64 characters
        # fails the session start with "AF_UNIX path too long". The
        # sockets stay in this run's directory but are named through
        # this process's working directory (the checkout's root), a
        # short path that means the same for the JVM and its workers.
        sock = self.path("s")
        os.makedirs(sock, exist_ok=True)
        sock_dir = f"/proc/{os.getpid()}/cwd/{os.path.relpath(sock, ROOT)}"
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_MASTER": f"local[{cpus}]",
            "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": self.path("local"),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": tmp,
        })
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.python.unix.domain.socket.dir": sock_dir,
            # a fixed heap and young generation: left to G1's sizing,
            # peak memory ranged 1.3-3.1 GB between runs of one workload.
            # No perf-data file (here and in SPARK_LAUNCHER_OPTS): a JVM
            # writes it under /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -Xmn{heap_mb // 4}m"
                " -XX:-UsePerfData"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from remote_storage_adapter_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def guard(what: str, fn, *args, **kw):
    """Run ``fn``; an exception is reported with its traceback on stderr
    and turned into (False, None)."""
    try:
        return True, fn(*args, **kw)
    except Exception:
        print(f"perfbench: {what} failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return False, None


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def median(xs):
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def measure(run: Run, wl) -> dict:
    """Setup plus the workload's warm-up rounds, then timed rounds until
    ``run.seconds`` have passed; end-to-end metrics of the timed rounds."""
    state = wl.setup(run)
    t_setup = _process_age_s()
    # warm-up operations are neither counted nor (unless a workload's
    # warm-up says otherwise) checked: every counted operation belongs
    # to a whole timed round
    run.timed = False
    if hasattr(wl, "warm_up"):
        wl.warm_up(run, state)
    else:
        for _ in range(wl.WARM_ROUNDS):
            wl.round(run, state)
    run.timed = True
    setup_s = _process_age_s()
    print(f"perfbench: {wl.NAME}: session {run.session_start_s:.2f} s, "
          f"set-up done at {t_setup:.2f} s, warm-up done at {setup_s:.2f} s",
          file=sys.stderr)
    results = []
    t0 = time.perf_counter()
    while True:
        results.append(wl.round(run, state))
        if time.perf_counter() - t0 >= run.seconds:
            break
    if hasattr(wl, "finish"):
        wl.finish(run, state)
    ops = [op for r in results for op in r]
    items = sum(op["items"] for op in ops)
    secs = sum(op["seconds"] for op in ops)
    lat = sorted(op["seconds"] * 1e3 for op in ops)
    print(f"perfbench: {wl.NAME}: {len(results)} timed rounds, {len(ops)} "
          f"timed ops; op ms {[round(op['seconds'] * 1e3, 1) for op in ops]}",
          file=sys.stderr)
    return {
        "setup_s": metric(setup_s, "s"),
        "items_per_s": metric(items / secs if secs else None, "1/s"),
        "op_p50_ms": metric(median(lat), "ms"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ next to {HERE.name}/: nothing to "
              f"benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.ALL:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.ALL)}", file=sys.stderr)
        return 2
    os.chdir(ROOT)  # the session's socket directory is named from here
    run = Run(args)
    # a terminated run still stops its session and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(run.dir, ignore_errors=True)
    run.dir.mkdir(parents=True)
    metrics, ok = {}, False
    try:
        with RssSampler() as rss:
            if guard("session start", run.start_session)[0]:
                if run.traced:
                    import layers

                    ok, state = guard("traced pass", layers.traced_pass, run)
                    guard("session stop", run.stop_session)
                    if ok:
                        ok, metrics = guard("event log", layers.metrics, run,
                                            state)
                else:
                    ok, metrics = guard(args.workload, measure, run,
                                        workloads.ALL[args.workload])
                    guard("session stop", run.stop_session)
        if run.traced:
            _write_trace(run)
        else:
            metrics = metrics or {}
            metrics["peak_rss_mb"] = metric(rss.peak / 1e6, "MB")
    finally:
        with contextlib.suppress(Exception):
            run.stop_session()
        shutil.rmtree(run.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            (ROOT / ".perfbench").rmdir()  # only if nothing else is kept
    if not ok and not run.failed:
        # set-up failed before any operation ran: report it as one
        run.attempted, run.failed = run.attempted + 1, run.failed + 1
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics or {},
    }))
    return 0


def _write_trace(run: Run) -> None:
    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{run.workload}-seed{run.seed}.json"
    path.write_text(json.dumps(run.tracer.spans))
    print(f"perfbench: spans written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
