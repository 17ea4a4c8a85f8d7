"""The workloads. Each is a closed loop: one client in this process
drives a ``local[nproc]`` session through the engine's public functions.

A workload has ``setup(run)``, which makes its inputs, and
``round(run, state)``, which runs one whole round of the same
operations and returns one record per timed operation:
``{"items": work done, "seconds": time taken}``. A ``warm_up(run,
state)``, where given, replaces the default warm-up of ``WARM_ROUNDS``
rounds; a ``finish(run, state)``, where given, runs after the timed
rounds. Each operation's output is checked against ``checks.py``,
outside the timed part.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import gen


def land(data, landing: str) -> int:
    """Land every request, retries included, as the gateway would;
    returns the number of samples landed."""
    from remote_storage_adapter_spark.streaming.ingest import (
        land_write_request,
    )

    n = 0
    for seq, r in enumerate(gen.landing_order(data)):
        idx = data.requests[r]
        land_write_request(landing, gen.write_request(data, idx), seq)
        n += idx.size
    return n


def drain(run, landing: str, table: str, checkpoint: str):
    """``stream_ingest(available_now=True, exactly_once=True)`` from
    ``landing`` into a fresh table; returns (query, seconds)."""
    from remote_storage_adapter_spark.streaming.ingest import stream_ingest

    with run.span("streaming.ingest.drain"):
        t0 = time.perf_counter()
        q = stream_ingest(run.spark, landing, [table], checkpoint,
                          available_now=True, exactly_once=True)
        q.awaitTermination()
        dt = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"ingest stream failed: {q.exception()}")
    return q, dt


def parquet_files(path: str) -> list:
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


def observe_table(spark, path: str) -> dict:
    """What the stored table says, in the shape ``check_ingest`` takes:
    one aggregate per (tags, labels, date, day of ts)."""
    import json
    from collections import defaultdict

    from pyspark.sql import functions as F

    day = F.floor((F.unix_millis("ts") - F.lit(gen.START_MS))
                  / F.lit(gen.DAY_MS)).cast("long")
    groups = (
        spark.read.parquet(path)
        .groupBy(
            "tags", "name",
            F.to_json(F.array_sort(F.map_entries("labels"))).alias("lj"),
            "date", day.alias("d"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
        .collect())
    series, labels_of = {}, {}
    names = defaultdict(lambda: [0, 0.0])
    days = defaultdict(int)
    for r in groups:
        key = tuple(r["tags"])
        labels = {e["key"]: e["value"] for e in json.loads(r["lj"])}
        if labels_of.setdefault(key, labels) != labels:
            labels_of[key] = "two label sets for one tags value"
        n, s = series.get(key, (0, 0.0))
        series[key] = (n + r["n"], s + r["s"])
        names[r["name"]][0] += r["n"]
        names[r["name"]][1] += r["s"]
        days[(r["date"].isoformat(), r["d"])] += r["n"]
    return {"rows": sum(n for n, _ in series.values()),
            "series": {k: (labels_of[k], *v) for k, v in series.items()},
            "names": {k: tuple(v) for k, v in names.items()},
            "days": dict(days)}


def prom_queries(req) -> list:
    from remote_storage_adapter_spark.plans import matchers as M

    return [M.PromQuery(q.start_ms, q.end_ms,
                        tuple(M.LabelMatcher(*m) for m in q.matchers))
            for q in req.queries]


class Tsdb:
    """Set-up shared by both workloads and the traced pass: generate,
    land."""

    @staticmethod
    def make(run) -> dict:
        data = gen.tsdb(run.seed)
        landing = run.path("landing")
        return {"data": data, "landing": landing,
                "landed": land(data, landing),
                "expected": checks.ingest_expected(data)}

    @staticmethod
    def stored(run, st: dict, name: str) -> str:
        """Ingest the landed requests into table ``name``."""
        table = run.path(name)
        drain(run, st["landing"], table, run.path(name + "_checkpoint"))
        return table


class Ingest:
    """Timed: draining the landed requests into a fresh table."""

    NAME = "ingest"
    WARM_ROUNDS = 2

    @staticmethod
    def setup(run) -> dict:
        st = Tsdb.make(run)
        st["k"] = 0
        st["unchecked"] = []
        return st

    @staticmethod
    def round(run, st: dict) -> list:
        st["k"] += 1
        table = run.path("ingest", f"t{st['k']}")
        checkpoint = run.path("ingest", f"c{st['k']}")
        ok, res = run.attempt("ingest drain", drain, run, st["landing"],
                              table, checkpoint)
        shutil.rmtree(checkpoint, ignore_errors=True)
        if not (ok and run.timed):
            shutil.rmtree(table, ignore_errors=True)
            return []
        st["unchecked"].append(table)
        return [{"items": st["landed"], "seconds": res[1]}]

    @staticmethod
    def finish(run, st: dict) -> None:
        """Check every timed drain's table, after the timed loop, so that
        no check runs between timed drains."""
        for table in st.pop("unchecked"):
            run.check("ingest", checks.check_ingest(
                st["expected"], observe_table(run.spark, table)))
            shutil.rmtree(table, ignore_errors=True)


class ReadMix:
    """Timed: each remote-read request of a fixed mix, from opening the
    stored table to the response."""

    NAME = "read_mix"

    @staticmethod
    def setup(run) -> dict:
        st = Tsdb.make(run)
        st["table"] = Tsdb.stored(run, st, "table")
        st["mix"] = gen.read_mix(run.seed, st["data"])
        index = checks.SeriesIndex(st["data"])
        st["want"] = [checks.expected_request(index, r) for r in st["mix"]]
        return st

    @staticmethod
    def request(run, table: str, req, i: int):
        """One request, from opening the table to the response."""
        from remote_storage_adapter_spark.plans import read as R

        with run.span("plans.read.request", request=i):
            t0 = time.perf_counter()
            df = run.spark.read.parquet(table)
            resp = R.to_read_response(R.assemble_series(
                R.read_request(df, prom_queries(req))))
            return resp, time.perf_counter() - t0

    @staticmethod
    def check_flat(run, st: dict, i: int) -> None:
        """Check the flat result of request ``i``, which alone carries
        ``cnt``."""
        from remote_storage_adapter_spark.plans import read as R

        req = st["mix"][i]
        rows = R.read_request(run.spark.read.parquet(st["table"]),
                              prom_queries(req)).collect()
        run.check(f"read {i} ({req.cls}, {req.window}) flat",
                  checks.check_read_flat(st["want"][i], [
                      (r["cnt"], r["t"], r["name"], tuple(r["tags"]),
                       r["value"]) for r in rows]))

    @staticmethod
    def warm_up(run, st: dict) -> None:
        """Half the mix: every matcher class and window, twice each. Each
        request is also checked on its flat result."""
        for i, req in enumerate(st["mix"]):
            if not req.warm:
                continue
            ok, res = run.attempt(f"read request {i}", ReadMix.request, run,
                                  st["table"], req, i)
            if ok:
                run.check(f"read {i} ({req.cls}, {req.window})",
                          checks.check_read_response(st["want"][i], res[0]))
                run.attempt(f"flat read {i}", ReadMix.check_flat, run, st, i)

    @staticmethod
    def round(run, st: dict) -> list:
        done = {}
        for i, req in enumerate(st["mix"]):
            ok, res = run.attempt(f"read request {i}", ReadMix.request, run,
                                  st["table"], req, i)
            if ok:
                done[i] = res
        # checked after the round, so that no check runs between requests
        for i, (resp, _) in done.items():
            req = st["mix"][i]
            run.check(f"read {i} ({req.cls}, {req.window})",
                      checks.check_read_response(st["want"][i], resp))
        return [{"items": 1, "seconds": dt} for _, dt in done.values()]


ALL = {w.NAME: w for w in (Ingest, ReadMix)}
