"""The traced pass (``--trace 1``): one run through every layer, with a
span around each layer call and Spark's event log on, reporting the
per-layer metrics of BENCHMARK.json.

Each layer call is tagged with a job group named after its layer, so
the event log's job, stage, task and scan counters fold into per-layer
records (``eventlog.py``). Calls the benchmark makes only to measure or
check (a flatten count, a checksum, the candidate count) are tagged
``probe.*`` and fall outside every layer. The pass checks its outputs
like the workloads do, plus two totals reached by independent paths:
the input rows in the ingest progress events against the requests
landed, and each read's scanned rows against the generator's counts.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import checks
import eventlog
import gen
import workloads as W
from run import median, metric

BATCH_FILES = 64  # stream_ingest's default max_files_per_trigger

#: The reference's rollup tiers as (age_s, precision_s), stated apart
#: from the engine's defaults so that the checks stay independent.
#: Rollups run at ``now_ms`` = the end of the data, so every tier's age
#: window holds rows.
TIERS = ((0, 10), (86_400, 30), (172_800, 300))

#: minhash_lsh_pairs defaults, which the checks need to size their bounds
THRESHOLD, NUM_HASHES, BANDS = 0.5, 64, 16


def checksum(spark, path: str) -> dict:
    """Row count and an order-independent checksum of (name, tags, ts, val)."""
    from pyspark.sql import functions as F

    h = F.xxhash64("name", "tags", "ts", "val").cast("decimal(38,0)")
    r = spark.read.parquet(path).agg(F.count(F.lit(1)).alias("n"),
                                     F.sum(h).alias("h")).first()
    return {"rows": r["n"], "checksum": int(r["h"] or 0)}


def tier_rows(spark, path: str) -> list:
    from pyspark.sql import functions as F

    return [(tuple(r["tags"]), r["t"], r["val"]) for r in
            spark.read.parquet(path)
            .select("tags", F.unix_millis("ts").alias("t"), "val").collect()]


def traced_pass(run) -> dict:
    """Run every layer once; returns what ``metrics`` needs."""
    st = {"reads": []}
    tsdb = W.Tsdb.make(run)
    data = tsdb["data"]
    st["expected"] = tsdb["expected"]
    st["requests_landed"] = len(gen.landing_order(data))
    table = W.Tsdb.stored(run, tsdb, "table")  # cold: warms the JVM
    _streaming(run, st, tsdb)
    _sink(run, st, tsdb)
    _reads(run, st, data, table)
    _compact_rollup(run, st, data, table)
    _dedup(run, st)
    return st


def _streaming(run, st: dict, tsdb: dict) -> None:
    """streaming.ingest: a second, warm drain; its progress events."""
    ok, res = run.attempt("traced drain", W.drain, run, tsdb["landing"],
                          run.path("stream2"), run.path("stream2_checkpoint"))
    if not ok:
        return
    q, dt = res
    st["progress"] = [(p.numInputRows, dict(p.durationMs))
                      for p in q.recentProgress]
    print(f"perfbench: traced drain {tsdb['landed'] / dt:.1f} samples/s",
          file=sys.stderr)
    rows = sum(n for n, _ in st["progress"])
    if rows != st["requests_landed"]:
        run.check("ingest progress", [
            f"progress events count {rows} input rows, but "
            f"{st['requests_landed']} requests were landed"])
    shutil.rmtree(run.path("stream2"), ignore_errors=True)


def _sink(run, st: dict, tsdb: dict) -> None:
    """operators.ingest: the sink's own functions on the stream's
    batches (the landed files in order, BATCH_FILES at a time)."""
    from remote_storage_adapter_spark.operators.ingest import (
        flatten_write_requests, ingest_batch, write_metrics_exactly_once)
    from remote_storage_adapter_spark.schema import WRITE_REQUEST_SCHEMA

    files = sorted(glob.glob(os.path.join(tsdb["landing"], "*.json")))
    table = run.path("sink")
    dropped = 0

    def one(b: int, chunk: list) -> int:
        raw = run.spark.read.schema(WRITE_REQUEST_SCHEMA).json(chunk)
        with run.tagged("probe.flatten"):
            n_in = flatten_write_requests(raw).count()
        with run.tagged("operators.ingest.batch"), \
                run.span("operators.ingest.ingest_batch", request=b):
            metrics = ingest_batch(raw).persist()
            n_out = metrics.count()
        with run.tagged("operators.ingest.write"), \
                run.span("operators.ingest.write", request=b):
            write_metrics_exactly_once(metrics, table, b)
        metrics.unpersist()
        return n_in - n_out

    for b in range(0, len(files), BATCH_FILES):
        ok, n = run.attempt(f"sink batch {b // BATCH_FILES}", one,
                            b // BATCH_FILES, files[b:b + BATCH_FILES])
        dropped += n if ok else 0
    written = W.parquet_files(table)
    st["sink"] = {"dropped": dropped, "files": len(written),
                  "bytes": sum(os.path.getsize(f) for f in written)}
    if dropped != st["expected"]["dropped"]:
        run.check("sink drops", [
            f"the sink dropped {dropped} samples, the generator planted "
            f"{st['expected']['dropped']} non-finite ones"])
    run.check("sink table", checks.check_ingest(
        st["expected"], W.observe_table(run.spark, table)))


def _scan_bounds(index: checks.SeriesIndex, req) -> tuple:
    """(stored samples the request's queries match, stored samples in
    the date partitions their windows cover), from the generator."""
    data = index.data

    def day_start(ms):
        return gen.START_MS + (ms - gen.START_MS) // gen.DAY_MS * gen.DAY_MS

    lo = hi = 0
    for q in req.queries:
        for s, labels in enumerate(data.labels):
            ts = index.ts[s]
            if checks.series_match(labels, q.matchers):
                lo += int(((ts >= q.start_ms) & (ts <= q.end_ms)).sum())
        d0, d1 = day_start(q.start_ms), day_start(q.end_ms) + gen.DAY_MS
        hi += sum(int(((t >= d0) & (t < d1)).sum())
                  for t in index.ts.values())
    return lo, hi


def _reads(run, st: dict, data, table: str) -> None:
    """plans.matchers and plans.read over the read mix: per request, the
    table open (listing), a count of the matcher filter alone, the
    query (cached) and the response."""
    from remote_storage_adapter_spark.plans import matchers as M
    from remote_storage_adapter_spark.plans import read as R

    mix = gen.read_mix(run.seed, data)
    index = checks.SeriesIndex(data)

    def one(i: int, req) -> dict:
        qs = W.prom_queries(req)
        with run.span("plans.read.request", request=i):
            with run.span("plans.matchers.open", request=i):
                df = run.spark.read.parquet(table)
            with run.tagged(f"plans.matchers.r{i}"), \
                    run.span("plans.matchers.scan", request=i):
                matched = sum(M.apply(df, q).count() for q in qs)
            with run.tagged(f"plans.read.r{i}"):
                with run.span("plans.read.query", request=i):
                    flat = R.read_request(df, qs).persist()
                    rows = flat.collect()
                with run.span("plans.read.response", request=i):
                    resp = R.to_read_response(R.assemble_series(flat))
            flat.unpersist()
        return {"matched": matched, "rows": rows, "resp": resp}

    for i, req in enumerate(mix):
        ok, res = run.attempt(f"traced read {i}", one, i, req)
        if not ok:
            continue
        want = checks.expected_request(index, req)
        what = f"read {i} ({req.cls}, {req.window})"
        run.check(what, checks.check_read_response(want, res["resp"]))
        run.check(what + " flat", checks.check_read_flat(want, [
            (r["cnt"], r["t"], r["name"], tuple(r["tags"]), r["value"])
            for r in res["rows"]]))
        series = res["resp"]["results"][0]["timeseries"]
        st["reads"].append({
            "i": i, "matched": res["matched"],
            "bounds": _scan_bounds(index, req),
            "series": len(series),
            "samples": sum(len(s["samples"]) for s in series)})


def _compact_rollup(run, st: dict, data, table: str) -> None:
    """plans.compact then plans.rollup, split into the LWW pass, each
    tier's aggregate and the tier writes, on a copy of the table."""
    from remote_storage_adapter_spark.operators.ingest import write_metrics
    from remote_storage_adapter_spark.plans.compact import (
        compact_table, partition_file_counts)
    from remote_storage_adapter_spark.plans.rollup import lww_dedup, run_tiers

    copy = run.path("rollup", "t")
    shutil.copytree(table, copy)
    with run.tagged("probe.checksum"):
        before = checksum(run.spark, copy)
    files_before = sum(partition_file_counts(copy).values())

    def compact():
        with run.tagged("plans.compact"), run.span("plans.compact.table"):
            return compact_table(run.spark, copy)

    ok, res = run.attempt("traced compaction", compact)
    if not ok:
        return
    with run.tagged("probe.checksum"):
        after = checksum(run.spark, copy)
    counts = partition_file_counts(copy)
    run.check("compaction", checks.check_compaction(
        before, after, counts, 1, st["expected"]["rows"]))
    st["compact"] = {"rewritten": sum(v is not None for v in res.values()),
                     "files_before": files_before,
                     "files_after": sum(counts.values())}

    now_ms = data.end_ms
    want = checks.expected_tiers(data, now_ms, TIERS)
    out = run.path("rollup", "tiers")

    def roll() -> dict:
        df = run.spark.read.parquet(copy)
        with run.tagged("plans.rollup.lww"), run.span("plans.rollup.lww"):
            n_lww = lww_dedup(df).count()
        tiers = run_tiers(df, now_ms=now_ms)
        rows_out = 0
        for prec, tdf in tiers.items():
            with run.tagged(f"plans.rollup.tier{prec}"), \
                    run.span(f"plans.rollup.tier_{prec}s"):
                tiers[prec] = tdf.persist()
                rows_out += tiers[prec].count()
        for prec, tdf in tiers.items():
            with run.tagged("plans.rollup.write"), \
                    run.span("plans.rollup.write"):
                write_metrics(tdf, os.path.join(out, f"tier{prec}"))
            tdf.unpersist()
        return {"rows_in": after["rows"], "lww": n_lww, "rows_out": rows_out}

    ok, res = run.attempt("traced rollup", roll)
    if not ok:
        return
    st["rollup"] = res
    distinct = int(data.finite().sum())
    if res["lww"] != distinct:
        run.check("lww", [f"lww_dedup kept {res['lww']} rows, expected "
                          f"{distinct} distinct samples"])
    for prec, rows in want.items():
        run.check(f"tier {prec}s", checks.check_tier(
            prec, rows, tier_rows(run.spark, os.path.join(out, f"tier{prec}"))))


def _dedup(run, st: dict) -> None:
    """operators.dedup, split into signatures, pairs and clusters."""
    from remote_storage_adapter_spark.operators.dedup import (
        cache_scope, dedup_clusters, minhash_lsh_pairs, minhash_signatures_for)

    corpus = gen.corpus(run.seed)
    docs_path = run.path("docs")
    run.spark.createDataFrame(
        list(zip(corpus.ids, corpus.texts)), "doc_id long, text string",
    ).write.parquet(docs_path)

    def one() -> dict:
        with cache_scope():
            docs = run.spark.read.parquet(docs_path)
            with run.tagged("operators.dedup.signature"), \
                    run.span("operators.dedup.signature"):
                sigs = minhash_signatures_for(docs).persist()
                sigs.count()
            with run.tagged("probe.candidates"):
                candidates = minhash_lsh_pairs(docs, threshold=0.0,
                                               sigs=sigs).count()
            with run.tagged("operators.dedup.pairs"), \
                    run.span("operators.dedup.pairs"):
                pairs_df = minhash_lsh_pairs(docs, sigs=sigs).persist()
                pairs = [(r["id_a"], r["id_b"], r["est_jaccard"])
                         for r in pairs_df.collect()]
            with run.tagged("operators.dedup.clusters"), \
                    run.span("operators.dedup.clusters"):
                clusters = {r["id"]: r["cluster"]
                            for r in dedup_clusters(pairs_df).collect()}
            pairs_df.unpersist()
            sigs.unpersist()
        return {"candidates": candidates, "pairs": pairs,
                "clusters": clusters}

    ok, res = run.attempt("traced near-dup", one)
    if not ok:
        return
    run.check("near-dup pairs", checks.check_near_dup(
        dict(zip(corpus.ids, corpus.texts)), corpus.planted, res["pairs"],
        threshold=THRESHOLD, num_hashes=NUM_HASHES, bands=BANDS))
    run.check("near-dup clusters",
              checks.check_clusters(res["pairs"], res["clusters"]))
    st["dedup"] = {"candidates": res["candidates"],
                   "kept": len(res["pairs"])}


def metrics(run, st: dict) -> dict:
    """Per-layer metrics, from the spans, the pass's records and the
    event log (read after the session stopped, so it is complete)."""
    groups = eventlog.group_counters(str(run.event_log))
    tr = run.tracer
    out = {"session.start_s": metric(run.session_start_s, "s")}

    def p50(name):
        return median(tr.durations_ms(name))

    def total(name):
        return sum(tr.durations_ms(name))

    prog = st.get("progress", [])
    add = [d.get("addBatch", 0) for _, d in prog]
    trig = [d.get("triggerExecution", 0) for _, d in prog]
    out.update({
        "streaming.ingest.batches": metric(len(prog), "count"),
        "streaming.ingest.input_rows": metric(sum(n for n, _ in prog), "count"),
        "streaming.ingest.add_batch_ms": metric(sum(add), "ms"),
        "streaming.ingest.trigger_overhead_ms": metric(sum(trig) - sum(add), "ms"),
        "streaming.ingest.batch_ms_p50": metric(median(trig), "ms"),
    })

    sink = st.get("sink", {})
    ing = eventlog.total(groups, "operators.ingest")
    rows = st["expected"]["rows"]
    out.update({
        "operators.ingest.ingest_batch_ms": metric(
            total("operators.ingest.ingest_batch"), "ms"),
        "operators.ingest.write_ms": metric(total("operators.ingest.write"), "ms"),
        "operators.ingest.samples_dropped": metric(sink.get("dropped"), "count"),
        "operators.ingest.files_written": metric(sink.get("files"), "count"),
        "operators.ingest.bytes_written": metric(sink.get("bytes"), "B"),
        "operators.ingest.bytes_per_sample": metric(
            sink["bytes"] / rows if sink else None, "B/sample"),
        "operators.ingest.shuffle_bytes": metric(ing["shuffle_write_bytes"], "B"),
        "operators.ingest.task_cpu_ms": metric(ing["task_cpu_ms"], "ms"),
    })

    reads = st["reads"]
    n_req = len(reads) or None
    match = eventlog.total(groups, "plans.matchers")
    scanned = match["input_rows"]
    matched = sum(r["matched"] for r in reads)
    for r in reads:
        got = groups.get(f"plans.matchers.r{r['i']}", {}).get("input_rows", 0)
        lo, hi = r["bounds"]
        if not lo <= got <= hi:
            run.check(f"read {r['i']} rows scanned", [
                f"scanned {got} rows, outside [{lo}, {hi}]: the matching "
                f"samples and the samples in the window's date partitions"])
    out.update({
        "plans.matchers.listing_ms": metric(p50("plans.matchers.open"), "ms"),
        "plans.matchers.partitions_read": metric(match["scan_partitions"], "count"),
        "plans.matchers.files_read": metric(match["scan_files"], "count"),
        "plans.matchers.bytes_read": metric(match["input_bytes"], "B"),
        "plans.matchers.rows_scanned": metric(scanned, "count"),
        "plans.matchers.rows_matched": metric(matched, "count"),
        "plans.matchers.selectivity": metric(
            matched / scanned if scanned else None, "ratio"),
    })
    rd = eventlog.total(groups, "plans.read")
    out.update({
        "plans.read.query_ms_p50": metric(p50("plans.read.query"), "ms"),
        "plans.read.response_ms_p50": metric(p50("plans.read.response"), "ms"),
        "plans.read.jobs_per_request": metric(
            rd["jobs"] / n_req if n_req else None, "count"),
        "plans.read.stages_per_request": metric(
            rd["stages"] / n_req if n_req else None, "count"),
        "plans.read.exchange_bytes": metric(rd["shuffle_write_bytes"], "B"),
        "plans.read.task_cpu_ms": metric(rd["task_cpu_ms"], "ms"),
        "plans.read.series_returned": metric(
            sum(r["series"] for r in reads), "count"),
        "plans.read.samples_returned": metric(
            sum(r["samples"] for r in reads), "count"),
    })

    cp = st.get("compact", {})
    out.update({
        "plans.compact.ms": metric(total("plans.compact.table"), "ms"),
        "plans.compact.partitions_rewritten": metric(cp.get("rewritten"), "count"),
        "plans.compact.files_before": metric(cp.get("files_before"), "count"),
        "plans.compact.files_after": metric(cp.get("files_after"), "count"),
        "plans.compact.jobs": metric(
            eventlog.total(groups, "plans.compact")["jobs"], "count"),
    })
    ru = st.get("rollup", {})
    rl = eventlog.total(groups, "plans.rollup")
    out.update({
        "plans.rollup.lww_ms": metric(total("plans.rollup.lww"), "ms"),
        **{f"plans.rollup.tier_{p}s_ms": metric(total(f"plans.rollup.tier_{p}s"),
                                                "ms") for _, p in TIERS},
        "plans.rollup.write_ms": metric(total("plans.rollup.write"), "ms"),
        "plans.rollup.rows_in": metric(ru.get("rows_in"), "count"),
        "plans.rollup.rows_out": metric(ru.get("rows_out"), "count"),
        "plans.rollup.duplicates_removed": metric(
            ru["rows_in"] - ru["lww"] if ru else None, "count"),
        "plans.rollup.exchange_bytes": metric(rl["shuffle_write_bytes"], "B"),
        "plans.rollup.spill_bytes": metric(rl["spill_bytes"], "B"),
    })
    dd = st.get("dedup", {})
    out.update({
        "operators.dedup.signature_ms": metric(
            total("operators.dedup.signature"), "ms"),
        "operators.dedup.pairs_ms": metric(total("operators.dedup.pairs"), "ms"),
        "operators.dedup.candidate_pairs": metric(dd.get("candidates"), "count"),
        "operators.dedup.pairs_kept": metric(dd.get("kept"), "count"),
        "operators.dedup.clusters_ms": metric(
            total("operators.dedup.clusters"), "ms"),
        "operators.dedup.cc_jobs": metric(
            eventlog.total(groups, "operators.dedup.clusters")["jobs"], "count"),
        "operators.dedup.shuffle_bytes": metric(
            eventlog.total(groups, "operators.dedup")["shuffle_write_bytes"], "B"),
    })
    return out
