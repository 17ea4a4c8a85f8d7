"""Bench artifact locks, without a SparkSession.

r12's official BENCH_r12.json was ``parsed: null``: bench.py printed
its one JSON line and THEN called spark.stop(), whose Python-daemon
BrokenPipeError spew flooded the driver's 2,000-char combined tail
capture. r4's line overflowed that capture by itself. These tests lock
the line's delivery and size, and the per-row fold of the event log
into BENCH_LOCAL.json's ``layers``.
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_final_line_is_last_bytes_despite_stop_spew(tmp_path):
    """_emit_final_line: stop() spew (raw fd 2, like the pyspark
    daemon's BrokenPipe tracebacks) must not land after the JSON
    line — the line is the LAST bytes of combined output."""
    script = tmp_path / "emit.py"
    script.write_text(
        "import os, sys, json\n"
        "sys.path.insert(0, %r)\n"
        "import bench\n"
        "class FakeSpark:\n"
        "    def stop(self):\n"
        "        # mimic daemon tracebacks written to the raw fd\n"
        "        os.write(2, b'BrokenPipeError: [Errno 32]\\n' * 200)\n"
        "line = json.dumps({'metric': 'x', 'value': 1.0})\n"
        "bench._emit_final_line(line, FakeSpark())\n"
        % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True,
        timeout=50,
    )
    assert proc.returncode == 0
    combined = proc.stdout + proc.stderr
    tail = combined.rstrip("\n").rsplit("\n", 1)[-1]
    assert json.loads(tail) == {"metric": "x", "value": 1.0}
    # the spew itself must have been swallowed (fd 2 on /dev/null),
    # not merely preceded the line: 200 tracebacks would still flood
    # a 2,000-char tail capture if they landed on stderr at all
    assert "BrokenPipeError" not in combined


def test_final_line_fits_capture_with_every_row():
    """All 64 rows at a 5-char wall, the widest env a host gives: the
    line keeps its contract keys and every row, under 1,900 chars."""
    assert len(bench.BENCH_QUERIES) == 64
    names = list(bench.BENCH_QUERIES)
    env = {"load1": 123.45, "cached_gb": 1234.5}
    line = bench.final_line({
        "metric": "headline_queries_total_runtime",
        "value": 99.99 * len(names),
        "unit": "sec",
        "queries": dict.fromkeys(names, 99.99),
        "reps": dict.fromkeys(names, 7),
        "env_start": env,
        "env_end": env,
        "sf": 0.1,
    })
    assert len(line) < 1900
    got = json.loads(line)
    assert {"metric", "value", "unit", "queries", "env"} <= set(got)
    assert list(got["queries"]) == names
    assert set(got["queries"].values()) == {99.99}


def _job(job_id, group, stage_ids):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stage_ids,
            "Properties": {"spark.jobGroup.id": group}}


def _stage_done(stage_id):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage_id}}


def _task(stage_id, cpu_ms, bytes_read, rows_read, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Metrics": {
                "Executor CPU Time": cpu_ms * 1_000_000,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Input Metrics": {"Bytes Read": bytes_read,
                                  "Records Read": rows_read}}}


def test_row_layers_counts_only_the_timed_group(tmp_path):
    """Row x's layers are its bench-x counters over its reps: the
    warm-up group and the other groups are not counted."""
    events = [
        _job(0, "bench-warm-x", [0]), _stage_done(0),
        _task(0, 1000, 10_000, 500),
        _job(1, "bench-x", [1, 2]), _stage_done(1), _stage_done(2),
        _task(1, 40, 800, 20, shuffle=64), _task(1, 20, 400, 10),
        _task(2, 60, 0, 0),
        _job(2, "bench-x", [3]), _stage_done(3),
        _task(3, 80, 800, 30),
        _job(3, "bench-probe", [4]), _stage_done(4),
        _task(4, 7, 7, 7),
    ]
    (tmp_path / "local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    layers = bench.row_layers(str(tmp_path), {"x": 2})
    assert layers == {"x": {
        "jobs": 1.0, "stages": 1.5, "tasks": 2.0, "task_cpu_ms": 100.0,
        "shuffle_write_bytes": 32.0, "spill_bytes": 0.0,
        "input_bytes": 1000.0, "input_rows": 30.0,
        "scan_files": 0.0, "scan_partitions": 0.0}}
