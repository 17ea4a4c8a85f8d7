"""The benchmark's own checks: each must accept a correct result and
refuse a deliberately corrupted one. No Spark session is needed.

Run from the root of the checkout: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

SMALL = gen.TsdbShape(slots=3, days=8, scrape_s=600, lifetime_h=(30, 60),
                      samples_per_request=50, retry_share=0.1,
                      nonfinite_share=0.02)


@pytest.fixture(scope="module")
def data():
    return gen.tsdb(7, SMALL)


# --- generator ---------------------------------------------------------

def test_generator_is_seeded(data):
    again = gen.tsdb(7, SMALL)
    assert np.array_equal(again.ts, data.ts)
    assert np.array_equal(again.val, data.val, equal_nan=True)
    assert again.labels == data.labels
    assert not np.array_equal(gen.tsdb(8, SMALL).val, data.val,
                              equal_nan=True)


def test_generator_plants_faults(data):
    assert (~data.finite()).any()
    assert data.retried and (data.mult == 2).any()
    landed = gen.landing_order(data)
    assert sorted(landed) == sorted(list(range(len(data.requests)))
                                    + data.retried)


def test_regex_must_not_depend_on_anchoring():
    gen._assert_anchor_free("host-0[12]", {"host-01", "host-02", "host-11"})
    with pytest.raises(ValueError):
        gen._assert_anchor_free("host-1", {"host-1", "host-11"})
    with pytest.raises(ValueError):
        gen._assert_anchor_free("ost-1", {"host-1"})


# --- ingest ------------------------------------------------------------

def stored_view(data, drop=None):
    """What a correct store holds, built sample by sample: every finite
    sample of every landed request. ``drop`` skips one stored row."""
    series, names, days, rows = {}, {}, {}, 0
    for r in gen.landing_order(data):
        for i in data.requests[r]:
            if not math.isfinite(data.val[i]):
                continue
            if drop is not None and (r, i) == drop:
                drop = None
                continue
            s = int(data.sid[i])
            tags = data.tags(s)
            lab, n, tot = series.get(tags, (dict(data.labels[s]), 0, 0.0))
            series[tags] = (lab, n + 1, tot + data.val[i])
            name = data.labels[s]["__name__"]
            n, tot = names.get(name, (0, 0.0))
            names[name] = (n + 1, tot + data.val[i])
            day = int((data.ts[i] - gen.START_MS) // gen.DAY_MS)
            key = (checks._iso_day(day), day)
            days[key] = days.get(key, 0) + 1
            rows += 1
    return {"rows": rows, "series": series, "names": names, "days": days}


def test_ingest_check_accepts_a_correct_store(data):
    exp = checks.ingest_expected(data)
    assert checks.check_ingest(exp, stored_view(data)) == []
    assert exp["dropped"] == int(data.mult[~data.finite()].sum())


def test_ingest_check_refuses_a_dropped_sample(data):
    r = data.retried[0]
    i = next(i for i in data.requests[r] if math.isfinite(data.val[i]))
    errors = checks.check_ingest(checks.ingest_expected(data),
                                 stored_view(data, drop=(r, i)))
    assert any("rows" in e for e in errors)


def test_ingest_check_refuses_a_wrong_date(data):
    obs = stored_view(data)
    (iso, day), n = next(iter(obs["days"].items()))
    del obs["days"][(iso, day)]
    obs["days"][(checks._iso_day(day + 1), day)] = n
    assert checks.check_ingest(checks.ingest_expected(data), obs)


def test_ingest_check_refuses_tags_that_disagree_with_labels(data):
    obs = stored_view(data)
    tags = next(iter(obs["series"]))
    lab, n, tot = obs["series"][tags]
    obs["series"][tags] = (dict(lab, job="other"), n, tot)
    assert checks.check_ingest(checks.ingest_expected(data), obs)


# --- read --------------------------------------------------------------

def correct_rows(want):
    """Flat rows a correct engine returns: the ceil(0.75 n)-th value."""
    rows = []
    for tags, buckets in want.items():
        name = dict(t.split("=", 1) for t in tags)["__name__"]
        for t, vals in buckets.items():
            v = vals[max(1, math.ceil(0.75 * vals.size)) - 1]
            rows.append((int(vals.size), t, name, tags, float(v)))
    return rows


def response(rows):
    series = {}
    for _, t, _, tags, v in rows:
        series.setdefault(tags, []).append({"timestamp": t, "value": v})
    return {"results": [{"timeseries": [
        {"labels": [{"name": x.split("=", 1)[0], "value": x.split("=", 1)[1]}
                    for x in tags],
         "samples": sorted(s, key=lambda p: p["timestamp"])}
        for tags, s in series.items()]}]}


@pytest.fixture(scope="module")
def read_case():
    # a 15 s scrape puts several samples in each full-range bucket
    data = gen.tsdb(7, gen.TsdbShape(slots=2, scrape_s=15))
    index = checks.SeriesIndex(data)
    q = gen.Query(gen.START_MS, data.end_ms,
                  ((gen.RE, "__name__", "|".join(gen.NAMES)),))
    req = gen.ReadRequest("all", "full", (q,), warm=False)
    want = checks.expected_request(index, req)
    assert want and any(v.size >= 4 for b in want.values() for v in b.values())
    return req, want


def test_read_checks_accept_a_correct_result(read_case):
    _, want = read_case
    rows = correct_rows(want)
    assert checks.check_read_flat(want, rows) == []
    assert checks.check_read_response(want, response(rows)) == []


def test_read_checks_refuse_a_bucket_shifted_by_one_step(read_case):
    req, want = read_case
    q = req.queries[0]
    step_ms = checks.step_s(q.start_ms, q.end_ms) * 1000
    rows = correct_rows(want)
    cnt, t, name, tags, v = rows[0]
    rows[0] = (cnt, t + step_ms, name, tags, v)
    assert checks.check_read_flat(want, rows)
    assert checks.check_read_response(want, response(rows))


def test_read_checks_refuse_a_quantile_outside_its_rank_bound(read_case):
    _, want = read_case
    rows = correct_rows(want)
    k = next(k for k, r in enumerate(rows) if r[0] >= 4)
    cnt, t, name, tags, _ = rows[k]
    rows[k] = (cnt, t, name, tags, float(want[tags][t][0]))  # the minimum
    assert checks.check_read_flat(want, rows)
    assert checks.check_read_response(want, response(rows))


def test_read_check_refuses_a_wrong_cnt_and_a_missing_series(read_case):
    _, want = read_case
    rows = correct_rows(want)
    cnt, t, name, tags, v = rows[0]
    assert checks.check_read_flat(want, [(cnt + 1, t, name, tags, v)]
                                  + rows[1:])
    assert checks.check_read_flat(want, [r for r in rows if r[3] != tags])


def test_rank_bound():
    vals = np.array([1.0, 2.0, 3.0, 4.0])
    assert checks.rank_ok(vals, 3.0)
    assert not checks.rank_ok(vals, 4.0)
    assert not checks.rank_ok(vals, 2.5)  # not one of the samples
    assert checks.rank_ok(np.array([1.0, 2.0]), 2.0)
    assert not checks.rank_ok(np.array([1.0, 2.0]), 1.0)
    assert checks.rank_ok(np.array([5.0, 5.0, 5.0]), 5.0)


def test_step_follows_the_range():
    assert checks.step_s(0, 3_600_000) == 10
    assert checks.step_s(0, 7 * gen.DAY_MS) == 7 * 86_400 // 8192


def test_matchers_follow_the_reference_semantics():
    lab = {"__name__": "go_goroutines", "job": "api"}
    assert checks.series_match(lab, ((gen.EQ, "job", "db|api"),))
    assert not checks.series_match(lab, ((gen.NEQ, "job", "db|api"),))
    assert checks.series_match(lab, ((gen.NEQ, "absent", "x"),))
    assert not checks.series_match(lab, ((gen.EQ, "absent", "x"),))
    assert checks.series_match(lab, ((gen.NRE, "absent", "x"),))


# --- rollup ------------------------------------------------------------

TIERS = ((0, 10), (86_400, 30), (172_800, 300))


def tier_rows(want):
    return [(tags, t, v) for (tags, t), v in want.items()]


def test_tier_check(data):
    want = checks.expected_tiers(data, data.end_ms, TIERS)
    assert all(want[p] for _, p in TIERS)
    for _, p in TIERS:
        assert checks.check_tier(p, want[p], tier_rows(want[p])) == []
    rows = tier_rows(want[300])
    tags, t, v = rows[0]
    assert checks.check_tier(300, want[300], [(tags, t, v + 0.25)] + rows[1:])
    assert checks.check_tier(300, want[300], rows[1:])
    assert checks.check_tier(300, want[300], [(tags, t + 300_000, v)] + rows[1:])


def test_tier_windows_split_the_samples(data):
    want = checks.expected_tiers(data, data.end_ms, TIERS)
    fin = data.finite()
    # last-write-wins leaves one row per sample, and with a 600 s scrape
    # each 10 s bucket holds one sample: the averages sum to the values
    total = sum(want[10].values())
    recent = fin & (data.ts >= data.end_ms - 86_400_000)
    assert total == pytest.approx(data.val[recent].sum())


def test_compaction_check():
    same = {"rows": 10, "checksum": 123}
    assert checks.check_compaction(same, dict(same), {"date=a": 1}, 1, 10) == []
    assert checks.check_compaction(same, {"rows": 10, "checksum": 124},
                                   {"date=a": 1}, 1, 10)
    assert checks.check_compaction(same, dict(same), {"date=a": 2}, 1, 10)
    assert checks.check_compaction(same, dict(same), {"date=a": 1}, 1, 11)


# --- near-duplicates ---------------------------------------------------

@pytest.fixture(scope="module")
def corpus():
    return gen.corpus(5, gen.CorpusShape(docs=60, groups=20))


def true_pairs(c, threshold=0.5):
    texts = dict(zip(c.ids, c.texts))
    out = []
    for g in c.planted:
        for i, a in enumerate(g):
            for b in g[i + 1:]:
                j = checks.jaccard(checks.shingles(texts[a]),
                                   checks.shingles(texts[b]))
                if j >= threshold:
                    out.append((a, b, j))
    return texts, out


def test_near_dup_check(corpus):
    texts, pairs = true_pairs(corpus)
    assert len(pairs) >= 10
    kw = {"threshold": 0.5, "num_hashes": 64, "bands": 16}
    assert checks.check_near_dup(texts, corpus.planted, pairs, **kw) == []
    assert checks.check_near_dup(texts, corpus.planted, [], **kw)
    unrelated = (corpus.ids[0], corpus.ids[1], 0.9)
    assert checks.check_near_dup(texts, corpus.planted, pairs + [unrelated],
                                 **kw)


def test_shingles_follow_the_engine_normalization():
    assert checks.shingles("A  b\tC d") == {"a b c", "b c d"}
    assert checks.shingles("one two") == {"one two"}


def test_cluster_check_refuses_two_merged_clusters():
    pairs = [(1, 2, 0.9), (2, 3, 0.8), (7, 9, 0.7)]
    good = {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    assert checks.union_find_clusters(pairs) == good
    assert checks.check_clusters(pairs, good) == []
    merged = {**good, 7: 1, 9: 1}
    assert checks.check_clusters(pairs, merged)
    assert checks.check_clusters(pairs, {k: v for k, v in good.items()
                                         if k != 9})


# --- event log ---------------------------------------------------------

def test_event_log_counters(tmp_path):
    scan = {"nodeName": "Scan parquet ", "children": [], "metrics": [
        {"name": "number of files read", "accumulatorId": 11},
        {"name": "number of partitions read", "accumulatorId": 12}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "plans.read.r0",
                        "spark.sql.execution.id": "4"}},
        {"Event": eventlog.SQL_START, "executionId": 4,
         "sparkPlanInfo": {"nodeName": "WholeStageCodegen (1)",
                           "children": [scan], "metrics": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 3_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Input Metrics": {"Bytes Read": 100,
                                            "Records Read": 40}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": eventlog.SQL_DRIVER_ACCUM, "executionId": 4,
         "accumUpdates": [[11, 3], [12, 2]]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "probe.x"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor CPU Time": 1_000_000}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    groups = eventlog.group_counters(str(tmp_path))
    rec = eventlog.total(groups, "plans.read")
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (1, 1, 1)
    assert rec["task_cpu_ms"] == 3
    assert rec["shuffle_write_bytes"] == 7
    assert (rec["input_bytes"], rec["input_rows"]) == (100, 40)
    assert (rec["scan_files"], rec["scan_partitions"]) == (3, 2)
    assert eventlog.total(groups, "probe")["task_cpu_ms"] == 1
    assert eventlog.total(groups, "plans.rea")["jobs"] == 0
