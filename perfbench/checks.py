"""Correctness checks, computed apart from the engine.

Every function here takes the generator's data plus what the engine
returned, reduced to plain Python values, and returns a list of error
strings: empty means the output is correct. Nothing here imports
Spark, so the checks are tested on their own (tests/test_checks.py).
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

from gen import DAY_MS, EQ, NEQ, RE, START_MS

QUANTILE = 0.75
#: percentile_approx's default accuracy; its rank error is n / ACCURACY
ACCURACY = 10_000
MAX_SAMPLES = 8192
MIN_STEP_S = 10

_MAX_ERRORS = 5


def _cap(errors: list) -> list:
    if len(errors) > _MAX_ERRORS:
        return errors[:_MAX_ERRORS] + [f"... {len(errors) - _MAX_ERRORS} more"]
    return errors


# --- ingest --------------------------------------------------------------

def ingest_expected(data) -> dict:
    """Stored rows, dropped samples, and per-series / per-name / per-day
    (count, value sum) that a correct ingest of every landed request
    yields. Retried requests land twice, so their samples count twice."""
    fin = data.finite()
    m = data.mult
    w = np.where(fin, m, 0)
    cnt = np.bincount(data.sid, weights=w, minlength=len(data.labels))
    tot = np.bincount(data.sid, weights=np.where(fin, data.val * m, 0.0),
                      minlength=len(data.labels))
    series, names = {}, defaultdict(lambda: [0, 0.0])
    for s, lab in enumerate(data.labels):
        series[data.tags(s)] = (int(cnt[s]), float(tot[s]))
        names[lab["__name__"]][0] += int(cnt[s])
        names[lab["__name__"]][1] += float(tot[s])
    per_day = np.bincount((data.ts - START_MS) // DAY_MS, weights=w)
    days = {d: int(c) for d, c in enumerate(per_day) if c}
    return {
        "rows": int(w.sum()),
        "dropped": int(np.where(fin, 0, m).sum()),
        "series": series,
        "labels": {data.tags(s): dict(lab) for s, lab in enumerate(data.labels)},
        "names": {k: tuple(v) for k, v in names.items()},
        "days": days,
    }


def check_ingest(exp: dict, obs: dict) -> list:
    """``obs`` holds what the stored table says:

    - ``rows``: its row count;
    - ``series``: {tags tuple: (labels dict, count, value sum)};
    - ``names``: {name: (count, value sum)};
    - ``days``: {(date iso string, day index of ts): count}.
    """
    errors = []
    if obs["rows"] != exp["rows"]:
        errors.append(f"stored {obs['rows']} rows, expected {exp['rows']}")
    for key in sorted(set(exp["series"]) | set(obs["series"])):
        if key not in obs["series"]:
            errors.append(f"series {key} missing")
            continue
        if key not in exp["series"]:
            errors.append(f"unexpected series {key}")
            continue
        labels, n, s = obs["series"][key]
        if labels != exp["labels"][key]:
            errors.append(f"series {key}: labels {labels} do not give its tags")
        if (n, s) != exp["series"][key]:
            errors.append(f"series {key}: (count, sum) {(n, s)}, "
                          f"expected {exp['series'][key]}")
    if obs["names"] != exp["names"]:
        errors.append(f"per-name (count, sum) {obs['names']}, "
                      f"expected {exp['names']}")
    days = defaultdict(int)
    for (iso, day), n in obs["days"].items():
        want = _iso_day(day)
        if iso != want:
            errors.append(f"{n} rows with ts on {want} stored under date {iso}")
        days[day] += n
    if dict(days) != exp["days"]:
        errors.append(f"rows per day {dict(days)}, expected {exp['days']}")
    return _cap(errors)


def _iso_day(day: int) -> str:
    import datetime as dt

    d = dt.datetime.fromtimestamp((START_MS + day * DAY_MS) / 1000,
                                  tz=dt.timezone.utc).date()
    return d.isoformat()


# --- read ----------------------------------------------------------------

def step_s(start_ms: int, end_ms: int) -> int:
    return max((end_ms // 1000 - start_ms // 1000) // MAX_SAMPLES, MIN_STEP_S)


def _label_hit(typ: str, value: str, actual) -> bool:
    if typ in (EQ, NEQ):
        hit = actual is not None and actual in value.split("|")
    else:
        hit = actual is not None and re.fullmatch(value, actual) is not None
    return hit if typ in (EQ, RE) else not hit


def series_match(labels: dict, matchers) -> bool:
    for typ, label, value in matchers:
        if not _label_hit(typ, value, labels.get(label)):
            return False
    return True


class SeriesIndex:
    """Per-series sample arrays (time-sorted, finite samples only,
    repeated by multiplicity), so each query slices instead of
    scanning."""

    def __init__(self, data):
        fin = data.finite()
        self.data = data
        self.ts, self.val = {}, {}
        for s in range(len(data.labels)):
            sel = np.flatnonzero((data.sid == s) & fin)
            reps = data.mult[sel]
            self.ts[s] = np.repeat(data.ts[sel], reps)
            self.val[s] = np.repeat(data.val[sel], reps)


def expected_query(index: SeriesIndex, q) -> dict:
    """{tags: {bucket t (ms): sorted stored values}} for one query."""
    data = index.data
    step = step_s(q.start_ms, q.end_ms)
    out = {}
    for s, labels in enumerate(data.labels):
        if not series_match(labels, q.matchers):
            continue
        ts = index.ts[s]
        lo = np.searchsorted(ts, q.start_ms, side="left")
        hi = np.searchsorted(ts, q.end_ms, side="right")
        if hi <= lo:
            continue
        sec = ts[lo:hi] // 1000
        bucket = (sec - sec % step) * 1000
        vals = index.val[s][lo:hi]
        buckets = {}
        for t in np.unique(bucket):
            buckets[int(t)] = np.sort(vals[bucket == t])
        out[data.tags(s)] = buckets
    return out


def expected_request(index: SeriesIndex, req) -> dict:
    """Union of the request's queries, first query wins per bucket."""
    out = {}
    for q in req.queries:
        for tags, buckets in expected_query(index, q).items():
            mine = out.setdefault(tags, {})
            for t, vals in buckets.items():
                mine.setdefault(t, vals)
    return out


def rank_ok(vals: np.ndarray, v: float, q: float = QUANTILE) -> bool:
    """``v`` is one of ``vals`` and its rank is within the approximate
    quantile's error bound of ``q``."""
    n = vals.size
    lo = int(np.searchsorted(vals, v, side="left"))
    hi = int(np.searchsorted(vals, v, side="right"))
    if hi == lo:
        return False  # not one of the bucket's samples
    target = max(1, math.ceil(q * n))
    slack = n / ACCURACY
    # ranks lo+1..hi all hold v
    return lo + 1 - slack <= target <= hi + slack


def check_read_flat(exp: dict, rows) -> list:
    """``rows``: (cnt, t, name, tags tuple, value) from ``read_request``."""
    errors = []
    got = defaultdict(dict)
    for cnt, t, name, tags, value in rows:
        if t in got[tags]:
            errors.append(f"{tags}: bucket {t} returned twice")
        got[tags][t] = (cnt, value)
        if f"__name__={name}" not in tags:
            errors.append(f"{tags}: name column {name} disagrees with tags")
    errors += _compare_series(exp, got, with_cnt=True)
    return _cap(errors)


def check_read_response(exp: dict, resp: dict) -> list:
    """``resp``: the remote-read response dict from ``to_read_response``."""
    errors = []
    results = resp.get("results", [])
    if len(results) != 1:
        return [f"{len(results)} results, expected 1"]
    got = {}
    for series in results[0]["timeseries"]:
        tags = tuple(sorted(f"{l['name']}={l['value']}"
                            for l in series["labels"]))
        ts = [s["timestamp"] for s in series["samples"]]
        if ts != sorted(ts):
            errors.append(f"{tags}: samples not sorted by time")
        got[tags] = {s["timestamp"]: (None, s["value"])
                     for s in series["samples"]}
    errors += _compare_series(exp, got, with_cnt=False)
    return _cap(errors)


def _compare_series(exp: dict, got: dict, with_cnt: bool) -> list:
    errors = []
    if set(exp) != set(got):
        errors.append(f"series set: missing {sorted(set(exp) - set(got))[:3]}, "
                      f"unexpected {sorted(set(got) - set(exp))[:3]}")
    for tags in set(exp) & set(got):
        want, have = exp[tags], got[tags]
        if set(want) != set(have):
            errors.append(
                f"{tags}: buckets missing {sorted(set(want) - set(have))[:3]}, "
                f"unexpected {sorted(set(have) - set(want))[:3]}")
        for t in set(want) & set(have):
            vals = want[t]
            cnt, value = have[t]
            if with_cnt and cnt != vals.size:
                errors.append(f"{tags} @ {t}: cnt {cnt}, expected {vals.size}")
            if not rank_ok(vals, value):
                errors.append(f"{tags} @ {t}: value {value} is not a "
                              f"{QUANTILE} quantile of {vals.tolist()[:8]}")
    return errors


# --- rollup --------------------------------------------------------------

def expected_tiers(data, now_ms: int, tiers) -> dict:
    """{precision_s: {(tags, bucket ms): average}} from an independent
    last-write-wins (a retried sample is identical, so the winner is
    the sample itself) and average per tier window. ``tiers`` is a
    sequence of (age_s, precision_s)."""
    fin = data.finite()
    sid, ts, val = data.sid[fin], data.ts[fin], data.val[fin]
    ordered = sorted(tiers)
    out = {}
    for i, (age_s, prec) in enumerate(ordered):
        sel = ts < now_ms - age_s * 1000
        if i + 1 < len(ordered):
            sel &= ts >= now_ms - ordered[i + 1][0] * 1000
        sec = ts[sel] // 1000
        bucket = (sec - sec % prec) * 1000
        sums = defaultdict(float)
        counts = defaultdict(int)
        for s, b, v in zip(sid[sel].tolist(), bucket.tolist(), val[sel].tolist()):
            sums[(s, b)] += v
            counts[(s, b)] += 1
        out[prec] = {(data.tags(s), b): sums[(s, b)] / counts[(s, b)]
                     for (s, b) in sums}
    return out


def check_tier(prec: int, exp: dict, rows) -> list:
    """``rows``: (tags tuple, ts ms, val) read back from one tier table."""
    errors = []
    got = {}
    for tags, t, v in rows:
        if (tags, t) in got:
            errors.append(f"tier {prec}s: {tags} @ {t} twice")
        got[(tags, t)] = v
    missing = set(exp) - set(got)
    extra = set(got) - set(exp)
    if missing or extra:
        errors.append(f"tier {prec}s: {len(got)} rows, expected {len(exp)} "
                      f"({len(missing)} missing, {len(extra)} unexpected)")
    for k in set(exp) & set(got):
        if not math.isclose(got[k], exp[k], rel_tol=1e-12, abs_tol=1e-9):
            errors.append(f"tier {prec}s: {k} average {got[k]}, "
                          f"expected {exp[k]}")
    return _cap(errors)


def check_compaction(before: dict, after: dict, file_counts: dict,
                     target_files: int, rows_expected: int) -> list:
    """``before``/``after``: {'rows', 'checksum'} of the table;
    ``file_counts``: {partition: parquet files} after compaction."""
    errors = []
    if before != after:
        errors.append(f"compaction changed the table: {before} -> {after}")
    if after["rows"] != rows_expected:
        errors.append(f"{after['rows']} rows after compaction, "
                      f"expected {rows_expected}")
    off = {p: n for p, n in file_counts.items() if n != target_files}
    if off:
        errors.append(f"partitions not at {target_files} file(s): {off}")
    return _cap(errors)


# --- near-duplicates ---------------------------------------------------

def shingles(text: str, n: int = 3) -> set:
    words = " ".join(text.lower().split()).split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def sigma(j: float, k: int) -> float:
    """Standard deviation of a k-position MinHash Jaccard estimate."""
    return math.sqrt(max(j * (1 - j), 0.0) / k)


def p_candidate(j: float, bands: int, rows: int) -> float:
    """Chance that LSH banding makes a pair of Jaccard ``j`` a candidate."""
    return 1 - (1 - j ** rows) ** bands


def check_near_dup(texts: dict, planted: list, pairs, *, threshold: float,
                   num_hashes: int, bands: int, z: float = 4.0) -> list:
    """``texts``: {id: text}; ``planted``: groups of near-copies;
    ``pairs``: (id_a, id_b, est_jaccard) reported.

    - recall: planted pairs whose true Jaccard is above the threshold by
      ``z`` standard deviations are missed no more often than banding's
      collision probability predicts, plus ``z`` standard deviations;
    - precision: every reported pair's true Jaccard is within ``z``
      standard deviations of the estimate below the threshold.
    """
    errors = []
    sh = {}

    def j_of(a, b):
        for x in (a, b):
            if x not in sh:
                sh[x] = shingles(texts[x])
        return jaccard(sh[a], sh[b])

    rows = num_hashes // bands
    reported = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    mean_miss = var_miss = 0.0
    missed = 0
    for group in planted:
        for i, a in enumerate(group):
            for b in group[i + 1:]:
                j = j_of(a, b)
                if j - z * sigma(j, num_hashes) < threshold:
                    continue
                p = p_candidate(j, bands, rows)
                mean_miss += 1 - p
                var_miss += p * (1 - p)
                missed += (min(a, b), max(a, b)) not in reported
    allowed = mean_miss + z * math.sqrt(var_miss) + 1
    if missed > allowed:
        errors.append(f"missed {missed} planted pairs, allowed {allowed:.2f}")
    floor = threshold - z * sigma(threshold, num_hashes)
    for a, b, est in pairs:
        j = j_of(a, b)
        if j < floor:
            errors.append(f"pair ({a}, {b}) reported at est {est:.3f} "
                          f"but its Jaccard is {j:.3f} < {floor:.3f}")
    return _cap(errors)


def union_find_clusters(pairs) -> dict:
    """{id: min id of its component} over the reported pairs."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_clusters(pairs, clusters: dict) -> list:
    """``clusters``: {id: cluster} from ``dedup_clusters``."""
    want = union_find_clusters(pairs)
    if clusters == want:
        return []
    diff = [x for x in set(want) | set(clusters)
            if want.get(x) != clusters.get(x)]
    return _cap([f"id {x}: cluster {clusters.get(x)}, expected {want.get(x)}"
                 for x in sorted(diff)])
