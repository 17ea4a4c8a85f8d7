"""Seeded inputs for the benchmark: Prometheus-shaped series, the
remote-write requests that carry them, a remote-read request mix, and a
document corpus with planted near-duplicate groups.

Everything here is plain Python/numpy and depends only on the seed, so
the checks in ``checks.py`` can recompute every expected output without
the engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

START_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
DAY_MS = 86_400_000
HOUR_MS = 3_600_000

#: No name contains another, so unanchored, start-anchored and fully
#: anchored name regexes select the same series.
NAMES = (
    "node_cpu_seconds_total",
    "http_requests_total",
    "process_resident_memory_bytes",
    "go_goroutines",
)
JOBS = ("node", "api", "db")


@dataclass(frozen=True)
class TsdbShape:
    """``slots`` series are live at any time. Slot ``s`` has name
    ``NAMES[s % 4]``, job ``JOBS[s % 3]`` and instance ``host-<s>``
    (fixed width, so regex prefixes are exact). Its series is a pod that
    lives ``lifetime_h`` hours (uniform) and is then replaced by a new
    pod, so the high-cardinality ``pod`` label churns while each slot
    keeps a steady sample rate.

    A request carries ``samples_per_request`` consecutive samples in
    time order: every live series at each of about 31 scrape times.
    Prometheus caps a request at ``max_samples_per_send`` (2,000 by
    default); 1,000 here lands about 380 files, so a drain spans six
    triggers of 64 files."""

    slots: int = 32
    days: int = 8
    scrape_s: int = 60
    lifetime_h: tuple = (12, 72)
    nonfinite_share: float = 0.005
    retry_share: float = 0.03
    samples_per_request: int = 1000


@dataclass
class TsdbData:
    """All generated samples, time-ordered, plus how they were landed.

    ``mult`` is how many times each sample reaches the store: 2 for the
    samples of a retried request, else 1.
    """

    shape: TsdbShape
    labels: list  # per series: dict label -> value, incl. __name__
    sid: np.ndarray  # int32 series id per sample
    ts: np.ndarray  # int64 ms
    val: np.ndarray  # float64, with NaN/+Inf/-Inf planted
    requests: list  # per request: index array into the sample arrays
    retried: list  # request indices landed a second time, in order
    mult: np.ndarray

    @property
    def end_ms(self) -> int:
        return START_MS + self.shape.days * DAY_MS

    def finite(self) -> np.ndarray:
        return np.isfinite(self.val)

    def tags(self, s: int) -> tuple:
        return tuple(sorted(f"{k}={v}" for k, v in self.labels[s].items()))


def tsdb(seed: int, shape: TsdbShape = TsdbShape()) -> TsdbData:
    rng = np.random.default_rng([seed, 1])
    step = shape.scrape_s * 1000
    end = START_MS + shape.days * DAY_MS
    pods, labels, sids, tss = set(), [], [], []
    for slot in range(shape.slots):
        born = START_MS
        while born < end:
            life = int(rng.uniform(*shape.lifetime_h) * HOUR_MS)
            pod = None
            while pod is None or pod in pods:
                pod = "pod-%06x" % int(rng.integers(0, 1 << 24))
            pods.add(pod)
            labels.append({
                "__name__": NAMES[slot % len(NAMES)],
                "job": JOBS[slot % len(JOBS)],
                "instance": "host-%02d" % slot,
                "pod": pod,
            })
            # each pod is scraped at its own offset, in whole ms
            first = born + int(rng.integers(0, step))
            t = np.arange(first, min(born + life, end), step, dtype=np.int64)
            tss.append(t)
            sids.append(np.full(t.size, len(labels) - 1, dtype=np.int32))
            born += life
    ts, sid = np.concatenate(tss), np.concatenate(sids)
    order = np.argsort(ts, kind="stable")
    ts, sid = ts[order], sid[order]
    # multiples of 1/4: every sum below is exact in float64
    val = rng.integers(0, 40_000, size=ts.size) / 4.0
    bad = rng.random(ts.size) < shape.nonfinite_share
    val[bad] = rng.choice([np.nan, np.inf, -np.inf], size=int(bad.sum()))
    requests = [np.arange(c, min(c + shape.samples_per_request, ts.size))
                for c in range(0, ts.size, shape.samples_per_request)]
    n_retry = max(1, int(round(len(requests) * shape.retry_share)))
    retried = sorted(int(r) for r in
                     rng.choice(len(requests), size=n_retry, replace=False))
    mult = np.ones(ts.size, dtype=np.int64)
    for r in retried:
        mult[requests[r]] += 1
    return TsdbData(shape, labels, sid, ts, val, requests, retried, mult)


def write_request(data: TsdbData, idx: np.ndarray) -> list:
    """One remote-write request body: the samples at ``idx`` grouped
    into timeseries (labels + samples), as a gateway would decode it."""
    out = {}
    for i in idx:
        s = int(data.sid[i])
        out.setdefault(s, []).append(
            {"value": float(data.val[i]), "timestamp": int(data.ts[i])})
    return [
        {"labels": [{"name": k, "value": v}
                    for k, v in data.labels[s].items()],
         "samples": samples}
        for s, samples in out.items()
    ]


def landing_order(data: TsdbData) -> list:
    """Request indices in landing order: every request once, in order,
    and each retried request once more, right after the request that
    follows it (a gateway retrying a send that timed out)."""
    order = []
    pending = list(data.retried)
    for r in range(len(data.requests)):
        order.append(r)
        while pending and pending[0] == r - 1:
            order.append(pending.pop(0))
    order.extend(pending)
    return order


# --- remote-read mix ---------------------------------------------------

EQ, NEQ, RE, NRE = "EQ", "NEQ", "RE", "NRE"

#: (name, length); ``None`` is the stored range. A window longer than
#: the data ends where the data ends, as a "last 90 days" panel on a
#: store that keeps less does: its step puts about 16 scrapes in a
#: bucket, where the shorter windows put one or two.
WINDOWS = (("1h", HOUR_MS), ("1d", DAY_MS), ("7d", 7 * DAY_MS),
           ("full", None), ("90d", 90 * DAY_MS))


@dataclass(frozen=True)
class Query:
    start_ms: int
    end_ms: int
    matchers: tuple  # of (type, label, value)


@dataclass(frozen=True)
class ReadRequest:
    cls: str
    window: str
    queries: tuple  # of Query
    warm: bool  # in the warm-up half: each class and window at least twice


def _window(rng, data: TsdbData, length) -> tuple:
    if length is None:
        return START_MS, data.end_ms
    if length >= data.end_ms - START_MS:
        return data.end_ms - length, data.end_ms
    start = START_MS + int(rng.integers(0, data.end_ms - START_MS - length))
    return start, start + length


def read_mix(seed: int, data: TsdbData) -> list:
    """A fixed mix of read requests: each matcher class over each
    window, plus two multi-query requests.

    Matchers are built from slots, so that every single-query request
    selects the series of a fixed number of slots whatever the seed:
    one for a point label or a label RE, two for the alternation, and
    all of the name's slots but one for NEQ/NRE. The seed moves windows and
    picks slots, not the volume a request reads."""
    rng = np.random.default_rng([seed, 2])
    slots = range(data.shape.slots)

    def name(s):
        return NAMES[s % len(NAMES)]

    def host(s):
        return "host-%02d" % s

    def alt(a, b):
        return "host-(%02d|%02d)" % tuple(sorted((a, b)))

    def pick(pred=lambda s: True):
        return int(rng.choice([s for s in slots if pred(s)]))

    def eq_eq():
        s = pick()
        return (EQ, "__name__", name(s)), (EQ, "instance", host(s))

    def eq_re():
        s = pick()
        o = pick(lambda x: name(x) != name(s))
        return (EQ, "__name__", name(s)), (RE, "instance", alt(s, o))

    def re_alt():
        s = pick()
        o = pick(lambda x: name(x) != name(s))
        return ((RE, "__name__", f"{name(s)}|{name(o)}"),
                (EQ, "instance", f"{host(s)}|{host(o)}"))

    def eq_not():
        s = pick()
        twin = pick(lambda x: x != s and name(x) == name(s))
        if rng.random() < 0.5:
            return (EQ, "__name__", name(s)), (NEQ, "instance", host(twin))
        o = pick(lambda x: name(x) != name(s))
        return (EQ, "__name__", name(s)), (NRE, "instance", alt(twin, o))

    classes = {
        "name_eq_label_eq": eq_eq,
        "name_eq_label_re": eq_re,
        "name_re_label_alt": re_alt,
        "name_eq_label_not": eq_not,
    }
    out = []
    for ci, (cls, make) in enumerate(classes.items()):
        for wi, (wname, length) in enumerate(WINDOWS):
            out.append(ReadRequest(cls, wname, (
                Query(*_window(rng, data, length), make()),),
                warm=(ci + wi) % 2 == 0))
    windows = dict(WINDOWS)
    for k, pair in enumerate((("1d", "7d"), ("7d", "full"))):
        qs = [Query(*_window(rng, data, windows[w]), classes[cls]())
              for w, cls in zip(pair, ("name_eq_label_re",
                                       "name_re_label_alt"))]
        out.append(ReadRequest("multi", "+".join(pair), tuple(qs),
                               warm=k == 0))
    for req in out:
        for q in req.queries:
            for typ, label, value in q.matchers:
                if typ in (RE, NRE):
                    _assert_anchor_free(value, _label_values(data, label))
    return out


def _label_values(data: TsdbData, label: str) -> set:
    return {lab[label] for lab in data.labels if label in lab}


def _assert_anchor_free(regex: str, values: set) -> None:
    """Unanchored, start-anchored and fully anchored matching must pick
    the same values, so the checks hold whichever the engine uses."""
    picks = [{v for v in values if f(regex, v)}
             for f in (re.search, re.match, re.fullmatch)]
    if not picks[0] == picks[1] == picks[2]:
        raise ValueError(f"regex {regex!r} depends on anchoring")


# --- near-duplicate corpus ----------------------------------------------

@dataclass(frozen=True)
class CorpusShape:
    docs: int = 800
    words: int = 160
    vocab: int = 20_000
    groups: int = 60
    group_max: int = 4
    edit_share: tuple = (0.01, 0.25)


@dataclass
class Corpus:
    shape: CorpusShape
    ids: list
    texts: list
    planted: list  # groups of doc ids made from one base document


def corpus(seed: int, shape: CorpusShape = CorpusShape()) -> Corpus:
    """Random-word documents; ``groups`` of them get 1..group_max-1
    near copies, each with a share of its words replaced drawn from
    ``edit_share``, so planted pairs fall on both sides of a 0.5
    Jaccard threshold."""
    rng = np.random.default_rng([seed, 3])
    vocab = ["w%05d" % i for i in range(shape.vocab)]
    base = [rng.integers(0, shape.vocab, size=shape.words)
            for _ in range(shape.docs)]
    texts = [" ".join(vocab[w] for w in b) for b in base]
    ids = list(range(1, shape.docs + 1))
    planted = []
    for g in rng.choice(shape.docs, size=shape.groups, replace=False):
        group = [ids[int(g)]]
        for _ in range(int(rng.integers(1, shape.group_max))):
            words = base[int(g)].copy()
            n_edit = max(1, int(round(shape.words
                                      * rng.uniform(*shape.edit_share))))
            pos = rng.choice(shape.words, size=n_edit, replace=False)
            words[pos] = rng.integers(0, shape.vocab, size=n_edit)
            ids.append(len(ids) + 1)
            texts.append(" ".join(vocab[w] for w in words))
            group.append(ids[-1])
        planted.append(group)
    return Corpus(shape, ids, texts, planted)
