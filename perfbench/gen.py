"""Seeded input generators and the closed-form answers the benchmark checks
outputs against.

Everything here is numpy on the benchmark side: the program under test only
ever sees the files written by ``write_events_*``. The same (seed, size,
GEN_VERSION) gives byte-identical arrays and files; ``sha256_arrays`` hashes
the canonical arrays so a result records exactly which inputs it measured.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

# Bump whenever the event generator changes: it keys the cached inputs.
GEN_VERSION = 3

T0 = 1_700_006_400  # 2023-11-15 00:00:00 UTC, a day boundary
DAY = 86_400
SPAN_DAYS = 30
SESSION_GAP = 1800

EVENT_TYPES = ("view", "click", "search", "cart", "login", "share", "buy", "refund")
EVENT_TYPE_P = np.array([0.40, 0.20, 0.12, 0.10, 0.08, 0.05, 0.03, 0.02])
N_COUNTRIES = 200
N_PAGES = 5000
FIELDS = ("event_type", "country", "page")
FUNNEL = ("view", "cart", "buy")


def country_name(i) -> str:
    return f"c{int(i):03d}"


def page_name(i) -> str:
    return f"/p/{int(i):04d}"


@dataclass
class Events:
    """Columnar events. ``uuids[trail]`` is the 32-hex uuid of a trail;
    rows are in a seeded shuffled order (no layout is handed to the
    program), times are unique within a trail."""

    uuids: np.ndarray  # (T,) '<U32'
    trail: np.ndarray  # (N,) int64 trail index
    time: np.ndarray  # (N,) int64 Unix seconds
    event_type: np.ndarray  # (N,) int8 index into EVENT_TYPES
    country: np.ndarray  # (N,) int16
    page: np.ndarray  # (N,) int16

    @property
    def n(self) -> int:
        return len(self.time)

    def row_strings(self, idx: np.ndarray):
        """(uuid, time, event_type, country, page) string tuples of rows idx."""
        et = np.array(EVENT_TYPES)
        for i in idx:
            yield (
                self.uuids[self.trail[i]],
                int(self.time[i]),
                et[self.event_type[i]],
                country_name(self.country[i]),
                page_name(self.page[i]),
            )

    def arrays(self) -> list[np.ndarray]:
        return [self.uuids, self.trail, self.time, self.event_type, self.country, self.page]


def _uuids(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    return np.array([f"{a:016x}{b:016x}" for a, b in raw], dtype="<U32")


def _zipf_lengths(rng: np.random.Generator, n: int, a: float = 1.3,
                  cap: int = 200) -> np.ndarray:
    """n draws from Zipf(a) truncated at ``cap``, stratified: one uniform in
    each of n equal quantile strata. Every seed gets nearly the same
    multiset of lengths (total events within ~1%), so run-to-run figures
    compare like with like; which trail gets which length stays random."""
    k = np.arange(1, cap + 1)
    cdf = np.cumsum(k ** -a)
    cdf /= cdf[-1]
    u = (np.arange(n) + rng.random(n)) / n
    return np.minimum(np.searchsorted(cdf, u) + 1, cap).astype(np.int64)


def make_events(seed: int, n_trails: int) -> Events:
    """~18 events per trail: Zipf(1.3) trail lengths capped at 200, plus one
    whale trail holding 2% of all events. Gaps mix short in-session clicks
    (mean 5 min) with 10% long breaks (mean 6 h), so sessions are many and
    trails start uniformly over 30 days. ``event_type`` is skewed over 8
    values, ``country`` Zipf over 200, ``page`` uniform over 5000."""
    rng = np.random.default_rng([GEN_VERSION, seed, n_trails])
    lengths = rng.permutation(_zipf_lengths(rng, n_trails - 1))
    whale = int(round(lengths.sum() * 0.02 / 0.98))
    lengths = np.concatenate([[whale], lengths])
    n = int(lengths.sum())
    trail = np.repeat(np.arange(n_trails, dtype=np.int64), lengths)
    long_p = np.where(trail == 0, 0.002, 0.10)
    gaps = np.where(
        rng.random(n) < long_p,
        rng.exponential(6 * 3600, n),
        rng.exponential(300, n),
    ).astype(np.int64) + 1
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    gaps[starts] = 0
    cum = np.cumsum(gaps)
    rel = cum - np.repeat(cum[starts], lengths)
    # start uniformly where the whole trail still fits in the 30-day span
    room = np.maximum(SPAN_DAYS * DAY - rel[np.cumsum(lengths) - 1], 1)
    t_start = T0 + (rng.random(n_trails) * room).astype(np.int64)
    time = np.repeat(t_start, lengths) + rel
    event_type = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P).astype(np.int8)
    cw = 1.0 / np.arange(1, N_COUNTRIES + 1) ** 1.1
    country = rng.choice(N_COUNTRIES, size=n, p=cw / cw.sum()).astype(np.int16)
    page = rng.integers(0, N_PAGES, size=n).astype(np.int16)
    perm = rng.permutation(n)
    return Events(
        uuids=_uuids(rng, n_trails),
        trail=trail[perm],
        time=time[perm],
        event_type=event_type[perm],
        country=country[perm],
        page=page[perm],
    )


def sha256_arrays(arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(str(a.dtype).encode() + str(a.shape).encode())
        h.update(a.tobytes())
    return h.hexdigest()


# -- closed forms -------------------------------------------------------------


def trail_order(ev: Events) -> np.ndarray:
    """Row permutation sorting by (trail, time)."""
    return np.lexsort((ev.time, ev.trail))


def session_counts(ev: Events, gap: int = SESSION_GAP) -> np.ndarray:
    """Per-trail session count under the 30-minute rule."""
    o = trail_order(ev)
    tr, t = ev.trail[o], ev.time[o]
    new = np.ones(len(t), dtype=bool)
    same = tr[1:] == tr[:-1]
    new[1:] = ~same | (t[1:] - t[:-1] > gap)
    return np.bincount(tr, weights=new, minlength=len(ev.uuids)).astype(np.int64)


def diff_item_counts(ev: Events) -> dict[str, int]:
    """Non-empty values per field after only-diff-items decode: a value is
    kept on a trail's first event and wherever it differs from the
    previous event of the trail."""
    o = trail_order(ev)
    tr = ev.trail[o]
    first = np.ones(len(tr), dtype=bool)
    first[1:] = tr[1:] != tr[:-1]
    out = {}
    for name in FIELDS:
        v = getattr(ev, name)[o]
        changed = np.ones(len(v), dtype=bool)
        changed[1:] = v[1:] != v[:-1]
        out[name] = int((first | changed).sum())
    return out


def funnel_reached(ev: Events, steps=FUNNEL) -> list[int]:
    """Trails reaching each step of the ordered funnel: step i latches the
    first event of type steps[i] strictly after step i-1's time."""
    o = trail_order(ev)
    tr, t, et = ev.trail[o], ev.time[o], ev.event_type[o]
    codes = [EVENT_TYPES.index(s) for s in steps]
    reached = [0] * len(steps)
    bounds = np.flatnonzero(np.diff(tr)) + 1
    for seg_t, seg_e in zip(np.split(t, bounds), np.split(et, bounds)):
        last = None
        for i, c in enumerate(codes):
            m = seg_e == c
            if last is not None:
                m &= seg_t > last
            hits = np.flatnonzero(m)
            if not len(hits):
                break
            last = seg_t[hits[0]]
            reached[i] += 1
    return reached


def trail_scan_expect(ev: Events) -> dict:
    lengths = np.bincount(ev.trail, minlength=len(ev.uuids)).astype(np.int64)
    sess = session_counts(ev)
    o = np.lexsort((ev.page, ev.trail))
    tr, pg = ev.trail[o], ev.page[o]
    newpage = np.ones(len(tr), dtype=bool)
    newpage[1:] = (tr[1:] != tr[:-1]) | (pg[1:] != pg[:-1])
    pages = np.bincount(tr, weights=newpage, minlength=len(ev.uuids)).astype(np.int64)
    return {
        "events": ev.n,
        "trails": len(ev.uuids),
        "sessions": int(sess.sum()),
        "sessions_sq": int((sess * sess).sum()),
        "distinct_pages": int(pages.sum()),
        "diff_items": diff_item_counts(ev),
        "event_pos_sum": int((lengths * (lengths + 1) // 2).sum()),
        "funnel": funnel_reached(ev),
        "time_sum": int(ev.time.sum()),
    }


# -- point-query request stream ----------------------------------------------


def _int_bincount(keys: np.ndarray, values: np.ndarray, n: int) -> np.ndarray:
    """Exact int64 per-key sums (np.bincount weights go through float64,
    which rounds sums of Unix times above 2**53)."""
    out = np.zeros(n, dtype=np.int64)
    np.add.at(out, keys, values)
    return out


REQUEST_KINDS = ("lookup", "index_dump", "time_dump", "whitelist")
REQUEST_PATTERN = (0, 1, 0, 2, 0, 3, 0, 1, 2, 0, 3, 0, 1, 0, 2, 0, 3, 1, 0, 2)
# Pages in a time-range dump's OR clause. The program builds a filter
# column term by term over py4j, so with 50 terms building the DataFrame
# took 0.3-0.8 s and followed the host's load more than the layout.
TIME_DUMP_PAGES = 8


def point_requests(ev: Events, seed: int, n: int = 4000) -> list[dict]:
    """A seeded closed-loop request stream with its expected answers. Kinds
    follow REQUEST_PATTERN, so any run of 20 requests holds the same mix:
    45% uuid lookups (Zipf over trails, so hot keys repeat), 20% dumps an
    index on (event_type, country) covers, 20% one-day time-range dumps
    that prune daily shards (with an unindexed 8-page clause), 15% uuid
    whitelists of 2-20 trails. Answers are (rows, sum of time)."""
    rng = np.random.default_rng([GEN_VERSION, seed, 7])
    T = len(ev.uuids)
    lengths = np.bincount(ev.trail, minlength=T)
    tsum = _int_bincount(ev.trail, ev.time, T)
    # answers come from (event_type, country) and (day, page) cubes, so a
    # request costs O(its terms), not a pass over the events
    ec = ev.event_type.astype(np.int64) * N_COUNTRIES + ev.country
    ec_rows = np.bincount(ec, minlength=len(EVENT_TYPES) * N_COUNTRIES)
    ec_tsum = _int_bincount(ec, ev.time, len(EVENT_TYPES) * N_COUNTRIES)
    n_days = int((ev.time.max() - T0) // DAY) + 1
    dp = (ev.time - T0) // DAY * N_PAGES + ev.page
    dp_rows = np.bincount(dp, minlength=n_days * N_PAGES)
    dp_tsum = _int_bincount(dp, ev.time, n_days * N_PAGES)
    hot = rng.permutation(T)
    kinds = np.resize(REQUEST_PATTERN, n)
    out = []
    for k in kinds:
        if k == 0:
            r = min(int(rng.zipf(1.3)) - 1, T - 1)
            tr = int(hot[r])
            out.append({"kind": "lookup", "uuid": str(ev.uuids[tr]),
                        "rows": int(lengths[tr]), "time_sum": int(tsum[tr])})
        elif k == 1:
            e = int(rng.choice(len(EVENT_TYPES), p=EVENT_TYPE_P))
            cs = rng.choice(N_COUNTRIES, size=int(rng.integers(1, 4)), replace=False)
            cells = e * N_COUNTRIES + cs
            text = f"event_type={EVENT_TYPES[e]} & " + " ".join(
                f"country={country_name(c)}" for c in cs)
            out.append({"kind": "index_dump", "filter": text,
                        "rows": int(ec_rows[cells].sum()),
                        "time_sum": int(ec_tsum[cells].sum())})
        elif k == 2:
            day = int(rng.integers(0, SPAN_DAYS))
            a = T0 + day * DAY
            pg = rng.choice(N_PAGES, size=TIME_DUMP_PAGES, replace=False)
            cells = day * N_PAGES + pg
            text = f"time:[{a},{a + DAY}) & " + " ".join(
                f"page={page_name(p)}" for p in pg)
            out.append({"kind": "time_dump", "filter": text,
                        "rows": int(dp_rows[cells].sum()),
                        "time_sum": int(dp_tsum[cells].sum())})
        else:
            trs = rng.choice(T, size=int(rng.integers(2, 21)), replace=False)
            out.append({"kind": "whitelist", "uuids": [str(ev.uuids[t]) for t in trs],
                        "rows": int(lengths[trs].sum()), "time_sum": int(tsum[trs].sum())})
    return out


# -- corpus for near-duplicate dedup -------------------------------------------


@dataclass
class Corpus:
    """Documents ``0..n-1`` plus a new batch ``n..n+m-1``. ``group[i]`` is
    the planted group of corpus doc i (-1: none): an original with its
    one-token-edit near-duplicate, or with its exact copies. ``pairs`` are
    the planted near-duplicate pairs; ``new_match[j]`` is the corpus doc
    new doc j is a one-token edit of (-1: a fresh doc)."""

    texts: list[str]
    group: np.ndarray
    pairs: np.ndarray  # (P, 2)
    new_texts: list[str]
    new_match: np.ndarray

    def arrays(self) -> list[np.ndarray]:
        def enc(ts):
            return np.frombuffer("\x00".join(ts).encode(), dtype=np.uint8)

        return [enc(self.texts), self.group, self.pairs, enc(self.new_texts), self.new_match]


VOCAB = 20_000
DOC_TOKENS = (60, 120)


def make_corpus(seed: int, n_docs: int, n_new: int) -> Corpus:
    """Documents of 60-120 tokens drawn from a Zipf(1.1) vocabulary of
    random 3-9 letter words. 10% of originals get a one-token-edit
    near-duplicate (character-shingle Jaccard ~0.95), 2% get 2-4 exact
    copies. Half the new batch are one-token edits of corpus docs, half
    fresh docs."""
    rng = np.random.default_rng([GEN_VERSION, seed, n_docs, n_new, 11])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, size=k)) for k in rng.integers(3, 10, VOCAB)})
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    w /= w.sum()

    def doc() -> list[str]:
        return [vocab[i] for i in rng.choice(len(vocab), size=int(rng.integers(*DOC_TOKENS)), p=w)]

    def edit(tokens: list[str]) -> list[str]:
        t = list(tokens)
        t[int(rng.integers(len(t)))] = vocab[int(rng.integers(len(vocab)))] + "x"
        return t

    texts: list[str] = []
    group: list[int] = []
    pairs = []
    g = 0
    while len(texts) < n_docs:
        base = doc()
        i0 = len(texts)
        texts.append(" ".join(base))
        u = rng.random()
        g += u < 0.12
        if u < 0.10:
            pairs.append((i0, i0 + 1))
            texts.append(" ".join(edit(base)))
            group += [g, g]
        elif u < 0.12:
            k = int(rng.integers(2, 5))
            texts += [texts[i0]] * k
            group += [g] * (k + 1)
        else:
            group.append(-1)
    new_texts, new_match = [], []
    for _ in range(n_new):
        j = int(rng.integers(n_docs)) if rng.random() < 0.5 else -1
        new_texts.append(" ".join(edit(texts[j].split()) if j >= 0 else doc()))
        new_match.append(j)
    return Corpus(
        texts=texts[:n_docs],
        group=np.array(group[:n_docs], dtype=np.int64),
        pairs=np.array([p for p in pairs if p[1] < n_docs], dtype=np.int64).reshape(-1, 2),
        new_texts=new_texts,
        new_match=np.array(new_match, dtype=np.int64),
    )


def write_docs_parquet(first_id: int, texts: list[str], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": np.arange(first_id, first_id + len(texts)),
                             "text": texts}), path)


# -- files the program reads ---------------------------------------------------


def write_events_parquet(ev: Events, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "uuid": ev.uuids[ev.trail],
        "time": ev.time,
        "event_type": np.array(EVENT_TYPES)[ev.event_type],
        "country": np.char.add("c", np.char.zfill(ev.country.astype(str), 3)),
        "page": np.char.add("/p/", np.char.zfill(ev.page.astype(str), 4)),
    })
    pq.write_table(table, path)


def write_events_csv(ev: Events, fh, idx: np.ndarray) -> None:
    """Headerless uuid,time,event_type,country,page rows to a text file."""
    csv.writer(fh, lineterminator="\n").writerows(ev.row_strings(idx))


def save_json(obj, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
