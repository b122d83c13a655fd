"""Property-based tests (hypothesis), mirroring the reference's test
strategy (SURVEY §5): "what you write is what you read" round-trips
(reference tests/c-tests/what_you_write_you_get_back.c, basic_cursor.c) and
CNF filter semantics against an independent Python evaluator (reference
tests/tdbcli/test_tdbcli.py:92-141 computes expectations in pure Python).
"""

from collections import Counter

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Hypothesis suites dominate the full-lane wall; the quick lane skips them
pytestmark = pytest.mark.slow

from traildb_spark import EventFilter, TrailDataset
from traildb_spark.dataset import normalize_events

VALUES = ["", "a", "b", "xyz", None]

event = st.tuples(
    st.sampled_from(["u0", "u1", "u2"]),        # uuid
    st.integers(min_value=0, max_value=10**9),  # time
    st.sampled_from(VALUES),                    # f1
    st.sampled_from(VALUES),                    # f2
)
event_lists = st.lists(event, min_size=0, max_size=40)


def _mk(spark, rows):
    df = spark.createDataFrame(
        [(u, t, a, b) for (u, t, a, b) in rows],
        "uuid string, time long, f1 string, f2 string",
    )
    return normalize_events(df, "uuid", "time")


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=event_lists)
def test_what_you_write_you_get_back(spark, tmp_path_factory, rows):
    """finalize → open round-trip preserves the exact event multiset with
    '' normalization of NULLs (reference round-trip property)."""
    df = _mk(spark, rows)
    path = str(tmp_path_factory.mktemp("prop") / "db")
    TrailDataset(df).finalize(path, num_buckets=2)
    back = TrailDataset.open(spark, path)
    got = Counter(map(tuple, back.df.select("uuid", "time", "f1", "f2").collect()))
    want = Counter(
        (u, t, a or "", b or "") for (u, t, a, b) in rows
    )
    assert got == want
    # per-trail time order within the layout
    ordered = back.df.withColumn(
        "ok",
        F.col("time")
        >= F.lag("time", 1, 0).over(Window.partitionBy("uuid").orderBy("time")),
    )
    assert ordered.filter(~F.col("ok")).count() == 0


clause = st.lists(
    st.tuples(
        st.sampled_from(["f1", "f2", "nosuch"]),
        st.sampled_from(["", "a", "b", "zzz"]),
        st.booleans(),  # negative
    ),
    min_size=1,
    max_size=3,
)
cnf = st.lists(clause, min_size=1, max_size=3)


def _py_eval(filters, row):
    """Independent CNF evaluator with reference semantics: ''≡NULL, unknown
    field item-0 (positive never matches, negated always)."""
    fields = {"f1": row[2] or "", "f2": row[3] or ""}
    for cl in filters:
        hit = False
        for (fld, val, neg) in cl:
            if fld not in fields:
                term = neg
            else:
                term = (fields[fld] != val) if neg else (fields[fld] == val)
            hit = hit or term
        if not hit:
            return False
    return True


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=event_lists, filters=cnf)
def test_cnf_filter_matches_python_oracle(spark, rows, filters):
    df = _mk(spark, rows)
    f = EventFilter()
    for cl in filters:
        f.new_clause()
        for (fld, val, neg) in cl:
            f.add_term(fld, val, negative=neg)
    got = Counter(
        map(tuple, df.filter(f.compile(df.columns)).collect())
    )
    want = Counter(
        (u, t, a or "", b or "")
        for (u, t, a, b) in rows
        if _py_eval(filters, (u, t, a, b))
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=30, unique=True),
    w=st.sampled_from(
        [
            {"train": 1.0},
            {"train": 0.9, "val": 0.1},
            {"train": 0.8, "val": 0.1, "test": 0.1},
            {"a": 0.25, "b": 0.25, "c": 0.25, "d": 0.25},
        ]
    ),
)
def test_hash_split_is_a_partition(spark, ids, w):
    """Every id gets exactly one split from the weight keys, assignment is
    id-order- and partitioning-independent, and salt='' matches a rerun."""
    from traildb_spark.operators import curation

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = curation.hash_split(df, w).collect()
    assert len(got) == len(ids)
    assert {r["split"] for r in got} <= set(w)
    again = {
        r["doc_id"]: r["split"]
        for r in curation.hash_split(df.repartition(7).sort(F.desc("doc_id")), w).collect()
    }
    assert {r["doc_id"]: r["split"] for r in got} == again


# --- funnel fold vs independent Python min-time-chain ---------------------

funnel_event = st.tuples(
    st.sampled_from(["u0", "u1", "u2"]),
    st.integers(min_value=0, max_value=50),     # small range → many ties
    st.sampled_from(["a", "b", "c", "x"]),
)


def _py_funnel(rows, steps, within=None):
    """Independent oracle: per uuid, s0 = min time matching steps[0];
    s_i = min time matching steps[i] strictly after s_{i-1} (and within
    the conversion window when set)."""
    out = {}
    for u in {r[0] for r in rows}:
        evs = [(t, v) for (uu, t, v) in rows if uu == u]
        times = []
        prev = None
        for i, sv in enumerate(steps):
            cand = [
                t for (t, v) in evs
                if v == sv
                and (i == 0 or (prev is not None and t > prev
                                and (within is None or t <= prev + within)))
            ]
            cur = min(cand) if cand and (i == 0 or prev is not None) else None
            times.append(cur)
            prev = cur
        out[u] = tuple(times)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(funnel_event, min_size=0, max_size=40))
def test_funnel_fold_matches_min_chain(spark, rows):
    from traildb_spark.operators import analytics

    if not rows:
        return
    df = spark.createDataFrame(rows, "uuid string, time long, event_type string")
    steps = [F.col("event_type") == s for s in ("a", "b", "c")]
    for within in (None, 7):
        got = {
            r["uuid"]: (r["s0"], r["s1"], r["s2"])
            for r in analytics.funnel_times(df, steps, within=within).collect()
        }
        assert got == _py_funnel(rows, ["a", "b", "c"], within)


# ---------------------------------------------------------------------------
# flattened Arrow kernels == naive per-document reference implementations
# ---------------------------------------------------------------------------

_texts = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs",)  # any scalar value, incl. astral
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


def _naive_char_shingles(t, k=5):
    """Per-doc reference for the flattened rolling-hash kernel: the original
    loop formulation, executed independently in numpy."""
    import numpy as np

    from traildb_spark.functions.vectorized import _pynorm

    P = np.uint64(1099511628211)
    powers = P ** np.arange(k, dtype=np.uint64)[::-1]
    c = np.frombuffer(_pynorm(t or "").encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )
    if len(c) <= k:
        h = (c * powers[-len(c):]).sum() if len(c) else np.uint64(0)
        return np.array([h], dtype=np.uint64).astype(np.int64).tolist()
    n = len(c) - k + 1
    win = np.lib.stride_tricks.sliding_window_view(c, k)
    return np.unique((win * powers[None, :]).sum(axis=1)).astype(np.int64).tolist()


def _naive_word_ngrams(t, n=3):
    import hashlib

    import numpy as np

    from traildb_spark.functions.vectorized import _pynorm

    words = [w for w in _pynorm(t or "").split(" ") if w]
    if not words:
        return []
    wh = np.array(
        [
            int.from_bytes(
                hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(), "little"
            )
            for w in words
        ],
        dtype=np.uint64,
    )
    if len(wh) < n:
        whole = hashlib.blake2b(" ".join(words).encode("utf-8"), digest_size=8)
        g = np.array([int.from_bytes(whole.digest(), "little")], dtype=np.uint64)
    else:
        g = wh[: len(wh) - n + 1].copy()
        for j in range(1, n):
            r = np.uint64(7 * j + 1)
            x = wh[j : len(wh) - n + 1 + j]
            g ^= (x << r) | (x >> (np.uint64(64) - r))
    return np.unique(g).astype(np.int64).tolist()


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_texts)
def test_char_shingle_flat_equals_naive(spark, texts):
    from traildb_spark.functions.vectorized import char_shingle_hashes_udf

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: list(r["g"])
        for r in df.select("i", char_shingle_hashes_udf(F.col("t"), 5).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _naive_char_shingles(t, 5), repr(t)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_texts)
def test_word_ngram_flat_equals_naive(spark, texts):
    from traildb_spark.functions.vectorized import word_ngram_hashes_udf

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: list(r["g"])
        for r in df.select("i", word_ngram_hashes_udf(F.col("t"), 3).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _naive_word_ngrams(t, 3), repr(t)


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=500),
    st.integers(min_value=1, max_value=192000),
)
def test_wav_roundtrip_any_pcm(samples, rate):
    """make_wav → decode_wav is the identity for every int16 sequence and
    sample rate, and the byte size obeys the closed form 44 + 2n."""
    import numpy as np

    from traildb_spark.operators.multimodal import decode_wav, make_wav

    s = np.asarray(samples, dtype="<i2")
    wav = make_wav(s, rate)
    assert len(wav) == 44 + 2 * len(samples)
    r, ch, back = decode_wav(wav)
    assert (r, ch) == (rate, 1)
    assert np.array_equal(back, s)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=255),
    st.sampled_from(["box", "nearest"]),
)
def test_resize_constant_image_stays_constant(w, h, v, method):
    """Both resample methods are convex: a constant bitmap resizes to the
    same constant at any target shape, through a full PNG re-encode."""
    import numpy as np

    from traildb_spark.operators.multimodal import _gray_pixels, make_png

    g = np.full((h, w), v, dtype=np.uint8)
    # drive the real kernel (the Spark wrapper is covered in
    # test_multimodal): decode -> _resample -> encode -> decode. Any (w, h)
    # vs the fixed 8x8 target exercises BOTH up- and downscale, including
    # the empty-block clamp (no NaN from 0/0 on upscale).
    from traildb_spark.operators.multimodal import _resample

    gray = _gray_pixels(make_png(g))
    small = _resample(gray, 8, 8, method)
    assert np.isfinite(small).all()
    out = np.clip(np.floor(small), 0, 255).astype(np.uint8)
    assert (out == v).all()
    back = _gray_pixels(make_png(out))
    assert (back == v).all()


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
)
def test_resample_box_preserves_mass_on_downscale(sw, sh, tw, th):
    """Box resample is finite for every source/target shape (upscale blocks
    are edge-clamped, never 0/0), and when target dims divide source dims
    the block means preserve total mass exactly."""
    import numpy as np

    from traildb_spark.operators.multimodal import _resample

    rng = np.random.default_rng(sw * 1000 + sh * 100 + tw * 10 + th)
    g = rng.integers(0, 256, size=(sh, sw)).astype(np.float64)
    out = _resample(g, tw, th, "box")
    assert out.shape == (th, tw) and np.isfinite(out).all()
    if sh % th == 0 and sw % tw == 0:
        assert abs(out.mean() - g.mean()) < 1e-9


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_texts)
def test_word_ngram_positional_equals_naive(spark, texts):
    """md5_word_ngram_hashes_all (the positional, non-distinct kernel
    behind duplicated_span_stats) equals a per-doc naive md5 over every
    window position, in order, on arbitrary unicode."""
    import hashlib

    from traildb_spark.functions.vectorized import _pynorm
    from traildb_spark.operators.curation import md5_word_ngram_hashes_all

    n = 3
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: list(r["g"])
        for r in df.select(
            "i", md5_word_ngram_hashes_all(F.col("t"), n).alias("g")
        ).collect()
    }
    for i, t in enumerate(texts):
        words = [w for w in _pynorm(t or "").split(" ") if w]
        want = [
            int.from_bytes(
                hashlib.md5(" ".join(words[j : j + n]).encode("utf-8")).digest()[:8],
                "big",
            )
            >> 4
            for j in range(max(len(words) - (n - 1), 1))
        ]
        assert got[i] == want, repr(t)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="0123456789abcdef", min_size=32, max_size=32), min_size=1, max_size=16))
def test_bloom_positions_jvm_equals_python(spark, fps):
    """The JVM-side double-hashing positions (conv on md5-hex halves)
    equal the Python probe's arithmetic — the invariant that makes
    bloom_dedup_against's build and probe agree bit-for-bit."""
    from traildb_spark.operators.dedup import _bloom_positions

    m, k = 1 << 20, 4
    df = spark.createDataFrame([(i, f) for i, f in enumerate(fps)], ["i", "fp"])
    got = {
        r["i"]: list(r["p"])
        for r in df.select("i", _bloom_positions(F.col("fp"), m, k).alias("p")).collect()
    }
    for i, f in enumerate(fps):
        h1, h2 = int(f[:15], 16), int(f[16:31], 16)
        assert got[i] == [(h1 + j * h2) % m for j in range(k)], f


# -- round-3 additions: attribution and span removal vs pure-Python refs ---

attr_event = st.tuples(
    st.sampled_from(["u0", "u1", "u2"]),
    st.integers(min_value=0, max_value=1000),
    st.sampled_from(["view", "click", "purchase", "error"]),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(attr_event, min_size=0, max_size=50),
       lookback=st.sampled_from([None, 0, 50, 10**6]))
def test_attribution_matches_python_fold(spark, rows, lookback):
    """Last-touch attribution equals a sequential per-trail Python fold."""
    from traildb_spark.operators import analytics

    rows = [(u, t, i, et) for i, (u, t, et) in enumerate(rows)]
    df = spark.createDataFrame(rows, "uuid string, time long, event_id long, event_type string")
    got = {
        r["channel"]: r["conversions"]
        for r in analytics.attribution(
            df, "purchase", ["view", "click"], lookback, "last_touch",
            "event_type", None, "uuid", "time", "event_id",
        ).collect()
    }
    want: dict = {}
    by_uuid: dict = {}
    for u, t, i, et in rows:
        by_uuid.setdefault(u, []).append((t, i, et))
    for u, evs in by_uuid.items():
        evs.sort()
        last = None  # (time, type)
        for t, _, et in evs:
            if et == "purchase":
                ch = "(none)"
                if last is not None and (lookback is None or last[0] >= t - lookback):
                    ch = last[1]
                want[ch] = want.get(ch, 0) + 1
            if et in ("view", "click"):
                last = (t, et)
    assert got == want


doc_text = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=12
).map(" ".join)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(doc_text, min_size=1, max_size=8),
       window=st.sampled_from([2, 3, 5]))
def test_remove_spans_matches_python_reference(spark, texts, window):
    """Span removal equals the naive per-token coverage check."""
    from traildb_spark.operators import dedup as D

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in D.remove_duplicated_spans(df, window=window).collect()
    }
    # python reference: gram at pos i = tokens[i:i+window] (whole doc if
    # shorter); dup iff gram text occurs in >= 2 distinct docs
    toks = {d: [w for w in t.split(" ") if w] for d, t in rows}
    gram_docs: dict = {}
    grams: dict = {}
    for d, ws in toks.items():
        gs = [" ".join(ws[i:i + window])
              for i in range(max(len(ws) - (window - 1), 1))]
        grams[d] = gs
        for g in set(gs):
            gram_docs.setdefault(g, set()).add(d)
    want = {}
    for d, ws in toks.items():
        dup_starts = [i for i, g in enumerate(grams[d]) if len(gram_docs[g]) >= 2]
        covered = set()
        for p in dup_starts:
            covered.update(range(p, p + window))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        want[d] = (" ".join(kept), len(ws), sum(1 for j in range(len(ws)) if j in covered))
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(
    st.tuples(st.sampled_from(["u0", "u1"]), st.integers(0, 500),
              st.sampled_from(["a", "b", "c", ""])),
    min_size=0, max_size=40))
def test_session_cooccurrence_matches_python(spark, rows):
    """Basket pairs/supports equal a brute-force per-session Python calc."""
    from traildb_spark.operators import analytics

    df = spark.createDataFrame(rows, "uuid string, time long, event_type string")
    got = {
        (r["v1"], r["v2"]): r["support"]
        for r in analytics.session_cooccurrence(df, gap=100, min_support=1).collect()
    }
    # python reference
    per_u: dict = {}
    for u, t, v in rows:
        per_u.setdefault(u, []).append((t, v))
    sessions = []
    for u, evs in per_u.items():
        evs.sort()
        cur = []
        prev = None
        for t, v in evs:
            if prev is not None and t - prev > 100:
                sessions.append(cur)
                cur = []
            cur.append(v)
            prev = t
        if cur:
            sessions.append(cur)
    want: dict = {}
    for s in sessions:
        vs = sorted(set(s))
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                want[(vs[i], vs[j])] = want.get((vs[i], vs[j]), 0) + 1
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=8).map(" ".join),
    min_size=1, max_size=6))
def test_cooccurrence_pmi_matches_python(spark, texts):
    from traildb_spark.operators import text as T

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["w1"], r["w2"]): (r["pair_count"], r["pmi_bits"])
        for r in T.cooccurrence_pmi(df, min_count=1).collect()
    }
    uni: dict = {}
    bi: dict = {}
    n = 0
    for t in texts:
        ws = [w for w in t.split(" ") if w]
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
            n += 1
    want = {
        p: (c, c.bit_length() + n.bit_length()
            - uni[p[0]].bit_length() - uni[p[1]].bit_length())
        for p, c in bi.items()
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(
    st.tuples(st.sampled_from(["u0", "u1"]), st.integers(0, 10_000)),
    min_size=1, max_size=40),
    window=st.sampled_from([10, 100, 3600]))
def test_burst_windows_matches_python(spark, rows, window):
    from traildb_spark.operators import analytics

    df = spark.createDataFrame(rows, "uuid string, time long")
    got = {
        r["uuid"]: (r["peak_events"], r["peak_time"])
        for r in analytics.burst_windows(df, window=window).collect()
    }
    per: dict = {}
    for u, t in rows:
        per.setdefault(u, []).append(t)
    want = {}
    for u, ts in per.items():
        ts.sort()
        best = None
        for t in ts:
            c = sum(1 for x in ts if t - window <= x <= t)
            if best is None or c > best[0] or (c == best[0] and t < best[1]):
                best = (c, t)
        want[u] = best
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=st.lists(st.one_of(st.none(), st.integers(0, 20)),
                     min_size=1, max_size=60),
       n_buckets=st.sampled_from([2, 4, 10]))
def test_rank_buckets_matches_python(spark, vals, n_buckets):
    from traildb_spark.operators import curation

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["bucket"]
        for r in curation.rank_buckets(df, "v", n_buckets).collect()
    }
    nn = [v for v in vals if v is not None]
    n = len(nn)
    want = {}
    for i, v in enumerate(vals):
        if v is None:
            want[i] = None
        else:
            before = sum(1 for x in nn if x < v)
            want[i] = (n_buckets * before) // n
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    quality=st.sampled_from([100, 95, 80, 50]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_any_shape(w, h, quality, seed):
    """Baseline JPEG encode→decode for arbitrary shapes (incl. non-
    multiple-of-8 and 1-pixel edges) preserves dimensions, stays in
    [0, 255], and at quality 100 (all-ones quant tables) the error is
    bounded by coefficient rounding alone."""
    import numpy as np

    from traildb_spark.operators.jpeg import decode_jpeg_luma, make_jpeg

    rng = np.random.default_rng(seed)
    g = rng.integers(0, 256, (h, w), dtype=np.uint8)
    out = decode_jpeg_luma(make_jpeg(g, quality))
    assert out.shape == (h, w)
    assert out.min() >= 0.0 and out.max() <= 255.0
    if quality == 100:
        # every quantized coefficient errs by <= 0.5; the 2D IDCT of the
        # error block is bounded by 0.5 * sum|basis| <= 4 per pixel
        assert float(np.abs(out - g).max()) <= 4.0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    v=st.integers(min_value=0, max_value=255),
    wb=st.integers(min_value=1, max_value=4),
    hb=st.integers(min_value=1, max_value=4),
)
def test_jpeg_flat_tiles_exact(v, wb, hb):
    """Flat 8x8 tiles round-trip exactly at quality 100 — the invariant
    the q104 SQL oracle is built on."""
    import numpy as np

    from traildb_spark.operators.jpeg import decode_jpeg_luma, make_jpeg

    canvas = np.full((hb * 8, wb * 8), v, np.uint8)
    out = np.round(decode_jpeg_luma(make_jpeg(canvas, 100)))
    assert np.array_equal(out, canvas)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(min_value=1, max_value=48),
    w=st.integers(min_value=1, max_value=48),
    q=st.sampled_from([20, 50, 80, 95, 100]),
    style=st.integers(min_value=0, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_progressive_fuzz_equals_sequential(h, w, q, style, seed):
    """Progressive decode must be bit-identical to sequential for the
    same input across content styles (dense noise, sparse detail,
    gradients, binary high-frequency) — the scan machinery (EOB runs,
    ZRL-in-refinement, correction-bit ordering) has no tolerance band to
    hide in."""
    import numpy as np

    from traildb_spark.operators.jpeg import decode_jpeg_luma, encode_jpeg

    rng = np.random.default_rng(seed)
    if style == 0:
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
    elif style == 1:
        g = np.full((h, w), int(rng.integers(0, 256)), np.uint8)
        for _ in range(int(rng.integers(0, 4))):
            g[int(rng.integers(0, h)), int(rng.integers(0, w))] = int(
                rng.integers(0, 256)
            )
    elif style == 2:
        yy, xx = np.mgrid[0:h, 0:w]
        g = ((yy * int(rng.integers(1, 9)) + xx * int(rng.integers(1, 9))) % 256).astype(np.uint8)
    else:
        g = (rng.integers(0, 2, (h, w)) * 255).astype(np.uint8)
    seq = decode_jpeg_luma(encode_jpeg(g, q))
    prog = decode_jpeg_luma(encode_jpeg(g, q, progressive=True))
    assert np.array_equal(seq, prog)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    ncol=st.sampled_from([2, 3, 4, 7, 16, 100, 256]),
    interlace=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_roundtrip_fuzz(h, w, ncol, interlace, seed):
    """GIF encode→decode is the exact identity on (palette, indices) for
    any shape, palette size (incl. non-power-of-two), and interlacing —
    LZW width growth, table rebuilds, and the deinterlacer have no
    tolerance band to hide in."""
    import numpy as np

    from traildb_spark.operators.gif import decode_gif_indices, make_gif

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, (h, w), dtype=np.uint8)
    p2, i2 = decode_gif_indices(make_gif(idx, pal, interlace=interlace))
    assert np.array_equal(i2, idx)
    assert np.array_equal(p2[:ncol], pal)


@given(
    counts=st.dictionaries(
        st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=4),
        st.integers(min_value=0, max_value=10_000),
        min_size=0,
        max_size=12,
    ),
    total=st.integers(min_value=0, max_value=30_000),
    alpha=st.sampled_from([0.0, 0.25, 0.5, 0.75, 1.0]),
)
@settings(max_examples=200, deadline=None)
def test_temperature_allocations_invariants(counts, total, alpha):
    """Apportionment invariants over random universes: allocations are
    non-negative integers, never exceed a source's count, sum to
    min(total, N) whenever any source has weight, and empty-weight
    sources get zero."""
    from traildb_spark.operators.curation import temperature_allocations

    alloc = temperature_allocations(counts, total, alpha)
    assert set(alloc) == set(counts)
    assert all(isinstance(v, int) and v >= 0 for v in alloc.values())
    assert all(alloc[s] <= counts[s] for s in counts)
    n = sum(counts.values())
    if any(c > 0 for c in counts.values()):
        assert sum(alloc.values()) == min(total, n)
    else:
        assert sum(alloc.values()) == 0
    for s, c in counts.items():
        if c == 0:
            assert alloc[s] == 0


def test_chunked_fold_invariant_under_chunking(spark):
    """Property: for a chunk-boundary-invariant fold (session stats),
    EVERY chunk_size and Arrow batch size yields the identical result —
    the chunked cursor's correctness is independent of how the stream of
    events is sliced (reference: cursor results don't depend on the
    decode buffer size, tests/c-tests/multi_cursor.c:194-202 runs buffer
    sizes {1,10,1001,1e6})."""
    import random

    from traildb_spark.operators import trails

    rng = random.Random(99)
    rows = []
    for i in range(7):
        t = rng.randrange(0, 100)
        for _ in range(rng.randrange(1, 60)):
            t += rng.randrange(1, 4000)
            rows.append((f"u{i}", t))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["uuid", "time"])
    want = {
        r["uuid"]: (r["num_sessions"], r["num_events"])
        for r in trails.session_stats(df, gap=1800).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        for batch, cs in ((1, None), (5, 1), (13, 7), (10000, 1000)):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
            got = {
                r["uuid"]: (r["num_sessions"], r["num_events"])
                for r in trails.session_stats_chunked(
                    df, gap=1800, chunk_size=cs
                ).collect()
            }
            assert got == want, (batch, cs)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


# --- round-6 integer-exact family properties -----------------------------

drift_event = st.tuples(
    st.sampled_from(["k1", "k2"]),              # key
    st.integers(min_value=0, max_value=199),    # time (t_split = 100)
    st.one_of(st.none(), st.floats(min_value=-50, max_value=50,
                                   allow_nan=False, allow_infinity=False)),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(drift_event, min_size=0, max_size=40))
def test_tvd_drift_matches_python_oracle(spark, rows):
    """distribution_drift's decimal lattice vs an exact-Fraction Python
    evaluator: same bins, same NULL-bin semantics, ppm = floor(1e6*TVD)."""
    import math
    from collections import Counter
    from fractions import Fraction

    from traildb_spark.operators import analytics

    df = spark.createDataFrame(rows, "event_type string, time long, value double")
    got = {
        r["key"]: (r["tot_a"], r["tot_b"], r["tvd_ppm"])
        for r in analytics.distribution_drift(df, t_split=100, bin_width=10.0).collect()
    }
    want = {}
    per = {}
    for k, t, v in rows:
        b = None if v is None else math.floor(v / 10.0)
        side = 0 if t < 100 else 1
        per.setdefault(k, Counter())[(b, side)] += 1
    for k, c in per.items():
        tot = [sum(n for (b, s), n in c.items() if s == side) for side in (0, 1)]
        if tot[0] and tot[1]:
            bins = {b for (b, _s) in c}
            tvd = sum(
                abs(Fraction(c[(b, 0)], tot[0]) - Fraction(c[(b, 1)], tot[1]))
                for b in bins
            ) / 2
            ppm = (tvd.numerator * 1_000_000) // tvd.denominator
        else:
            ppm = None
        want[k] = (tot[0], tot[1], ppm)
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(drift_event, min_size=0, max_size=40))
def test_histogram_tvd_equals_one_pass(spark, rows):
    from traildb_spark.operators import analytics

    df = spark.createDataFrame(rows, "event_type string, time long, value double")
    one = {
        r["key"]: (r["tot_a"], r["tot_b"], r["tvd_ppm"])
        for r in analytics.distribution_drift(df, t_split=100, bin_width=10.0).collect()
    }
    two = {
        r["key"]: (r["tot_a"], r["tot_b"], r["tvd_ppm"])
        for r in analytics.histogram_tvd(
            analytics.value_histogram(df.filter("time < 100"), bin_width=10.0),
            analytics.value_histogram(df.filter("time >= 100"), bin_width=10.0),
        ).collect()
    }
    assert one == two


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]),
                  st.integers(min_value=0, max_value=500)),
        min_size=1, max_size=50,
    )
)
def test_trend_slope_invariant_under_time_shift(spark, rows):
    """OLS slope is shift-invariant: adding a constant to every time
    moves the bucket range but not the slope — the closed-form x-moment
    zero-fill must preserve that exactly."""
    from traildb_spark.operators import analytics

    df1 = spark.createDataFrame(rows, "event_type string, time long")
    df2 = spark.createDataFrame(
        [(k, t + 7000) for k, t in rows], "event_type string, time long"
    )
    a = {
        r["key"]: (r["n_buckets"], r["total"], r["slope_num"], r["slope_den"],
                   r["slope_ppm_per_bucket"])
        for r in analytics.trend_by_key(df1, bucket_seconds=100).collect()
    }
    b = {
        r["key"]: (r["n_buckets"], r["total"], r["slope_num"], r["slope_den"],
                   r["slope_ppm_per_bucket"])
        for r in analytics.trend_by_key(df2, bucket_seconds=100).collect()
    }
    assert a == b


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sets=st.dictionaries(
        st.sampled_from(["d1", "d2", "d3", "d4"]),
        st.sets(st.sampled_from(list("abcdefgh")), min_size=1, max_size=8),
        min_size=1, max_size=4,
    )
)
def test_set_jaccard_matches_python_sets(spark, sets):
    from traildb_spark.operators.dedup import set_jaccard_pairs

    rows = [(i, f) for i, fs in sets.items() for f in fs]
    df = spark.createDataFrame(rows, "id string, f string")
    got = {
        (r["id_a"], r["id_b"]): (r["size_a"], r["size_b"], r["shared"],
                                 r["jaccard_ppm"])
        for r in set_jaccard_pairs(df, "id", "f", max_ids_per_feature=64).collect()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sh = len(sets[a] & sets[b])
            if sh:
                un = len(sets[a] | sets[b])
                want[(a, b)] = (len(sets[a]), len(sets[b]), sh,
                                sh * 1_000_000 // un)
    assert got == want


# --------------------------------------------------------------------------
# round-6 third batch: integer-exact analytics vs pure-python references
# --------------------------------------------------------------------------

_ev_small = st.lists(
    st.tuples(
        st.sampled_from(["u0", "u1", "u2", "u3"]),
        st.integers(min_value=0, max_value=50_000),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_ev_small, gap=st.integers(min_value=0, max_value=20_000),
       bucket=st.integers(min_value=1, max_value=5_000))
def test_survival_table_matches_python_oracle(spark, rows, gap, bucket):
    from traildb_spark.operators import analytics

    df = spark.createDataFrame(rows, "uuid string, time long")
    got = {
        r["duration_bucket"]: (r["at_risk"], r["churned"], r["censored"])
        for r in analytics.survival_table(
            df, churn_gap_seconds=gap, bucket_seconds=bucket
        ).collect()
    }
    per = {}
    for u, t in rows:
        lo, hi = per.get(u, (t, t))
        per[u] = (min(lo, t), max(hi, t))
    obs_end = max(hi for _, hi in per.values())
    hist = {}
    for u, (lo, hi) in per.items():
        db = (hi - lo) // bucket
        churn = (obs_end - hi) > gap
        c, s = hist.get(db, (0, 0))
        hist[db] = (c + (1 if churn else 0), s + (0 if churn else 1))
    want = {}
    for db in hist:
        at_risk = sum(c + s for d, (c, s) in hist.items() if d >= db)
        want[db] = (at_risk, hist[db][0], hist[db][1])
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 400_000)),
    min_size=1, max_size=60,
))
def test_burstiness_matches_python_oracle(spark, rows):
    from traildb_spark.operators import analytics

    df = spark.createDataFrame(rows, "event_type string, time long")
    got = {r["key"]: (r["n_buckets"], r["n_events"], r["fano_ppm"])
           for r in analytics.burstiness_index(df, bucket_seconds=3600).collect()}
    bks = [t // 3600 for _, t in rows]
    n = max(bks) - min(bks) + 1
    want = {}
    for k in {k for k, _ in rows}:
        cnt = Counter(t // 3600 for kk, t in rows if kk == k)
        S = sum(cnt.values())
        Q = sum(v * v for v in cnt.values())
        want[k] = (n, S, (1_000_000 * (n * Q - S * S)) // (n * S))
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(
    st.tuples(st.integers(0, 999), st.text(alphabet="ab c", min_size=0, max_size=12),
              st.sampled_from(["s0", "s1", "s2"])),
    min_size=1, max_size=40, unique_by=lambda r: r[0],
))
def test_source_balance_matches_python_oracle(spark, rows):
    from traildb_spark.operators import text as T

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = T.source_balance(df).collect()[0]
    per = {}
    for _, t, srck in rows:
        nd, nc = per.get(srck, (0, 0))
        per[srck] = (nd + 1, nc + len(t))

    def gini(vals):
        xs = sorted(vals)
        n, s = len(xs), sum(xs)
        if s == 0:
            return None
        num = 2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s
        return (1_000_000 * num) // (n * s)

    assert r.n_sources == len(per)
    assert r.total_docs == len(rows)
    assert r.gini_docs_ppm == gini([nd for nd, _ in per.values()])
    if r.total_chars > 0:
        assert r.gini_chars_ppm == gini([nc for _, nc in per.values()])
    assert r.top_share_ppm == (1_000_000 * max(nd for nd, _ in per.values())) // len(rows)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_ev_small)
def test_robot_trails_matches_python_oracle(spark, rows):
    from traildb_spark.operators import analytics

    uniq = [(u, t, i) for i, (u, t) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "uuid string, time long, event_id long")
    got = {r["uuid"]: (r["n_events"], r["mean_gap"], r["cv2_ppm"], r["is_robot"])
           for r in analytics.robot_trails(df, min_events=5, max_cv2_ppm=50_000).collect()}
    want = {}
    for u in {u for u, _ in rows}:
        evs = sorted([(t, i) for (uu, t), i in zip(rows, range(len(rows))) if uu == u])
        ts = [t for t, _ in evs]
        gs = [b - a for a, b in zip(ts, ts[1:])]
        ng = max(len(gs), 1)
        sg, qg = sum(gs), sum(g * g for g in gs)
        cv2 = (1_000_000 * (len(gs) * qg - sg * sg)) // (sg * sg) if sg > 0 else None
        want[u] = (len(ts), sg // ng, cv2,
                   len(ts) >= 5 and cv2 is not None and cv2 <= 50_000)
    assert got == want


@given(
    st.integers(1, 20), st.integers(1, 20), st.integers(0, 2**32 - 1),
    st.booleans(), st.booleans(), st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_qoi_tiff_roundtrip_property(h, w, seed, packbits, be, wz):
    """Any uint8 bitmap survives QOI and TIFF round-trips bit-exactly
    under every encoder flag combination."""
    import numpy as np

    from traildb_spark.operators.multimodal import (
        decode_qoi, decode_tiff, make_qoi, make_tiff,
    )

    rng = np.random.RandomState(seed % (2**31))
    g = rng.randint(0, 256, (h, w)).astype(np.uint8)
    assert (np.round(decode_qoi(make_qoi(g))).astype(np.uint8) == g).all()
    dec = decode_tiff(make_tiff(
        g, packbits=packbits, big_endian=be, white_is_zero=wz,
        rows_per_strip=max(1, h // 2),
    )).astype(np.uint8)
    assert (dec == g).all()


@given(
    st.integers(1, 400), st.integers(0, 2**32 - 1),
    st.integers(0, 4), st.integers(0, 2), st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_flac_roundtrip_property(n, seed, order, porder, lpc):
    """Any int16 signal survives FLAC round-trips exactly under every
    subframe/partition shape."""
    import numpy as np

    from traildb_spark.operators.flac import decode_flac, make_flac

    rng = np.random.RandomState(seed % (2**31))
    s = rng.randint(-32768, 32768, n).astype(np.int16)
    enc = make_flac(s, 8000, block_size=64, order=order,
                    partition_order=porder, lpc=lpc)
    rate, ch, dec = decode_flac(enc)
    assert (rate, ch) == (8000, 1)
    assert (dec == s).all()


@given(st.integers(1, 16), st.integers(1, 16), st.integers(0, 2**32 - 1))
@settings(max_examples=30, deadline=None)
def test_webp_roundtrip_property(h, w, seed):
    """Any uint8 bitmap survives VP8L round-trips under a seed-picked
    transform/cache/backref combination."""
    import numpy as np

    from traildb_spark.operators.webp import decode_webp, make_webp

    rng = np.random.RandomState(seed % (2**31))
    g = rng.randint(0, 256, (h, w)).astype(np.uint8)
    kw = {}
    pick = seed % 5
    if pick == 1:
        kw["subtract_green"] = True
    elif pick == 2:
        kw["predictor_mode"] = seed % 14
    elif pick == 3:
        kw["cache_bits"] = 1 + seed % 6
        kw["use_backrefs"] = True
    elif pick == 4:
        kw["meta_bits"] = 2 + seed % 2
    dec = np.round(decode_webp(make_webp(g, **kw))).astype(np.uint8)
    assert (dec == g).all()
