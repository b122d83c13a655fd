"""Tests of the benchmark's own logic (no Spark): the percentile rule, span
self-time arithmetic, generator determinism and the closed forms.

    python3 -m pytest perfbench -q
"""

import numpy as np
import pytest

import gen
import workloads
from instrument import Span, median, self_times, tail_percentile


@pytest.mark.parametrize("n, p", [(40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
                                  (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    xs = list(np.random.default_rng(n).permutation(n) + 1.0)
    got_p, value = tail_percentile(xs)
    assert got_p == p
    assert sum(x > value for x in xs) >= 10
    higher = [q for q in (99.9, 99.0, 95.0, 90.0, 75.0) if q > p]
    for q in higher:  # the next rung up would leave fewer than ten beyond
        assert n - int(np.ceil(round(q * n / 100, 9))) < 10


@pytest.mark.parametrize("n", [0, 1, 19, 39])
def test_tail_percentile_refuses_small_samples(n):
    assert tail_percentile([1.0] * n) is None


def test_tail_percentile_nearest_rank_value():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_end_to_end_from_per_kind_medians():
    def op(name, s, items=1, ok=True):
        return {"name": name, "s": s, "items": items, "ok": ok}

    ops = [op("a", 1.0), op("a", 3.0), op("a", 2.0), op("a", 50.0, ok=False),
           op("b", 8.0, items=4), op("b", 8.0, items=4)]
    got = workloads.end_to_end({"a": 3, "b": 1}, ops)
    assert got["p50_geomean_s"] == pytest.approx(4.0)  # sqrt(2 * 8)
    assert got["items_per_s"] == pytest.approx((3 * 1 + 4) / (3 * 2.0 + 8.0))
    with pytest.raises(ValueError):
        workloads.end_to_end({"a": 1, "c": 1}, ops)


def _span(i, parent, a, b):
    return Span(i, parent, f"s{i}", a, b)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 2.0, 5.0),
             _span(3, 0, 8.0, 12.0), _span(4, 1, 1.5, 2.5)]
    st = self_times(spans)
    # children cover [1, 5] and [8, 10] inside the parent: 6 of 10 seconds
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(1.0)  # grandchild counts against its own parent only
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_of_leaf_and_gaps():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 0.5, 1.0), _span(2, 0, 3.0, 3.5)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_events_are_deterministic_per_seed(tmp_path):
    a, b, c = gen.make_events(3, 300), gen.make_events(3, 300), gen.make_events(4, 300)
    assert gen.sha256_arrays(a.arrays()) == gen.sha256_arrays(b.arrays())
    assert gen.sha256_arrays(a.arrays()) != gen.sha256_arrays(c.arrays())
    for name, ev in (("a", a), ("b", b)):
        gen.write_events_parquet(ev, str(tmp_path / f"{name}.parquet"))
        with open(tmp_path / f"{name}.csv", "w", newline="") as fh:
            gen.write_events_csv(ev, fh, np.arange(ev.n))
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert (tmp_path / "a.csv").read_bytes() == (tmp_path / "b.csv").read_bytes()
    assert gen.point_requests(a, 3) == gen.point_requests(b, 3)
    assert gen.point_requests(a, 3) != gen.point_requests(c, 4)


def test_event_shape():
    ev = gen.make_events(1, 2000)
    lengths = np.bincount(ev.trail)
    assert lengths[0] == lengths.max()  # the whale
    assert abs(lengths[0] / ev.n - 0.02) < 0.002
    o = gen.trail_order(ev)
    same = ev.trail[o][1:] == ev.trail[o][:-1]
    assert (np.diff(ev.time[o])[same] > 0).all()  # unique times within a trail
    assert len(set(ev.uuids)) == len(ev.uuids)


def _tiny() -> gen.Events:
    # trail 0: view@0 cart@10 view@4000 buy@4001; trail 1: cart@5 buy@6
    return gen.Events(
        uuids=np.array(["a" * 32, "b" * 32]),
        trail=np.array([0, 1, 0, 0, 1, 0]),
        time=np.array([0, 5, 10, 4000, 6, 4001]),
        event_type=np.array([0, 3, 3, 0, 6, 6], dtype=np.int8),
        country=np.array([1, 1, 1, 2, 2, 2], dtype=np.int16),
        page=np.array([7, 7, 8, 8, 9, 9], dtype=np.int16),
    )


def test_closed_forms_on_hand_example():
    ev = _tiny()
    assert gen.session_counts(ev).tolist() == [2, 1]
    assert gen.funnel_reached(ev) == [1, 1, 1]
    # trail 0 event_type: view cart view buy (all change); trail 1: cart buy
    assert gen.diff_item_counts(ev) == {"event_type": 6, "country": 4, "page": 5}
    e = gen.trail_scan_expect(ev)
    assert e["event_pos_sum"] == 10 + 3
    assert e["distinct_pages"] == 3 + 2


def test_point_request_answers_match_brute_force():
    ev = gen.make_events(2, 400)
    for req in gen.point_requests(ev, 2, n=60):
        if req["kind"] == "lookup":
            m = ev.uuids[ev.trail] == req["uuid"]
        elif req["kind"] == "whitelist":
            m = np.isin(ev.uuids[ev.trail], req["uuids"])
        else:
            clauses = [c.split() for c in req["filter"].split(" & ")]
            m = np.ones(ev.n, dtype=bool)
            for clause in clauses:
                hit = np.zeros(ev.n, dtype=bool)
                for term in clause:
                    if term.startswith("time:["):
                        a, b = map(int, term[6:-1].split(","))
                        hit |= (ev.time >= a) & (ev.time < b)
                    else:
                        f, v = term.split("=")
                        col = {"event_type": np.array(gen.EVENT_TYPES)[ev.event_type],
                               "country": np.array([gen.country_name(c) for c in ev.country]),
                               "page": np.array([gen.page_name(p) for p in ev.page])}[f]
                        hit |= col == v
                m &= hit
        assert req["rows"] == int(m.sum()), req["kind"]
        assert req["time_sum"] == int(ev.time[m].sum()), req["kind"]


def test_corpus_is_deterministic_and_planted():
    a, b, c = gen.make_corpus(5, 300, 40), gen.make_corpus(5, 300, 40), gen.make_corpus(6, 300, 40)
    assert gen.sha256_arrays(a.arrays()) == gen.sha256_arrays(b.arrays())
    assert gen.sha256_arrays(a.arrays()) != gen.sha256_arrays(c.arrays())
    assert len(a.texts) == 300 and len(a.new_texts) == 40
    for i, j in a.pairs:  # a planted pair differs in exactly one token
        x, y = a.texts[i].split(), a.texts[j].split()
        assert a.group[i] == a.group[j] >= 0
        assert len(x) == len(y) and sum(p != q for p, q in zip(x, y)) == 1
    for j, m in enumerate(a.new_match):
        if m >= 0:
            x, y = a.new_texts[j].split(), a.texts[m].split()
            assert sum(p != q for p, q in zip(x, y)) == 1


def test_dedup_check_accepts_planted_and_rejects_merges():
    import pandas as pd

    # docs 0,1 a near-dup pair; 2,3,4 exact copies; 5 alone; new doc 6
    # edits doc 3, new doc 7 is fresh
    chk = workloads.DedupCheck({"docs": 6, "new": 2, "group": [1, 1, 2, 2, 2, -1],
                                "pairs": [[0, 1]], "new_match": [3, -1]})
    good = pd.DataFrame({"doc_id": range(6), "component": [0, 0, 2, 2, 2, 5]})
    assert chk.fuzzy(good) and chk.quality["recall"] == 1.0
    assert not chk.fuzzy(good.assign(component=[0, 1, 2, 2, 2, 5]))  # pair split
    assert not chk.fuzzy(good.assign(component=[0, 0, 2, 2, 2, 2]))  # doc 5 merged in
    assert not chk.fuzzy(good.iloc[:5])  # a doc missing
    assert chk.against(pd.DataFrame({"new_id": [6], "corpus_id": [2]}))
    assert not chk.against(pd.DataFrame({"new_id": [6], "corpus_id": [0]}))
    assert not chk.against(pd.DataFrame({"new_id": [6, 7], "corpus_id": [2, 5]}))
    assert not chk.against(pd.DataFrame({"new_id": [], "corpus_id": []}, dtype="int64"))


def test_per_layer_table_is_well_formed():
    table = workloads.per_layer_table()
    names = [x["name"] for x in table]
    assert len(names) == len(set(names))
    assert all(set(x) == {"name", "unit", "better"} for x in table)
    # every cursor program and dedup operator has its per-layer wall time
    for p in workloads.PROGRAMS:
        assert f"{workloads.program_op(p)}.wall_s" in names
    for p in workloads.DEDUP_OPS:
        assert f"operators.dedup.{p}.wall_s" in names
