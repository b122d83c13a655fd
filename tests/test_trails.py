"""Trail-semantics tests — sessionization (FIXTURES F6), only-diff
(reference tests/c-tests/opt_only_diff_items.c), trail ids, k-way merge
oracle (reference tests/c-tests/multi_cursor.c:129-146)."""

from pyspark.sql import functions as F

from traildb_spark.operators import trails


def test_trail_lengths(spark):
    rows = [(f"{i:032x}", t) for i in range(3) for t in range(i + 1)]
    df = spark.createDataFrame(rows, ["uuid", "time"])
    got = {r["uuid"]: r["trail_length"] for r in trails.trail_lengths(df).collect()}
    assert got == {f"{0:032x}": 1, f"{1:032x}": 2, f"{2:032x}": 3}


def test_collect_trails_time_order(spark):
    rows = [("u1", 3, "c"), ("u1", 1, "a"), ("u1", 2, "b")]
    df = spark.createDataFrame(rows, ["uuid", "time", "x"])
    r = trails.collect_trails(df).collect()[0]
    assert [e["x"] for e in r["events"]] == ["a", "b", "c"]
    assert r["trail_length"] == 3


def test_sessionize():
    pass  # covered by test_session_stats


def test_session_stats(spark):
    # gaps straddle the 1800 s limit (FIXTURES F6)
    rows = [
        ("u1", 0), ("u1", 100), ("u1", 2000),  # gap 1900 > 1800 → 2 sessions
        ("u2", 0), ("u2", 1800), ("u2", 3600),  # gaps exactly 1800 → 1 session
        ("u3", 0),
    ]
    df = spark.createDataFrame(rows, ["uuid", "time"])
    got = {r["uuid"]: (r["num_sessions"], r["num_events"]) for r in
           trails.session_stats(df, gap=1800).collect()}
    assert got == {"u1": (2, 3), "u2": (1, 3), "u3": (1, 1)}


def test_only_diff_items(spark):
    # reference opt_only_diff_items.c: constant field emitted only on first
    # event; two-field variant with mid-trail change
    rows = [
        ("u", 1, "x", "p"),
        ("u", 2, "x", "q"),
        ("u", 3, "y", "q"),
    ]
    df = spark.createDataFrame(rows, ["uuid", "time", "a", "b"])
    got = {r["time"]: (r["a"], r["b"]) for r in trails.only_diff_items(df).collect()}
    assert got == {1: ("x", "p"), 2: ("", "q"), 3: ("y", "")}


def test_trail_ids_sorted_dense(spark):
    rows = [(u, 1) for u in ["cc", "aa", "bb", "aa"]]
    df = spark.createDataFrame(rows, ["uuid", "time"])
    got = {r["uuid"]: r["trail_id"] for r in trails.trail_ids(df).collect()}
    assert got == {"aa": 0, "bb": 1, "cc": 2}


def test_multi_cursor_merge_oracle(spark):
    # FIXTURES F7 multi_merge, scaled down: K datasets, same uuids,
    # merge must equal concatenate-then-sort oracle
    import itertools

    lengths = [40, 10, 0, 5]
    dfs = []
    all_rows = []
    for k, ln in enumerate(lengths):
        rows = [(f"{i:032x}", 1000 + k * (j + 1), f"d{k}") for i in range(3) for j in range(ln)]
        all_rows += rows
        dfs.append(spark.createDataFrame(rows, ["uuid", "time", "src"]) if rows
                   else spark.createDataFrame([], "uuid string, time long, src string"))
    merged = trails.merged_trail_stream(dfs)
    got = [(r["uuid"], r["time"]) for r in merged.orderBy("uuid", "event_pos").collect()]
    oracle = sorted((u, t) for u, t, _ in all_rows)
    assert got == oracle


def test_apply_to_trails(spark):
    rows = [("u1", 3, 1.0), ("u1", 1, 2.0), ("u2", 5, 7.0)]
    df = spark.createDataFrame(rows, ["uuid", "time", "value"])

    def first_last(pdf):
        import pandas as pd
        return pd.DataFrame(
            {"uuid": [pdf["uuid"].iloc[0]],
             "first_value": [pdf["value"].iloc[0]],
             "n": [len(pdf)]}
        )

    got = {r["uuid"]: (r["first_value"], r["n"]) for r in
           trails.apply_to_trails(df, first_last,
                                  "uuid string, first_value double, n long").collect()}
    assert got == {"u1": (2.0, 2), "u2": (7.0, 1)}


def test_apply_to_trails_whale_guard(spark):
    """The whole-group path REFUSES a trail longer than
    max_events_per_trail (measured hazard: a 10M-event whale peaks one
    worker at ~1.5 GB through this path vs ~120 MB chunked, SCALE.md) —
    the error names apply_to_trails_chunked; at the bound it runs; with
    None the pre-check (and its extra scan) is skipped entirely."""
    import pandas as pd
    import pytest

    rows = [("whale", t, 1.0) for t in range(50)] + [("u2", 1, 2.0)]
    df = spark.createDataFrame(rows, ["uuid", "time", "value"])

    def counts(pdf):
        return pd.DataFrame({"uuid": [pdf["uuid"].iloc[0]],
                             "n": [len(pdf)]})

    schema = "uuid string, n long"
    with pytest.raises(ValueError, match="apply_to_trails_chunked"):
        trails.apply_to_trails(df, counts, schema,
                               max_events_per_trail=49)
    # at the bound (not above): runs
    got = {r["uuid"]: r["n"] for r in trails.apply_to_trails(
        df, counts, schema, max_events_per_trail=50).collect()}
    assert got == {"whale": 50, "u2": 1}
    # opt-out skips the pre-check
    got = {r["uuid"]: r["n"] for r in trails.apply_to_trails(
        df, counts, schema, max_events_per_trail=None).collect()}
    assert got == {"whale": 50, "u2": 1}


def test_apply_to_trails_whole_trail_across_batches(spark):
    """Trails longer than one Arrow batch (7 rows), shuffled on input,
    reach fn once each, whole, time-ordered and with a fresh RangeIndex;
    a trail whose fn returns an empty frame emits no rows."""
    import random

    import pandas as pd

    rng = random.Random(11)
    rows = [(f"u{i}", t * 10 + i) for i in range(6) for t in range(8 + 5 * i)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["uuid", "time"])

    def summary(pdf):
        u = pdf["uuid"].iloc[0]
        if u == "u3":
            return pdf.iloc[:0][["uuid"]].assign(n=0, ordered=True, fresh=True)
        ts = pdf["time"].to_numpy()
        return pd.DataFrame({
            "uuid": [u],
            "n": [len(pdf)],
            "ordered": [bool((ts[1:] >= ts[:-1]).all())],
            "fresh": [pdf.index.equals(pd.RangeIndex(len(pdf)))],
        })

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = trails.apply_to_trails(
            df, summary, "uuid string, n long, ordered boolean, fresh boolean"
        ).collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    uuids = [r["uuid"] for r in out]
    assert sorted(uuids) == ["u0", "u1", "u2", "u4", "u5"]  # once each, u3 empty
    for r in out:
        assert r["n"] == 8 + 5 * int(r["uuid"][1:]), r
        assert r["ordered"] and r["fresh"], r


def test_apply_to_trails_chunked_parity_and_streaming(spark):
    """The bounded-memory cursor path (reference stream-at-any-length
    contract, src/tdb_decode.c:227-329): state threads across chunks of
    one trail, trails slice correctly inside a shared Arrow batch AND
    across batch boundaries, incremental emission works, and the session
    fold equals the window formulation exactly."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(13):
        t = 0
        for _ in range(rng.randrange(1, 40)):
            t += rng.randrange(1, 4000)
            rows.append((f"{i:032x}", t))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["uuid", "time"])

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # parity vs the window path, with chunk_size forcing many steps
        want = {
            r["uuid"]: (r["num_sessions"], r["num_events"])
            for r in trails.session_stats(df, gap=1800).collect()
        }
        for cs in (None, 3):
            got = {
                r["uuid"]: (r["num_sessions"], r["num_events"])
                for r in trails.session_stats_chunked(
                    df, gap=1800, chunk_size=cs
                ).collect()
            }
            assert got == want, f"chunk_size={cs}"

        # incremental emission: per-chunk running count, then a total row
        import pandas as pd

        def init(u):
            return {"u": u, "n": 0}

        def step(st, chunk):
            assert chunk["uuid"].nunique() == 1 == len({st["u"]} | set(chunk["uuid"]))
            # chunks arrive time-ordered
            ts = chunk["time"].to_numpy()
            assert (ts[1:] >= ts[:-1]).all()
            st["n"] += len(chunk)
            return st, pd.DataFrame({"uuid": [st["u"]], "kind": ["chunk"], "n": [len(chunk)]})

        def finish(st):
            return pd.DataFrame({"uuid": [st["u"]], "kind": ["total"], "n": [st["n"]]})

        out = trails.apply_to_trails_chunked(
            df, init, step, finish, "uuid string, kind string, n long", chunk_size=5
        ).collect()
        lengths = {
            r["uuid"]: r["trail_length"] for r in trails.trail_lengths(df).collect()
        }
        totals = {r["uuid"]: r["n"] for r in out if r["kind"] == "total"}
        assert totals == lengths
        chunk_sums = {}
        for r in out:
            if r["kind"] == "chunk":
                assert r["n"] <= 5  # chunk_size honored
                chunk_sums[r["uuid"]] = chunk_sums.get(r["uuid"], 0) + r["n"]
        assert chunk_sums == lengths
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_apply_to_trails_chunked_rejects_bad_chunk_size(spark):
    import pytest

    df = spark.createDataFrame([("u", 1)], ["uuid", "time"])
    with pytest.raises(ValueError, match="chunk_size"):
        trails.apply_to_trails_chunked(
            df, lambda u: None, lambda s, c: (s, None), lambda s: None,
            "uuid string", chunk_size=0,
        )


def test_session_stats_chunked_runs_full_width(spark):
    """The walker's shuffle names its partition count, so AQE does not
    coalesce a small input's fold into one task: the mapInPandas stage
    runs ``spark.sql.shuffle.partitions`` tasks, and the output still
    equals the window formulation."""
    rows = [(f"{i:032x}", 1000 * t + 7 * i) for i in range(50) for t in range(1 + i % 5)]
    df = spark.createDataFrame(rows, ["uuid", "time"])
    sc = spark.sparkContext
    group = "session_stats_chunked_width"
    sc.setJobGroup(group, group)
    try:
        got = sorted(tuple(r) for r in trails.session_stats_chunked(df, gap=1500).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(s)
              for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    fold = max((s for s in stages if s is not None), key=lambda s: s.stageId)
    assert fold.numTasks == int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = sorted(tuple(r) for r in trails.session_stats(df, gap=1500).collect())
    assert got == want and len(got) == 50


def test_trail_similarity_pairs_exact_jaccard(spark):
    from traildb_spark.operators import trails as T

    # u1 features {a,b,c}, u2 {b,c,d}, u3 {x}
    rows = [
        ("u1", 1, "a"), ("u1", 2, "b"), ("u1", 3, "c"), ("u1", 4, "b"),
        ("u2", 1, "b"), ("u2", 2, "c"), ("u2", 3, "d"),
        ("u3", 1, "x"),
    ]
    df = spark.createDataFrame(rows, "uuid string, time long, f string")
    out = T.trail_similarity_pairs(df, F.col("f"))
    [r] = out.collect()
    assert (r["uuid_a"], r["uuid_b"]) == ("u1", "u2")
    assert (r["features_a"], r["features_b"], r["shared"]) == (3, 3, 2)
    assert r["jaccard_ppm"] == 500000  # 2/4

    # ubiquity cap: a feature in all 3 trails is excluded everywhere
    rows2 = rows + [("u1", 9, "z"), ("u2", 9, "z"), ("u3", 9, "z")]
    df2 = spark.createDataFrame(rows2, "uuid string, time long, f string")
    capped = {
        (r["uuid_a"], r["uuid_b"]): (r["features_a"], r["shared"])
        for r in T.trail_similarity_pairs(
            df2, F.col("f"), max_trails_per_feature=2
        ).collect()
    }
    # z excluded from sizes AND candidates: identical to the uncapped run
    assert capped == {("u1", "u2"): (3, 2)}

    # min_jaccard_ppm prunes
    assert (
        T.trail_similarity_pairs(df, F.col("f"), min_jaccard_ppm=600000).count()
        == 0
    )


def test_set_jaccard_pairs_validation(spark):
    import pytest as _pytest

    from traildb_spark.operators.dedup import set_jaccard_pairs

    df = spark.createDataFrame([("a", "f")], "id string, f string")
    with _pytest.raises(ValueError, match="max_ids_per_feature"):
        set_jaccard_pairs(df, "id", "f", max_ids_per_feature=1)
    with _pytest.raises(ValueError, match="min_jaccard_ppm"):
        set_jaccard_pairs(df, "id", "f", min_jaccard_ppm=2_000_000)


def test_trail_vectors_layout_and_ann_composition(spark):
    from traildb_spark.operators import trails as T
    from traildb_spark.operators import dedup

    rows = [
        ("u1", "a"), ("u1", "a"), ("u1", "b"),
        ("u2", "a"), ("u2", "b"),
        ("u3", "c"), ("u3", None),  # NULL field values are ignored
    ]
    df = spark.createDataFrame(rows, "uuid string, event_type string")
    got = {r["uuid"]: (r["n_events"], r["vec"])
           for r in T.trail_vectors(df).collect()}
    # lexicon order a,b,c
    assert got == {"u1": (3, [2, 1, 0]), "u2": (2, [1, 1, 0]),
                   "u3": (1, [0, 0, 1])}

    # composition: the vectors feed the vector-similarity stack
    from traildb_spark.functions.vectorized import pairwise_cosine_pairs

    vecs = T.trail_vectors(df).select(
        F.col("uuid").alias("vec_id"),
        F.transform("vec", lambda x: x.cast("float")).alias("embedding"),
    )
    pairs = pairwise_cosine_pairs(vecs, threshold=0.9)
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # u1=(2,1,0) and u2=(1,1,0): cos = 3/(sqrt(5)*sqrt(2)) ≈ 0.949;
    # u3=(0,0,1) is orthogonal to both
    assert got_pairs == {("u1", "u2")}


def test_trail_vectors_lexicon_guard(spark):
    import pytest as _pytest

    from traildb_spark.operators import trails as T

    df = spark.createDataFrame(
        [(str(i), str(i)) for i in range(50)], "uuid string, event_type string"
    )
    with _pytest.raises(ValueError, match="max_lexicon"):
        T.trail_vectors(df, max_lexicon=10)


def test_entry_exit_struct_pick(spark):
    """Entry/exit shape as in q150: struct-min/max over (time, tiebreak,
    value) with deterministic same-timestamp resolution."""
    rows = [
        ("u", 5, 2, "b"), ("u", 5, 1, "a"), ("u", 9, 3, "c"),
        ("v", 1, 1, "x"),
    ]
    df = spark.createDataFrame(
        rows, "uuid string, time long, event_id long, event_type string"
    )
    per = df.groupBy("uuid").agg(
        F.min(F.struct("time", "event_id", "event_type"))["event_type"].alias("entry"),
        F.max(F.struct("time", "event_id", "event_type"))["event_type"].alias("exit"),
    )
    got = {r["uuid"]: (r["entry"], r["exit"]) for r in per.collect()}
    assert got == {"u": ("a", "c"), "v": ("x", "x")}


def test_trail_sequence_distance_hand_computed(spark):
    """u1 = a,b,c ; u2 = a,b,c (identical -> d 0, sim 1e6);
    u3 = a,c (one deletion from u1 -> d 1, sim 666666 over max len 3)."""
    from traildb_spark.operators.trails import trail_sequence_distance

    rows = [
        ("u1", 1, 1, "a"), ("u1", 2, 2, "b"), ("u1", 3, 3, "c"),
        ("u2", 1, 4, "a"), ("u2", 2, 5, "b"), ("u2", 3, 6, "c"),
        ("u3", 1, 7, "a"), ("u3", 2, 8, "c"),
    ]
    df = spark.createDataFrame(
        rows, "uuid string, time long, event_id long, event_type string"
    )
    got = {
        (r.uuid_a, r.uuid_b): (r.len_a, r.len_b, r.seq_distance, r.similarity_ppm)
        for r in trail_sequence_distance(df).collect()
    }
    assert got == {
        ("u1", "u2"): (3, 3, 0, 1000000),
        ("u1", "u3"): (3, 2, 1, 666666),
        ("u2", "u3"): (3, 2, 1, 666666),
    }


def test_trail_sequence_distance_guards(spark):
    from traildb_spark.operators.trails import trail_sequence_distance

    df = spark.createDataFrame(
        [("u", 1, 1, "a")], "uuid string, time long, event_id long, event_type string"
    )
    import pytest
    with pytest.raises(ValueError):
        trail_sequence_distance(df, max_lexicon=95)
    many = spark.createDataFrame(
        [(f"u{i}", 1, i, "a") for i in range(5)],
        "uuid string, time long, event_id long, event_type string",
    )
    with pytest.raises(ValueError):
        trail_sequence_distance(many, max_trails=3)


def test_trail_sequence_distance_order_sensitivity(spark):
    """Same event multiset, different order: Jaccard would say identical;
    the sequence distance must not."""
    from traildb_spark.operators.trails import trail_sequence_distance

    rows = [
        ("f", 1, 1, "a"), ("f", 2, 2, "b"), ("f", 3, 3, "c"),
        ("r", 1, 4, "c"), ("r", 2, 5, "b"), ("r", 3, 6, "a"),
    ]
    df = spark.createDataFrame(
        rows, "uuid string, time long, event_id long, event_type string"
    )
    r = trail_sequence_distance(df).collect()[0]
    assert r.seq_distance == 2


def test_trail_sequence_distance_null_field_is_empty_value(spark):
    """NULL field values fold to '' (the reference's empty-value
    convention) — they must render as a symbol, not silently drop."""
    from traildb_spark.operators.trails import trail_sequence_distance

    rows = [
        ("u1", 1, 1, None), ("u1", 2, 2, "a"),
        ("u2", 1, 3, None), ("u2", 2, 4, "a"),
    ]
    df = spark.createDataFrame(
        rows, "uuid string, time long, event_id long, event_type string"
    )
    r = trail_sequence_distance(df).collect()[0]
    assert (r.len_a, r.len_b, r.seq_distance) == (2, 2, 0)


def _capped_sessions_ref(ts, gap, cap):
    sessions = events = cur_n = best = 0
    start = last = None
    for t in sorted(ts):
        if last is None or t - last > gap or t - start > cap:
            best = max(best, cur_n)
            sessions += 1
            start = t
            cur_n = 0
        last = t
        cur_n += 1
        events += 1
    return sessions, events, max(best, cur_n)


def test_session_stats_capped_matches_reference(spark):
    """Duration cap splits a continuous drip that the gap rule never
    would; differential vs a sequential python fold, plus the gap-only
    reduction to session_stats when the cap is effectively infinite."""
    from traildb_spark.operators import trails

    rows = (
        # bot: event every 100s for 5000s — one gap-session, but cap 1000
        # slices it into ceil chunks
        [("bot", 100 * i) for i in range(50)]
        # human: three bursts separated by > gap
        + [("hum", t) for t in (0, 10, 20, 2000, 2010, 9000)]
        + [("one", 42)]
    )
    df = spark.createDataFrame(rows, "uuid string, time long")
    got = {
        r.uuid: (r.num_sessions, r.num_events, r.longest_session_events)
        for r in trails.session_stats_capped(
            df, gap=300, max_duration=1000
        ).collect()
    }
    by_uuid = {}
    for u, t in rows:
        by_uuid.setdefault(u, []).append(t)
    want = {u: _capped_sessions_ref(ts, 300, 1000) for u, ts in by_uuid.items()}
    assert got == want
    assert got["bot"][0] > 1  # the cap did the splitting
    # cap -> infinity reduces to the windowed session_stats
    inf = {
        r.uuid: (r.num_sessions, r.num_events)
        for r in trails.session_stats_capped(
            df, gap=300, max_duration=10**15
        ).collect()
    }
    base = {
        r.uuid: (r.num_sessions, r.num_events)
        for r in trails.session_stats(df, gap=300).collect()
    }
    assert inf == base
    import pytest
    with pytest.raises(ValueError):
        trails.session_stats_capped(df, gap=-1)
    with pytest.raises(ValueError):
        trails.session_stats_capped(df, max_duration=0)


def test_session_stats_capped_cross_chunk_state(spark):
    """Tiny Arrow batches + chunk_size force the session fold to carry
    (start, last, counts) across chunk seams."""
    from traildb_spark.operators import trails

    rows = [("u", 100 * i) for i in range(30)]
    df = spark.createDataFrame(rows, "uuid string, time long")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = trails.session_stats_capped(
            df, gap=300, max_duration=1000, chunk_size=3
        ).collect()[0]
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = _capped_sessions_ref([t for _, t in rows], 300, 1000)
    assert (got.num_sessions, got.num_events, got.longest_session_events) == want
