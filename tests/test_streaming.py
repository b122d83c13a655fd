"""Real Structured Streaming runs (file source, availableNow trigger,
memory sink) proving stream/batch parity for the sessionization idiom and
exercising the custom stateful trail operator."""

import pyspark.sql.functions as F
import pytest

from conftest import assert_disjoint, load_events, uuid_ranges_by_shard

from traildb_spark.streaming.sessions import (
    stateful_trail_counts,
    stream_events,
    streaming_session_counts,
)


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """sf0.001 events re-written as a 3-file parquet directory (arrival
    shards), normalized to (uuid, event_time)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_events(spark, sf_dir, as_timestamp=True).select("uuid", "event_time")
    ev.repartition(3).write.parquet(path)
    return path


def _run_stream(df, name, mode=None):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode or ("update" if name == "stateful" else "append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_sessions_match_batch(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    stream = stream_events(spark, event_dir, schema)
    assert stream.isStreaming
    out = streaming_session_counts(stream, gap_seconds=1800, watermark="0 seconds")
    _run_stream(out, "sessions")
    got = spark.sql(
        "select uuid, window_start, num_events from sessions"
    ).collect()
    bdf = spark.read.parquet(event_dir)
    max_ts = bdf.agg(F.max("event_time")).collect()[0][0]
    batch = (
        streaming_session_counts(bdf, gap_seconds=1800, watermark="0 seconds")
        # append-mode emits a session only once the watermark (== max event
        # time under availableNow) passes its end; sessions still open at
        # end-of-input stay in state — exclude them from the batch expectation
        .filter(F.col("window_end") <= F.lit(max_ts))
        .select("uuid", "window_start", "num_events")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert len(got) > 0


def test_stateful_trail_counts(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    stream = stream_events(spark, event_dir, schema)
    out = stateful_trail_counts(stream)
    _run_stream(out, "stateful")
    got = {r["uuid"]: r["n_events"] for r in spark.sql("select * from stateful").collect()}
    batch = {
        r["uuid"]: r["n"]
        for r in spark.read.parquet(event_dir).groupBy("uuid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # availableNow processes everything in one batch -> final counts equal batch
    assert got == batch


def test_streaming_dedup_exact(spark, sf_dir, tmp_path):
    from traildb_spark.streaming.ingest import streaming_dedup_exact
    from traildb_spark.operators.text import fingerprint as fp

    path = str(tmp_path / "docs")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("event_time", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
    )
    # inject exact duplicates with fresh ids
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1000000)
    docs.unionByName(dup).repartition(3).write.parquet(path)

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = streaming_dedup_exact(stream, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream").count()
    distinct_fp = (
        spark.read.parquet(path).select(fp(F.col("text")).alias("h")).distinct().count()
    )
    # everything arrives within one batch => exactly one survivor per content
    assert got == distinct_fp
    assert "content_hash" not in spark.sql("select * from dedup_stream").columns


def test_streaming_finalize_layout(spark, sf_dir, tmp_path):
    import os

    from traildb_spark.dataset import TrailDataset
    from traildb_spark.streaming.ingest import streaming_finalize

    src = str(tmp_path / "src")
    ev = load_events(spark, sf_dir)
    ev.repartition(3).write.parquet(src)

    out_dir = str(tmp_path / "tdb")
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = streaming_finalize(
        stream, out_dir, checkpoint=str(tmp_path / "ckpt"), time_shard="yyyy-MM-dd"
    )
    q.awaitTermination(120)

    ds = TrailDataset.open(spark, out_dir)
    assert ds.df.count() == ev.count()
    # sidecar written => time-range filters can prune shards on open()
    assert os.path.exists(os.path.join(out_dir, "_traildb_meta.json"))
    shards = [d for d in os.listdir(out_dir) if d.startswith("__shard=")]
    assert len(shards) >= 1


def test_compact_shards_preserves_data(spark, sf_dir, tmp_path):
    import os

    from traildb_spark.dataset import TrailDataset, compact_shards
    from traildb_spark.streaming.ingest import streaming_finalize

    src = str(tmp_path / "src")
    ev = load_events(spark, sf_dir)
    ev.repartition(3).write.parquet(src)
    out = str(tmp_path / "tdb")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_finalize(stream, out, checkpoint=str(tmp_path / "ck"), time_shard="yyyy-MM-dd")
    q.awaitTermination(180)

    shard0 = sorted(d for d in os.listdir(out) if d.startswith("__shard="))[0]
    n_files = lambda: len(
        [f for f in os.listdir(os.path.join(out, shard0)) if f.endswith(".parquet")]
    )
    before_files = n_files()
    before = {tuple(r) for r in TrailDataset.open(spark, out).df.collect()}
    # scheme-qualified path: compaction must run purely through the Hadoop
    # FileSystem API resolved from the path's scheme (hdfs://s3a:// story),
    # never os.rename on the bare local path
    compact_shards(spark, f"file://{out}", num_buckets=2)
    assert {tuple(r) for r in TrailDataset.open(spark, out).df.collect()} == before
    ranges = uuid_ranges_by_shard(spark, out)
    assert all(len(r) <= 2 for r in ranges.values())
    assert any(len(r) == 2 for r in ranges.values())
    for r in ranges.values():
        assert_disjoint(r)
    compact_shards(spark, f"file://{out}", num_buckets=1)
    assert {tuple(r) for r in TrailDataset.open(spark, out).df.collect()} == before
    assert n_files() <= before_files and n_files() == 1


def test_streaming_batch_keeps_index_entry(spark, tmp_path):
    """A batch landed after ``build_index`` keeps the sidecar's z-index
    entry: ``open`` warns that the index is stale and ignores it, and a
    covered dump returns the primary's rows, the new batch's included."""
    from traildb_spark import normalize_events, parse_filter
    from traildb_spark.dataset import TrailDataset
    from traildb_spark.streaming.ingest import _finalize_batch

    day0 = 1704067200
    rows = [(f"{u:032x}", day0 + d * 86400 + u, "xy"[u % 2]) for u in range(8) for d in range(2)]
    path = str(tmp_path / "tdb")
    for batch_id, part in enumerate((rows[:8], rows[8:])):
        ev = normalize_events(spark.createDataFrame(part, ["uuid", "time", "f"]))
        _finalize_batch(ev, batch_id, path, time_shard="yyyy-MM-dd")
        if batch_id == 0:
            TrailDataset.build_index(spark, path, ["f"])
            assert TrailDataset.open(spark, path)._zindex is not None
    with pytest.warns(UserWarning, match="stale"):
        ds = TrailDataset.open(spark, path)
    assert ds._zindex is None

    def dump(d):
        return sorted(map(tuple, d.with_filter(parse_filter("f=x")).df.select("uuid", "time", "f").collect()))

    primary = TrailDataset.open(spark, path, use_index=False)
    assert dump(ds) == dump(primary) == sorted(r for r in rows if r[2] == "x")


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path):
    from traildb_spark.streaming.sessions import streaming_funnel
    from traildb_spark.operators import analytics

    path = str(tmp_path / "funnel_events")
    ev = load_events(spark, sf_dir, as_timestamp=True)
    # time-ordered arrival (the parity contract) — single sorted file
    ev.orderBy("event_time").coalesce(1).write.parquet(path)

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = streaming_funnel(stream, ["signup", "view", "purchase"])
    _run_stream(out, "sfunnel", mode="update")
    got = {
        r["uuid"]: (r["s0"], r["s1"], r["s2"])
        for r in spark.sql("select * from sfunnel").collect()
    }

    batch_in = spark.read.parquet(path).select(
        "uuid", F.unix_timestamp("event_time").alias("time"), "event_type"
    )
    steps = [F.col("event_type") == s for s in ("signup", "view", "purchase")]
    want = {
        r["uuid"]: (r["s0"], r["s1"], r["s2"])
        for r in analytics.funnel_times(batch_in, steps).collect()
    }
    assert got == want and len(got) > 0


def test_finalize_batch_idempotent_on_replay(spark, sf_dir, tmp_path):
    """The at-least-once crash-retry contract: replaying a batch id must
    not duplicate events — (a) full replay after commit is skipped via the
    marker, (b) replay after a PARTIAL commit (files moved, marker never
    written — the crash window) overwrites deterministically instead of
    appending."""
    import os

    from traildb_spark.dataset import TrailDataset
    from traildb_spark.streaming.ingest import _finalize_batch

    ev = load_events(spark, sf_dir).limit(500)
    out = str(tmp_path / "tdb")

    assert _finalize_batch(ev, 7, out, time_shard="yyyy-MM-dd") is True
    n1 = TrailDataset.open(spark, out).df.count()
    assert n1 == 500

    # (a) replay of a committed batch: skipped, no growth
    assert _finalize_batch(ev, 7, out, time_shard="yyyy-MM-dd") is False
    assert TrailDataset.open(spark, out).df.count() == n1

    # (b) crash between data move and marker write: delete the marker to
    # re-open the crash window, replay — deterministic names overwrite
    os.remove(os.path.join(out, "_traildb_commits", "batch-manual-7"))
    assert _finalize_batch(ev, 7, out, time_shard="yyyy-MM-dd") is True
    assert TrailDataset.open(spark, out).df.count() == n1

    # a distinct batch id appends as new data
    assert _finalize_batch(ev, 8, out, time_shard="yyyy-MM-dd") is True
    assert TrailDataset.open(spark, out).df.count() == 2 * n1

    # a NEW checkpoint lineage restarting at batch id 7 must append, not
    # be discarded by the old lineage's marker
    assert (
        _finalize_batch(ev, 7, out, time_shard="yyyy-MM-dd", run_token="ckpt2")
        is True
    )
    assert TrailDataset.open(spark, out).df.count() == 3 * n1


def _append_watermark_sentinels(spark, path, schema, max_ts, uuid="ffffffff"):
    """Two far-future single-row files that arrive as LATER micro-batches
    (mtime order) and push the watermark past every real event — the
    standard way to surface the tail of a watermarked append-mode
    operator when draining a finite test stream."""
    import time as _time

    for i, off in enumerate((10**6, 2 * 10**6)):
        _time.sleep(0.05)  # distinct mtimes → deterministic batch order
        spark.createDataFrame(
            [(uuid, max_ts + off, "noop")], "uuid string, t long, event_type string"
        ).withColumn("event_time", F.timestamp_seconds(F.col("t"))).drop("t") \
            .select(*[f.name for f in schema.fields]) \
            .coalesce(1).write.mode("append").parquet(path)


def test_streaming_attribution_matches_batch(spark, sf_dir, tmp_path):
    from traildb_spark.streaming.sessions import streaming_attribution
    from traildb_spark.operators import analytics

    path = str(tmp_path / "attr_events")
    ev = load_events(spark, sf_dir, as_timestamp=True)
    ev.orderBy("event_time").coalesce(1).write.parquet(path)
    schema = spark.read.parquet(path).schema
    max_ts = spark.read.parquet(path).agg(
        F.max(F.unix_timestamp("event_time"))
    ).first()[0]
    _append_watermark_sentinels(spark, path, schema, max_ts)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_attribution(
        stream, "purchase", ["click", "view"], lookback=86400
    )
    _run_stream(out, "sattr", mode="append")
    got = (
        spark.sql(
            "select channel, count(*) as conversions from sattr "
            "where uuid <> 'ffffffff' group by channel"
        ).collect()
    )
    got = {r["channel"]: r["conversions"] for r in got}

    batch_in = spark.read.parquet(path).select(
        "uuid", F.unix_timestamp("event_time").alias("time"), "event_type",
        F.monotonically_increasing_id().alias("event_id"),
    )
    # the streaming file is globally time-sorted, so per-trail file order
    # == time order; the batch tiebreak must follow the same arrival order
    want = {
        r["channel"]: r["conversions"]
        for r in analytics.attribution(
            batch_in, "purchase", ["click", "view"], 86400, "last_touch",
            "event_type", None, "uuid", "time", "event_id",
        ).collect()
    }
    assert got == want and sum(got.values()) > 0


def test_streaming_funnel_out_of_order_matches_batch(spark, tmp_path):
    """Cross-micro-batch DISORDER within the watermark: a trail's earlier
    events arrive in a LATER batch; the reorder buffer must still produce
    the batch fold (r3's parity contract held only under time-ordered
    arrival — this is the closed gap)."""
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.sessions import streaming_funnel

    base = 1700000000
    rows = [
        # u1 completes a->b->c but b,c arrive one batch BEFORE a
        ("u1", base + 100, "view"), ("u1", base + 200, "purchase"),
        ("u1", base + 10, "signup"),
        # u2: conversion-window violation only visible after reorder
        ("u2", base + 500, "purchase"), ("u2", base + 490, "view"),
        ("u2", base + 480, "signup"),
    ]
    path = str(tmp_path / "ooo_funnel")
    import time as _time

    # file 1 = the LATER events, file 2 = the earlier ones (mtime order
    # drives micro-batch order under maxFilesPerTrigger=1)
    for chunk in (rows[:2] + rows[3:4], rows[2:3] + rows[4:]):
        _time.sleep(0.05)
        spark.createDataFrame(
            chunk, "uuid string, t long, event_type string"
        ).withColumn("event_time", F.timestamp_seconds(F.col("t"))).drop("t") \
            .coalesce(1).write.mode("append").parquet(path)

    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_funnel(stream, ["signup", "view", "purchase"], watermark="1 hour")
    _run_stream(out, "ooo_sfunnel", mode="update")
    got = {
        r["uuid"]: (r["s0"], r["s1"], r["s2"])
        for r in spark.sql("select * from ooo_sfunnel").collect()
    }
    batch_in = spark.createDataFrame(rows, "uuid string, time long, event_type string")
    steps = [F.col("event_type") == s for s in ("signup", "view", "purchase")]
    want = {
        r["uuid"]: (r["s0"], r["s1"], r["s2"])
        for r in analytics.funnel_times(batch_in, steps).collect()
    }
    assert got == want
    assert got["u1"] == (base + 10, base + 100, base + 200)


def test_streaming_attribution_out_of_order_matches_batch(spark, tmp_path):
    """A touch arriving one batch AFTER the conversion it precedes (but
    within the watermark) must still win the attribution — finalized-only
    emission + the reorder buffer."""
    from traildb_spark.streaming.sessions import streaming_attribution

    base = 1700000000
    path = str(tmp_path / "ooo_attr")
    import time as _time

    chunks = [
        [("u1", base + 300, "purchase"), ("u2", base + 40, "click")],
        [("u1", base + 250, "click"), ("u2", base + 90, "purchase")],
    ]
    for chunk in chunks:
        _time.sleep(0.05)
        spark.createDataFrame(
            chunk, "uuid string, t long, event_type string"
        ).withColumn("event_time", F.timestamp_seconds(F.col("t"))).drop("t") \
            .coalesce(1).write.mode("append").parquet(path)
    schema = spark.read.parquet(path).schema
    _append_watermark_sentinels(spark, path, schema, base + 300)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_attribution(
        stream, "purchase", ["click", "view"], lookback=86400, watermark="1 hour"
    )
    _run_stream(out, "ooo_sattr", mode="append")
    got = {
        (r["uuid"], r["conv_time"], r["channel"])
        for r in spark.sql(
            "select * from ooo_sattr where uuid <> 'ffffffff'"
        ).collect()
    }
    # u1's click@+250 arrived after the purchase@+300 but precedes it in
    # event time → click wins; u2 is the in-order control
    assert got == {
        ("u1", base + 300, "click"),
        ("u2", base + 90, "click"),
    }


def test_streaming_countmin_matches_batch(spark, sf_dir, tmp_path):
    """Streamed sketch (merged across micro-batches) equals the one-shot
    batch sketch, and replaying a committed batch doesn't double-count."""
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import streaming_countmin

    path = str(tmp_path / "cm_events")
    ev = load_events(spark, sf_dir, as_timestamp=True)
    # several files → several micro-batches via maxFilesPerTrigger
    ev.repartition(4).write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = str(tmp_path / "cm_out")
    q = streaming_countmin(
        stream, "event_type", out, str(tmp_path / "cm_ckpt"), width=64, depth=4
    )
    q.awaitTermination(120)

    import os
    with open([f"{out}/{f}" for f in os.listdir(out) if f.startswith("_latest")][0]) as fh:
        cur = fh.read().strip()
    streamed = spark.read.parquet(cur)
    batch = analytics.countmin_build(
        spark.read.parquet(path), "event_type", width=64, depth=4
    )
    a = {(r["d"], r["cell"]): r["c"] for r in streamed.collect()}
    b = {(r["d"], r["cell"]): r["c"] for r in batch.collect()}
    assert a == b and len(a) > 0

    # crash-replay the LAST committed batch: pointer already at its
    # output → _countmin_batch returns False and counts are unchanged
    import hashlib
    from traildb_spark.streaming.ingest import _countmin_batch

    token = hashlib.md5(str(tmp_path / "cm_ckpt").encode()).hexdigest()[:8]
    last_id = int(cur.rsplit("_", 1)[1])
    replay_df = spark.read.parquet(path)  # superset of the last batch
    assert _countmin_batch(
        replay_df, last_id, out, "event_type", 64, 4, "cm:", token
    ) is False
    after = {
        (r["d"], r["cell"]): r["c"] for r in spark.read.parquet(cur).collect()
    }
    assert after == b


def test_streaming_attribution_chunked_arrival(spark, sf_dir, tmp_path):
    """Small Arrow batches force multi-chunk groups: state must sort the
    WHOLE group, not each chunk (regression for per-chunk sort_values)."""
    from traildb_spark.streaming.sessions import streaming_attribution
    from traildb_spark.operators import analytics

    path = str(tmp_path / "attr_chunks")
    ev = load_events(spark, sf_dir, as_timestamp=True).limit(600)
    # write UNsorted multi-partition input: chunks arrive out of order
    ev.repartition(8).write.parquet(path)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        out = streaming_attribution(
            stream, "purchase", ["click", "view"], lookback=86400
        )
        _run_stream(out, "sattr2", mode="append")
        got = {
            r["channel"]: r["conversions"]
            for r in spark.sql(
                "select channel, count(*) conversions from sattr2 group by channel"
            ).collect()
        }
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    batch_in = spark.read.parquet(path).select(
        "uuid", F.unix_timestamp("event_time").alias("time"), "event_type",
    )
    want = {
        r["channel"]: r["conversions"]
        for r in analytics.attribution(
            batch_in, "purchase", ["click", "view"], 86400, "last_touch",
            "event_type", None, "uuid", "time",
        ).collect()
    }
    assert got == want and sum(got.values()) > 0


def test_countmin_checkpoint_reset_refuses(spark, tmp_path):
    """batch id 0 against existing state = cleared-checkpoint reuse: the
    accumulated sketch must neither be double-merged NOR silently
    destroyed — the batch refuses loudly (same contract as
    ``_finalize_batch``), and a genuine replay of id 0 still no-ops."""
    import pytest as _pytest

    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import _countmin_batch

    out = str(tmp_path / "cm_reset")
    df = spark.createDataFrame([("a",), ("b",), ("a",)], ["v"])
    assert _countmin_batch(df, 0, out, "v", 64, 2, "cm:", "tok") is True
    # replay of id 0 while the pointer still references its own output:
    # legitimate at-least-once replay, state untouched
    assert _countmin_batch(df, 0, out, "v", 64, 2, "cm:", "tok") is False
    assert _countmin_batch(df, 1, out, "v", 64, 2, "cm:", "tok") is True
    # "reset": same token, batch ids restart at 0 over existing state
    with _pytest.raises(RuntimeError, match="previous lineage"):
        _countmin_batch(df, 0, out, "v", 64, 2, "cm:", "tok")
    # the accumulated sketch survives the refused batch
    with open(f"{out}/_latest_tok") as fh:
        cur = fh.read().strip()
    est = {
        r["value"]: r["est"]
        for r in analytics.countmin_probe(
            spark.read.parquet(cur), df.distinct(), "v", width=64, depth=2
        ).collect()
    }
    assert est == {"a": 4, "b": 2}  # two committed passes, not zero/three


def test_finalize_cleared_checkpoint_refuses(spark, sf_dir, tmp_path):
    """Cleared-checkpoint reuse (same token, ids restart at 0, output
    holds old commits) must raise, not silently drop the new batches."""
    import pytest as _pytest

    from traildb_spark.streaming.ingest import _finalize_batch

    ev = load_events(spark, sf_dir).limit(100)
    out = str(tmp_path / "tdb")
    assert _finalize_batch(ev, 0, out, run_token="tok") is True
    assert _finalize_batch(ev, 1, out, run_token="tok") is True
    # genuine crash-replay of the LAST batch: skip quietly
    assert _finalize_batch(ev, 1, out, run_token="tok") is False
    # new lineage (ids restart at 0) against the same output: loud refusal
    with _pytest.raises(RuntimeError, match="previous lineage"):
        _finalize_batch(ev, 0, out, run_token="tok")


def test_stream_stream_touch_conversion_join_matches_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream interval join equals the batch
    pairing (attribution_linear's join condition) for in-watermark data."""
    from traildb_spark.streaming.sessions import streaming_touch_conversion_join

    path = str(tmp_path / "ssj_events")
    ev = load_events(spark, sf_dir, as_timestamp=True).limit(2000)
    ev.orderBy("event_time").coalesce(1).write.parquet(path)
    schema = spark.read.parquet(path).schema

    touches = (
        spark.readStream.schema(schema).parquet(path)
        .filter(F.col("event_type").isin("click", "view"))
    )
    convs = (
        spark.readStream.schema(schema).parquet(path)
        .filter(F.col("event_type") == "purchase")
    )
    out = streaming_touch_conversion_join(touches, convs, lookback=86400)
    _run_stream(out, "ssj", mode="append")
    got = {
        (r["uuid"], r["touch_time"], r["conv_time"], r["channel"])
        for r in spark.sql("select * from ssj").collect()
    }

    b = spark.read.parquet(path).select(
        "uuid", F.unix_timestamp("event_time").alias("t"), "event_type"
    )
    bt = b.filter(F.col("event_type").isin("click", "view")).select(
        F.col("uuid").alias("u"), F.col("t").alias("tt"),
        F.col("event_type").alias("ch"),
    )
    bc = b.filter(F.col("event_type") == "purchase").select("uuid", F.col("t").alias("ct"))
    want = {
        (r["uuid"], r["tt"], r["ct"], r["ch"])
        for r in bc.join(
            bt,
            (F.col("uuid") == F.col("u"))
            & (F.col("tt") < F.col("ct"))
            & (F.col("tt") >= F.col("ct") - 86400),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_join_id_tiebreak_matches_batch_exactly(spark, tmp_path):
    """With id_col the stream join reproduces attribution_linear's FULL
    pairing including equal-timestamp touches with smaller event id
    (tt == ct AND tid < cid) — the r3-documented divergence, closed; and
    channel_col is honored instead of a hard-coded event_type."""
    from traildb_spark.streaming.sessions import streaming_touch_conversion_join

    base = 1700000000
    rows = [
        # (uuid, time, event_id, kind): equal-ts pairs in both id orders
        ("u1", base, 1, "click"), ("u1", base, 2, "purchase"),   # kept: 1 < 2
        ("u2", base, 9, "click"), ("u2", base, 4, "purchase"),   # dropped: 9 > 4
        ("u3", base - 50, 5, "view"), ("u3", base, 6, "purchase"),  # normal
        ("u4", base - 99999, 7, "click"), ("u4", base, 8, "purchase"),  # out of lookback
    ]
    path = str(tmp_path / "tiebreak")
    spark.createDataFrame(
        rows, "uuid string, t long, event_id long, kind string"
    ).withColumn("event_time", F.timestamp_seconds(F.col("t"))).drop("t") \
        .coalesce(1).write.parquet(path)
    schema = spark.read.parquet(path).schema
    touches = (
        spark.readStream.schema(schema).parquet(path)
        .filter(F.col("kind").isin("click", "view"))
    )
    convs = (
        spark.readStream.schema(schema).parquet(path)
        .filter(F.col("kind") == "purchase")
    )
    out = streaming_touch_conversion_join(
        touches, convs, lookback=86400,
        channel_col="kind", id_col="event_id",
    )
    _run_stream(out, "ssj_tie", mode="append")
    got = {
        (r["uuid"], r["touch_time"], r["conv_time"], r["channel"])
        for r in spark.sql("select * from ssj_tie").collect()
    }
    assert got == {
        ("u1", base, base, "click"),
        ("u3", base - 50, base, "view"),
    }


def test_streaming_uniform_sample_equals_batch(spark, sf_dir, tmp_path):
    """The maintained exactly-k sample is IDENTICAL to the batch
    uniform_sample_exact over the same data (md5 rank ignores arrival
    order), state stays k rows, replays no-op, and cleared-checkpoint
    reuse refuses."""
    import pytest as _pytest

    from traildb_spark.operators import curation
    from traildb_spark.streaming.ingest import (
        _sample_batch,
        sample_current,
        streaming_uniform_sample,
    )

    path = str(tmp_path / "docs_stream")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    docs.repartition(4).write.parquet(path)  # several files -> several batches
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = str(tmp_path / "sample_out")
    q = streaming_uniform_sample(
        stream, k=37, path=out, checkpoint=str(tmp_path / "sample_ckpt")
    )
    q.awaitTermination(120)

    got = {r["doc_id"] for r in sample_current(
        spark, out, str(tmp_path / "sample_ckpt")
    ).collect()}
    want = {
        r["doc_id"]
        for r in curation.uniform_sample_exact(docs, 37, "doc_id").collect()
    }
    assert got == want and len(got) == 37

    # crash-replay of the last committed id: pointer already advanced
    last_id = 3
    assert _sample_batch(
        docs.limit(5), last_id, out, 37, "doc_id", "",
        __import__("hashlib").md5(str(tmp_path / "sample_ckpt").encode()).hexdigest()[:8],
    ) is False
    # cleared-checkpoint reuse refuses instead of corrupting the sample
    with _pytest.raises(RuntimeError, match="cleared checkpoint"):
        _sample_batch(
            docs.limit(5), 0, out, 37, "doc_id", "",
            __import__("hashlib").md5(str(tmp_path / "sample_ckpt").encode()).hexdigest()[:8],
        )


def test_pointer_protocol_hadoop_fs_qualified_paths(spark, tmp_path):
    """The countmin/sample pointer state must work against scheme-QUALIFIED
    paths (``file://...``): every pointer read, atomic swap, and prev-state
    delete goes through the Hadoop FileSystem API, so the identical code
    path serves hdfs:// and s3a:// deployments — the same posture as
    ``_finalize_batch``. (os.path/open() on a ``file://``-prefixed string
    would look for a literal ``./file:`` directory and corrupt or lose
    state silently.)"""
    import os

    import pytest as _pytest

    from traildb_spark.streaming.ingest import (
        _countmin_batch,
        _fs_read_small,
        _sample_batch,
    )

    df = spark.createDataFrame([("a",), ("b",), ("a",)], ["v"])
    out = f"file://{tmp_path}/cm_q"
    assert _countmin_batch(df, 0, out, "v", 64, 2, "cm:", "tok") is True
    # replay of the committed id: pointer already references its output
    assert _countmin_batch(df, 0, out, "v", 64, 2, "cm:", "tok") is False
    assert _countmin_batch(df, 1, out, "v", 64, 2, "cm:", "tok") is True
    with _pytest.raises(RuntimeError, match="previous lineage"):
        _countmin_batch(df, 0, out, "v", 64, 2, "cm:", "tok")
    cur = _fs_read_small(spark, f"{out}/_latest_tok")
    assert cur is not None and cur.endswith("sketch_tok_1")
    assert spark.read.parquet(cur).count() > 0
    # superseded sketch dirs are deleted through the FS API too
    assert [
        d for d in os.listdir(f"{tmp_path}/cm_q") if d.startswith("sketch")
    ] == ["sketch_tok_1"]

    sdf = spark.createDataFrame([(str(i),) for i in range(50)], ["doc_id"])
    sout = f"file://{tmp_path}/sm_q"
    assert _sample_batch(sdf, 0, sout, 7, "doc_id", "", "tok") is True
    assert _sample_batch(sdf, 0, sout, 7, "doc_id", "", "tok") is False
    assert _sample_batch(sdf, 1, sout, 7, "doc_id", "", "tok") is True
    cur2 = _fs_read_small(spark, f"{sout}/_latest_tok")
    assert spark.read.parquet(cur2).count() == 7


def test_streaming_heavy_hitters_guarantee_and_replay(spark, sf_dir, tmp_path):
    """The maintained MG state must certify the same exact frequent set
    as the batch pipeline over everything streamed so far (the
    mergeable-summaries guarantee survives incremental merging), with
    state <= k+1 rows, replay no-ops, and cleared-checkpoint refusal —
    same pointer contract as countmin/sample."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from traildb_spark.operators.analytics import heavy_hitters_exact
    from traildb_spark.streaming.ingest import (
        _heavy_hitters_batch,
        heavy_hitters_current,
        streaming_heavy_hitters,
    )

    path = str(tmp_path / "hh_src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    docs.repartition(4).write.parquet(path)  # several files -> several batches
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = str(tmp_path / "hh_out")
    ckpt = str(tmp_path / "hh_ckpt")
    k = 60
    q = streaming_heavy_hitters(stream, "token", out, ckpt, k=k)
    q.awaitTermination(120)

    state = heavy_hitters_current(spark, out, ckpt)
    assert state.count() <= k  # bounded state, stream-length-independent

    # certify: candidates ⊇ guaranteed-frequent; exact recount of the
    # candidates == the batch exact frequent set over the same data
    all_toks = spark.read.parquet(path)
    n = all_toks.count()
    cand = state.select(F.col("value").alias("token"))
    exact = (
        all_toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * (k + 1) > F.lit(n))
    )
    got = {r["token"]: r["n"] for r in exact.collect()}
    want = {
        r["value"]: r["n"]
        for r in heavy_hitters_exact(all_toks, "token", k).collect()
    }
    assert got == want and len(want) > 0

    # bounds bracket truth for every reported value
    truth = {
        r["token"]: r["c"]
        for r in all_toks.groupBy("token").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for r in state.collect():
        assert r["lo"] <= truth.get(r["value"], 0) <= r["hi"]

    # crash-replay of the last committed id: pointer already advanced
    import hashlib

    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    assert _heavy_hitters_batch(
        all_toks.limit(5), 3, out, "token", k, token
    ) is False
    with _pytest.raises(RuntimeError, match="cleared checkpoint"):
        _heavy_hitters_batch(all_toks.limit(5), 0, out, "token", k, token)


def test_apply_to_trails_stream_out_of_order_matches_batch(spark, tmp_path):
    """Generic streaming cursor fold (streaming/cursor.py): the same
    init/step/finish contract as trails.apply_to_trails_chunked, run over
    a watermarked stream with cross-micro-batch DISORDER. The reorder
    buffer feeds the fold watermark-final events in time order, and the
    idle timeout fires finish() — so the emitted session stats equal the
    batch window path exactly."""
    from traildb_spark.operators import trails
    from traildb_spark.streaming.cursor import streaming_session_stats_cursor

    base = 1700000000
    rows = [
        # u1: two sessions (gap 1900 > 1800) — the session-opening event
        # arrives one batch LATE
        ("u1", base + 2000, "x"), ("u1", base + 2100, "x"),
        ("u1", base + 0, "x"),
        # u2: one session, in order
        ("u2", base + 10, "x"), ("u2", base + 1700, "x"),
        # u3: single event
        ("u3", base + 5, "x"),
    ]
    path = str(tmp_path / "ooo_cursor")
    import time as _time

    for chunk in (rows[:2] + rows[3:4], rows[2:3] + rows[4:]):
        _time.sleep(0.05)
        spark.createDataFrame(
            chunk, "uuid string, t long, event_type string"
        ).withColumn("event_time", F.timestamp_seconds(F.col("t"))).drop("t") \
            .coalesce(1).write.mode("append").parquet(path)
    schema = spark.read.parquet(path).schema
    _append_watermark_sentinels(spark, path, schema, base + 2100)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_session_stats_cursor(
        stream, gap=1800, watermark="1 hour", idle_timeout=7200
    )
    _run_stream(out, "ooo_cursor_sessions", mode="append")
    got = {
        r["uuid"]: (r["num_sessions"], r["num_events"])
        for r in spark.sql(
            "select * from ooo_cursor_sessions where uuid <> 'ffffffff'"
        ).collect()
    }
    batch_in = spark.createDataFrame(
        [(u, t) for u, t, _ in rows], "uuid string, time long"
    )
    want = {
        r["uuid"]: (r["num_sessions"], r["num_events"])
        for r in trails.session_stats(batch_in, gap=1800).collect()
    }
    assert got == want
    assert got["u1"] == (2, 3)  # the late-arriving opener re-ordered first


def test_apply_to_trails_stream_validates_idle_timeout(spark):
    import pytest as _pytest

    from traildb_spark.streaming.cursor import apply_to_trails_stream

    df = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="idle_timeout"):
        apply_to_trails_stream(
            df, lambda u: None, lambda s, c: (s, None), lambda s: None,
            "uuid string", idle_timeout=0,
        )


def test_streaming_histogram_drift_matches_batch(spark, sf_dir, tmp_path):
    """Streamed histogram (merged across micro-batches) equals the batch
    histogram; histogram_tvd(reference-window hist, live hist) equals
    distribution_drift on the combined data; committed-batch replay is a
    no-op."""
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import (
        _histogram_batch,
        histogram_current,
        streaming_histogram,
    )

    # load_events deliberately omits `value`; this test needs it
    from traildb_spark.functions.core import ts_seconds

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("user_id").cast("string").alias("uuid"),
        ts_seconds(raw).alias("time"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("value"),
    )
    t_split = int(ev.agg(F.expr("percentile(time, 0.5)")).first()[0])
    win_a = ev.filter(F.col("time") < t_split)
    win_b = ev.filter(F.col("time") >= t_split)

    path = str(tmp_path / "hist_src")
    win_b.repartition(3).write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = str(tmp_path / "hist_out")
    ckpt = str(tmp_path / "hist_ckpt")
    q = streaming_histogram(stream, out, ckpt, bin_width=10.0)
    q.awaitTermination(120)

    live = histogram_current(spark, out, ckpt)
    batch = analytics.value_histogram(win_b, bin_width=10.0)
    a = {(r["key"], r["bin"]): r["cnt"] for r in live.collect()}
    b = {(r["key"], r["bin"]): r["cnt"] for r in batch.collect()}
    assert a == b and len(a) > 0

    # drift vs the frozen window-A reference == the one-pass batch drift
    ref = analytics.value_histogram(win_a, bin_width=10.0)
    drift_stream = {
        r["key"]: (r["tot_a"], r["tot_b"], r["tvd_ppm"])
        for r in analytics.histogram_tvd(ref, live).collect()
    }
    drift_batch = {
        r["key"]: (r["tot_a"], r["tot_b"], r["tvd_ppm"])
        for r in analytics.distribution_drift(
            ev, t_split=t_split, bin_width=10.0
        ).collect()
    }
    assert drift_stream == drift_batch

    # crash-replay the last committed batch id: pointer already advanced
    import hashlib

    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    cur = [
        f for f in __import__("os").listdir(out) if f.startswith("_latest")
    ][0]
    with open(f"{out}/{cur}") as fh:
        last = fh.read().strip()
    last_id = int(last.rsplit("_", 1)[1])
    assert (
        _histogram_batch(
            spark.read.parquet(path), last_id, out, "event_type", "value",
            10.0, token,
        )
        is False
    )
    after = {
        (r["key"], r["bin"]): r["cnt"]
        for r in histogram_current(spark, out, ckpt).collect()
    }
    assert after == a


def test_streaming_histogram_cleared_checkpoint_refuses(spark, tmp_path):
    from traildb_spark.streaming.ingest import _histogram_batch

    df = spark.createDataFrame(
        [("k", 1.0), ("k", 2.0)], "event_type string, value double"
    )
    out = str(tmp_path / "h_out")
    assert _histogram_batch(df, 0, out, "event_type", "value", 1.0, "tok") is True
    assert _histogram_batch(df, 0, out, "event_type", "value", 1.0, "tok") is False
    assert _histogram_batch(df, 1, out, "event_type", "value", 1.0, "tok") is True
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="previous lineage"):
        _histogram_batch(df, 0, out, "event_type", "value", 1.0, "tok")


def test_streaming_anomalies_from_histogram_state(spark, sf_dir, tmp_path):
    """Streaming volume-anomaly monitor: a time-bucket-keyed streaming
    histogram + anomalies_from_counts over its live state must equal
    the one-shot batch anomalous_buckets on the same events."""
    from traildb_spark.functions.core import ts_seconds
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import (
        histogram_current,
        streaming_histogram,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("event_type").cast("string").alias("event_type"),
        ts_seconds(raw).alias("time"),
    )
    path = str(tmp_path / "anom_src")
    ev.repartition(3).write.parquet(path)
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out, ckpt = str(tmp_path / "anom_out"), str(tmp_path / "anom_ckpt")
    # histogram the stream on TIME buckets: value_col=time, width=3600s
    q = streaming_histogram(
        stream, out, ckpt, key_col="event_type", value_col="time",
        bin_width=3600.0,
    )
    q.awaitTermination(120)

    live = histogram_current(spark, out, ckpt).select(
        "key", F.col("bin").alias("b"), F.col("cnt").alias("y")
    )
    streamed = {
        (r["key"], r["bucket"]): (r["y"], r["dev_num"], r["bound_num"])
        for r in analytics.anomalies_from_counts(live, k=2).collect()
    }
    batch = {
        (r["key"], r["bucket"]): (r["y"], r["dev_num"], r["bound_num"])
        for r in analytics.anomalous_buckets(
            ev, bucket_seconds=3600, k=2
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_streaming_hll_matches_batch_and_trend_from_state(spark, sf_dir, tmp_path):
    """streamed HLL registers == the one-shot batch sketch; plus the
    trend leg of the monitoring trio: trend_from_counts over a
    time-bucketed streaming histogram == batch trend_by_key."""
    from traildb_spark.functions.core import ts_seconds
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import (
        _hll_batch,
        histogram_current,
        hll_current,
        streaming_histogram,
        streaming_hll,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("event_type").cast("string").alias("event_type"),
        ts_seconds(raw).alias("time"),
        F.concat_ws(":", F.col("user_id").cast("string"), F.col("props")).alias("pair"),
    )
    path = str(tmp_path / "hll_src")
    ev.repartition(3).write.parquet(path)
    schema = spark.read.parquet(path).schema

    # --- HLL leg ---
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out, ckpt = str(tmp_path / "hll_out"), str(tmp_path / "hll_ckpt")
    q = streaming_hll(stream, "pair", out, ckpt, p=7)
    q.awaitTermination(120)
    [live] = hll_current(spark, out, ckpt, p=7).collect()
    [batch] = analytics.hll_distinct(ev, "pair", p=7).collect()
    assert (live["m"], live["n_present"], live["numer_d"], live["estimate"]) == (
        batch["m"], batch["n_present"], batch["numer_d"], batch["estimate"])

    # replay of the committed last batch is a no-op
    import hashlib, os

    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    cur = [f for f in os.listdir(out) if f.startswith("_latest")][0]
    with open(f"{out}/{cur}") as fh:
        last_id = int(fh.read().strip().rsplit("_", 1)[1])
    assert _hll_batch(
        spark.read.parquet(path), last_id, out, "pair", 7, token
    ) is False

    # --- trend leg ---
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out2, ckpt2 = str(tmp_path / "tr_out"), str(tmp_path / "tr_ckpt")
    q2 = streaming_histogram(
        stream2, out2, ckpt2, key_col="event_type", value_col="time",
        bin_width=86400.0,
    )
    q2.awaitTermination(120)
    live_counts = histogram_current(spark, out2, ckpt2).select(
        "key", F.col("bin").alias("b"), F.col("cnt").alias("y")
    )
    streamed = {
        r["key"]: (r["n_buckets"], r["total"], r["slope_num"], r["slope_den"])
        for r in analytics.trend_from_counts(live_counts).collect()
    }
    batch_t = {
        r["key"]: (r["n_buckets"], r["total"], r["slope_num"], r["slope_den"])
        for r in analytics.trend_by_key(ev, bucket_seconds=86400).collect()
    }
    assert streamed == batch_t and len(batch_t) > 0


def test_streaming_robot_stats_matches_batch(spark, tmp_path):
    """robot_trails as a streaming cursor fold: cross-batch disorder,
    gaps spanning chunk seams — emitted (cv2_ppm, is_robot) must equal
    the batch operator exactly (python-int math == decimal(38,0))."""
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.cursor import streaming_robot_stats_cursor

    base = 1700000000
    bot = [("bot", base + 10 * i) for i in range(12)]          # perfect clock
    hum = [("hum", base + t) for t in (0, 7, 9, 30, 31, 55, 80, 81, 90, 140, 141, 200)]
    rows = bot + hum
    path = str(tmp_path / "robot_stream")
    import time as _time

    # split mid-trail so gap accumulation crosses micro-batch seams,
    # with the humans' opener arriving LATE
    for chunk in (bot[:6] + hum[3:], bot[6:] + hum[:3]):
        _time.sleep(0.05)
        spark.createDataFrame(chunk, "uuid string, t long").withColumn(
            "event_time", F.timestamp_seconds(F.col("t"))
        ).drop("t").coalesce(1).write.mode("append").parquet(path)
    schema = spark.read.parquet(path).schema
    _append_watermark_sentinels(spark, path, schema, base + 300)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_robot_stats_cursor(
        stream, min_events=10, max_cv2_ppm=10_000,
        watermark="1 hour", idle_timeout=7200,
    )
    _run_stream(out, "robot_stream_out", mode="append")
    got = {
        r["uuid"]: (r["n_events"], r["mean_gap"], r["cv2_ppm"], r["is_robot"])
        for r in spark.sql(
            "select * from robot_stream_out where uuid <> 'ffffffff'"
        ).collect()
    }
    batch_in = spark.createDataFrame(
        [(u, t, i) for i, (u, t) in enumerate(rows)],
        "uuid string, time long, event_id long",
    )
    want = {
        r["uuid"]: (r["n_events"], r["mean_gap"], r["cv2_ppm"], r["is_robot"])
        for r in analytics.robot_trails(
            batch_in, min_events=10, max_cv2_ppm=10_000
        ).collect()
    }
    assert got == want
    assert got["bot"][3] is True and got["hum"][3] is False


def test_streaming_diurnal_from_histogram_state(spark, sf_dir, tmp_path):
    """Fourth leg of the monitoring family: diurnal_from_counts over an
    HOURLY streaming histogram == batch diurnal_profile (identical
    columns, struct-min peak, whole-bit entropy)."""
    from traildb_spark.functions.core import ts_seconds
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import (
        histogram_current,
        streaming_histogram,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("event_type").cast("string").alias("event_type"),
        ts_seconds(raw).alias("time"),
    )
    path = str(tmp_path / "diurnal_src")
    ev.repartition(3).write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out, ckpt = str(tmp_path / "di_out"), str(tmp_path / "di_ckpt")
    q = streaming_histogram(
        stream, out, ckpt, key_col="event_type", value_col="time",
        bin_width=3600.0,
    )
    q.awaitTermination(120)
    live = histogram_current(spark, out, ckpt).select(
        "key", F.col("bin").alias("b"), F.col("cnt").alias("y")
    )
    cols = ("n_events", "peak_hour", "peak_ppm", "hours_active",
            "entropy_millibits")
    streamed = {
        r["key"]: tuple(r[c] for c in cols)
        for r in analytics.diurnal_from_counts(live).collect()
    }
    batch = {
        r["key"]: tuple(r[c] for c in cols)
        for r in analytics.diurnal_profile(ev).collect()
    }
    assert streamed == batch and len(batch) > 0
    import pytest
    with pytest.raises(ValueError):
        analytics.diurnal_from_counts(live, bucket_seconds=7000)


def test_streaming_cusum_from_histogram_state(spark, sf_dir, tmp_path):
    """Fifth leg of the monitoring family: cusum_from_counts over an
    HOURLY streaming histogram == batch cusum_changepoint (identical
    columns: exact-integer argmax, earliest ties, split rates)."""
    from traildb_spark.functions.core import ts_seconds
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import (
        histogram_current,
        streaming_histogram,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("event_type").cast("string").alias("event_type"),
        ts_seconds(raw).alias("time"),
    )
    path = str(tmp_path / "cusum_src")
    ev.repartition(3).write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out, ckpt = str(tmp_path / "cu_out"), str(tmp_path / "cu_ckpt")
    q = streaming_histogram(
        stream, out, ckpt, key_col="event_type", value_col="time",
        bin_width=3600.0,
    )
    q.awaitTermination(120)
    live = histogram_current(spark, out, ckpt).select(
        "key", F.col("bin").alias("b"), F.col("cnt").alias("y")
    )
    cols = ("n_buckets", "n_events", "cp_bucket", "cp_index", "cusum_stat",
            "rate_before_ppm_mille", "rate_after_ppm_mille")
    streamed = {
        r["key"]: tuple(r[c] for c in cols)
        for r in analytics.cusum_from_counts(live).collect()
    }
    batch = {
        r["key"]: tuple(r[c] for c in cols)
        for r in analytics.cusum_changepoint(ev).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_streaming_ohlc_matches_batch_and_replays_noop(spark, sf_dir, tmp_path):
    """Live OHLC bars: streamed partial-merge state == batch ohlc_bars
    over the same rows (struct-min/max open/close survive micro-batch
    seams and disorder), and a replayed batch id is a no-op."""
    from traildb_spark.functions.core import ts_seconds
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.ingest import (
        _ohlc_batch,
        ohlc_current,
        streaming_ohlc,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("event_type").cast("string").alias("event_type"),
        ts_seconds(raw).alias("time"),
        "event_id",
        "value",
    )
    path = str(tmp_path / "ohlc_src")
    # 3 files -> 3 micro-batches; rows of one bar cross batch seams
    ev.repartition(3).write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out, ckpt = str(tmp_path / "oh_out"), str(tmp_path / "oh_ckpt")
    q = streaming_ohlc(stream, out, ckpt)
    q.awaitTermination(120)
    cols = ("n_events", "open_cents", "high_cents", "low_cents", "close_cents")
    streamed = {
        (r["key"], r["bucket"]): tuple(r[c] for c in cols)
        for r in ohlc_current(spark, out, ckpt).collect()
    }
    batch = {
        (r["key"], r["bucket"]): tuple(r[c] for c in cols)
        for r in analytics.ohlc_bars(ev).collect()
    }
    assert streamed == batch and len(batch) > 0

    # replay of the last committed batch id must be a no-op
    import hashlib
    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    last_id = max(
        int(p.name.rsplit("_", 1)[1])
        for p in (tmp_path / "oh_out").iterdir()
        if p.name.startswith(f"ohlc_{token}_")
    )
    assert _ohlc_batch(
        ev.limit(5), last_id, out, "event_type", "value", "time",
        "event_id", 3600, token,
    ) is False
    after = {
        (r["key"], r["bucket"]): tuple(r[c] for c in cols)
        for r in ohlc_current(spark, out, ckpt).collect()
    }
    assert after == streamed


def test_streaming_twap_matches_batch(spark, tmp_path):
    """LOCF TWAP as a streaming cursor fold: cross-batch disorder AND a
    same-timestamp tie split across micro-batches (the lower-tiebreak
    event must add zero weight and never become the carried value) —
    emitted twap_cents must equal batch time_weighted_average exactly."""
    from traildb_spark.operators import analytics
    from traildb_spark.streaming.cursor import streaming_twap_cursor

    base = 1700000000
    rows = [
        # uuid, t, event_id, value
        ("u1", base + 0, 1, 1.00), ("u1", base + 10, 2, 3.00),
        ("u1", base + 40, 3, 9.99),
        # tie at base+50: event 5 (later tb) is the carried value
        ("u2", base + 0, 4, 2.00), ("u2", base + 50, 6, 8.00),
        ("u2", base + 50, 5, 4.00), ("u2", base + 100, 7, 0.0),
        ("one", base + 5, 8, 7.25),
        ("neg", base + 0, 9, -1.00), ("neg", base + 3, 10, 0.0),
    ]
    path = str(tmp_path / "twap_stream")
    import time as _time
    # split mid-trail and deliver the tie's later-tiebreak event FIRST
    for chunk in (rows[:2] + rows[4:6], rows[2:4] + rows[6:]):
        _time.sleep(0.05)
        spark.createDataFrame(
            chunk, "uuid string, t long, event_id long, value double"
        ).withColumn(
            "event_time", F.timestamp_seconds(F.col("t"))
        ).drop("t").coalesce(1).write.mode("append").parquet(path)
    schema = spark.read.parquet(path).schema
    # sentinel columns must carry the twap stream's schema
    for off in (10**6, 2 * 10**6):
        _time.sleep(0.05)
        spark.createDataFrame(
            [("ffffffff", base + 300 + off, 0, 0.0)],
            "uuid string, t long, event_id long, value double",
        ).withColumn("event_time", F.timestamp_seconds(F.col("t"))).drop(
            "t"
        ).select(*[f.name for f in schema.fields]).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_twap_cursor(stream, watermark="1 hour", idle_timeout=7200)
    _run_stream(out, "twap_stream_out", mode="append")
    got = {
        r["uuid"]: (r["n_events"], r["span_seconds"], r["twap_cents"])
        for r in spark.sql(
            "select * from twap_stream_out where uuid <> 'ffffffff'"
        ).collect()
    }
    batch_in = spark.createDataFrame(
        [(u, t, i, v) for (u, t, i, v) in rows],
        "uuid string, time long, event_id long, value double",
    )
    want = {
        r["uuid"]: (r["n_events"], r["span_seconds"], r["twap_cents"])
        for r in analytics.time_weighted_average(batch_in).collect()
    }
    assert got == want
    # hand check the tie trail: 200c*50s + 800c*50s over 100s = 500
    assert got["u2"] == (4, 100, 500)


def test_streaming_kmv_matches_batch_and_replay(spark, sf_dir, tmp_path):
    """Streamed bottom-k state == a driver-side replay of the same
    order statistics over ALL rows (the bottom-k-of-union merge law);
    committed-batch replay is a no-op; a cleared-checkpoint lineage
    reuse refuses."""
    import hashlib
    import os

    from traildb_spark.streaming.ingest import (
        _kmv_batch,
        kmv_current,
        streaming_kmv,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.concat_ws(":", F.col("user_id").cast("string"),
                    F.col("props")).alias("pair")
    )
    path = str(tmp_path / "kmv_src")
    ev.repartition(3).write.parquet(path)
    schema = spark.read.parquet(path).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out, ckpt = str(tmp_path / "kmv_out"), str(tmp_path / "kmv_ckpt")
    q = streaming_kmv(stream, "pair", out, ckpt, k=16)
    q.awaitTermination(120)
    [live] = kmv_current(spark, out, ckpt, k=16).collect()

    vals = {r.pair for r in ev.collect()}
    hs = sorted(
        int.from_bytes(hashlib.md5(v.encode()).digest()[:8], "big") >> 4
        for v in vals
    )
    if len(hs) < 16:
        expected = len(hs)
    else:
        expected = (15 * (1 << 60)) // hs[15]
    assert live.kmv_estimate == expected
    assert live.n_hashes == min(16, len(hs))

    # replay of the committed last batch is a no-op
    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    cur = [f for f in os.listdir(out) if f.startswith("_latest")][0]
    with open(f"{out}/{cur}") as fh:
        last_id = int(fh.read().strip().rsplit("_", 1)[1])
    assert _kmv_batch(
        spark.read.parquet(path), last_id, out, "pair", 16, token
    ) is False

    # cleared-checkpoint reuse (batch 0 against existing state) refuses
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="lineage"):
        _kmv_batch(spark.read.parquet(path), 0, out, "pair", 16, token)


def test_streaming_dedup_against_matches_batch_and_replay(spark, tmp_path):
    """streaming_dedup_against == batch dedup_against + keep-first over
    the drained prefix: accepted fingerprints are exactly
    distinct(new fps) \\ corpus fps, the surviving row per fingerprint
    is the global min-id (batches split on ascending id), committed-
    batch replay is a no-op, and a cleared-checkpoint lineage reuse
    refuses — the countmin/kmv pointer contract on the exact-dedup
    operator."""
    import hashlib
    import os

    from traildb_spark.operators import dedup
    from traildb_spark.streaming.ingest import (
        _dedup_against_batch,
        dedup_accepted_rows,
        streaming_dedup_against,
    )

    corpus_rows = [(100 + i, f"corpus doc {i}") for i in range(8)]
    corpus_rows += [(108, "shared text one"), (109, "shared text two")]
    existing = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    # three ascending-id batches: corpus dups, in-batch dups (8/9),
    # cross-batch dups (12 repeats 1's text; 21 repeats "fresh two")
    batches = [
        [(1, "fresh one"), (2, "Shared   Text One"), (3, "fresh two"),
         (8, "twin"), (9, "TWIN")],
        [(11, "shared text two"), (12, "fresh one"), (13, "fresh three")],
        [(21, "fresh two"), (22, "fresh four"), (23, "twin")],
    ]
    src = str(tmp_path / "dd_src")
    seen: set[str] = set()
    for i, b in enumerate(batches):
        spark.createDataFrame(b, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        # deterministic batch order: SET mtimes 1000s apart instead of
        # relying on back-to-back writes landing on distinct timestamps
        stamp = 1_600_000_000 + 1000 * i
        for f in os.listdir(src):
            if f not in seen and not f.startswith(("_", ".")):
                os.utime(os.path.join(src, f), (stamp, stamp))
                seen.add(f)
    schema = spark.read.parquet(src).schema

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out, ckpt = str(tmp_path / "dd_out"), str(tmp_path / "dd_ckpt")
    q = streaming_dedup_against(stream, existing, out, ckpt)
    q.awaitTermination(120)

    got = {(r.doc_id, r.text) for r in
           dedup_accepted_rows(spark, out, ckpt).collect()}
    # batch law: dedup_against(prefix, corpus) + keep min-id per fp
    assert got == {(1, "fresh one"), (3, "fresh two"), (8, "twin"),
                   (13, "fresh three"), (22, "fresh four")}
    prefix = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string")
    surv = dedup.dedup_against(prefix, existing)
    fp = F.md5(dedup.normalize_text(F.col("text")))
    first = (surv.withColumn("__fp", fp)
             .groupBy("__fp").agg(F.min("doc_id").alias("doc_id")))
    want_ids = {r.doc_id for r in first.collect()}
    assert {d for d, _ in got} == want_ids

    # replay of the committed last batch (same id, SAME content — what an
    # intact checkpoint actually re-delivers) is a no-op
    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    cur = [f for f in os.listdir(out) if f.startswith("_latest")][0]
    with open(f"{out}/{cur}") as fh:
        last_id = int(fh.read().strip())  # pointer = committed batch id
    bloom = spark.sparkContext.broadcast(
        dedup.build_bloom_filter(existing))
    last_batch = spark.createDataFrame(
        batches[last_id], "doc_id long, text string")
    assert _dedup_against_batch(
        last_batch, last_id, out, "text", "doc_id",
        bloom, 1 << 20, 4, token,
    ) is False

    # same id but DIFFERENT content = a new lineage reusing the
    # checkpoint path at the committed id — the content signature refuses
    # (the pointer alone cannot see this corner)
    with pytest.raises(RuntimeError, match="content signature"):
        _dedup_against_batch(
            spark.read.parquet(src), last_id, out, "text", "doc_id",
            bloom, 1 << 20, 4, token,
        )

    # cleared-checkpoint reuse (batch 0 against existing state) refuses
    with pytest.raises(RuntimeError, match="lineage"):
        _dedup_against_batch(
            spark.read.parquet(src), 0, out, "text", "doc_id",
            bloom, 1 << 20, 4, token,
        )


def test_streaming_dedup_against_batch0_replay_is_noop(spark, tmp_path):
    """A legitimate Structured Streaming replay of COMMITTED batch 0
    (crash between the pointer advance and the checkpoint commit log)
    must be a no-op, not a crash-loop: the pointer protocol refuses
    batch 0 only when a LATER id has committed (prev_id > 0), mirroring
    streaming_finalize / _kmv_batch's replay-of-the-committed-id test."""
    import hashlib

    from traildb_spark.operators import dedup
    from traildb_spark.streaming.ingest import (
        _dedup_against_batch,
        dedup_accepted_rows,
    )

    existing = spark.createDataFrame(
        [(100, "corpus doc")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "fresh one"), (2, "corpus doc")], "doc_id long, text string")
    out = str(tmp_path / "dd0_out")
    ckpt = str(tmp_path / "dd0_ckpt")
    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    (existing.select(F.md5(dedup.normalize_text(F.col("text"))).alias("fp"))
     .distinct().write.parquet(f"{out}/corpus_fps_{token}"))
    bloom = spark.sparkContext.broadcast(dedup.build_bloom_filter(existing))

    assert _dedup_against_batch(
        batch, 0, out, "text", "doc_id", bloom, 1 << 20, 4, token) is True
    # the crash-replay of the SAME committed id 0: no-op, state intact
    assert _dedup_against_batch(
        batch, 0, out, "text", "doc_id", bloom, 1 << 20, 4, token) is False
    # a checkpoint cleared and reused after exactly ONE committed batch
    # delivers a NEW lineage's batch 0 — the ADVICE-r9 residual window:
    # same id as the pointer, different data. The content signature
    # refuses instead of silently skipping the new lineage's batch.
    other = spark.createDataFrame(
        [(7, "a different lineage")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="content signature"):
        _dedup_against_batch(
            other, 0, out, "text", "doc_id", bloom, 1 << 20, 4, token)
    got = {(r.doc_id, r.text)
           for r in dedup_accepted_rows(spark, out, ckpt).collect()}
    assert got == {(1, "fresh one")}
    # and the stream continues normally past the replay
    nxt = spark.createDataFrame([(3, "fresh two")], "doc_id long, text string")
    assert _dedup_against_batch(
        nxt, 1, out, "text", "doc_id", bloom, 1 << 20, 4, token) is True
    got = {(r.doc_id, r.text)
           for r in dedup_accepted_rows(spark, out, ckpt).collect()}
    assert got == {(1, "fresh one"), (3, "fresh two")}


def test_compact_dedup_state_preserves_semantics(spark, tmp_path):
    """compact_dedup_state: N per-batch fps dirs -> one compacted dir
    with IDENTICAL anti-join semantics (later batches still reject
    everything accepted before the compaction), accepted rows untouched,
    idempotent re-run, and per-batch dirs a crash left behind BELOW the
    pointer are ignored by readers (their content is already compacted)."""
    import hashlib
    import os

    from traildb_spark.operators import dedup
    from traildb_spark.streaming.ingest import (
        _committed_fps_dirs,
        _dedup_against_batch,
        compact_dedup_state,
        dedup_accepted_rows,
    )

    existing = spark.createDataFrame(
        [(100, "corpus doc")], "doc_id long, text string")
    out = str(tmp_path / "cp_out")
    ckpt = str(tmp_path / "cp_ckpt")
    token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
    (existing.select(F.md5(dedup.normalize_text(F.col("text"))).alias("fp"))
     .distinct().write.parquet(f"{out}/corpus_fps_{token}"))
    bloom = spark.sparkContext.broadcast(dedup.build_bloom_filter(existing))

    def run(bid, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return _dedup_against_batch(
            df, bid, out, "text", "doc_id", bloom, 1 << 20, 4, token)

    assert run(0, [(1, "alpha"), (2, "corpus doc")]) is True
    assert run(1, [(3, "beta"), (4, "alpha")]) is True
    assert run(2, [(5, "gamma")]) is True
    before = {(r.doc_id, r.text)
              for r in dedup_accepted_rows(spark, out, ckpt).collect()}
    assert before == {(1, "alpha"), (3, "beta"), (5, "gamma")}

    assert compact_dedup_state(spark, out, ckpt) == 3
    dirs = _committed_fps_dirs(spark, out, token, 2)
    assert dirs == [f"{out}/fpsc_{token}_2"]
    assert not [d for d in os.listdir(out) if d.startswith(f"fps_{token}_")]
    # rows (outputs) untouched; re-compaction is a no-op
    after = {(r.doc_id, r.text)
             for r in dedup_accepted_rows(spark, out, ckpt).collect()}
    assert after == before
    assert compact_dedup_state(spark, out, ckpt) == 0

    # anti-join semantics identical post-compaction: dups of earlier
    # accepted content reject, fresh content accepts
    assert run(3, [(6, "ALPHA"), (7, "gamma"), (8, "delta")]) is True
    got = {(r.doc_id, r.text)
           for r in dedup_accepted_rows(spark, out, ckpt).collect()}
    assert got == before | {(8, "delta")}

    # crash-sim: a stale per-batch dir BELOW the pointer reappears (crash
    # between pointer swap and lazy delete), plus an uncommitted fpsc_*
    # target from a compaction that crashed before its pointer swap —
    # readers must skip both
    spark.createDataFrame([("deadbeef" * 4,)], "fp string") \
        .write.parquet(f"{out}/fps_{token}_1")
    spark.createDataFrame([("feedface" * 4,)], "fp string") \
        .write.parquet(f"{out}/fpsc_{token}_0")
    dirs = _committed_fps_dirs(spark, out, token, 3)
    assert f"{out}/fps_{token}_1" not in dirs
    assert f"{out}/fpsc_{token}_0" not in dirs
    assert f"{out}/fpsc_{token}_2" in dirs
    assert f"{out}/fps_{token}_3" in dirs
    # a second compaction folds the live tail in (3 -> pointer) AND
    # sweeps the crash-orphaned dirs (ADVICE r9: without the name-based
    # sweep they would accumulate unboundedly across crash cycles)
    assert compact_dedup_state(spark, out, ckpt) == 1
    assert _committed_fps_dirs(spark, out, token, 3) == [
        f"{out}/fpsc_{token}_3"]
    leftover = [d for d in os.listdir(out)
                if d.startswith((f"fps_{token}_", f"fpsc_{token}_"))]
    assert leftover == [f"fpsc_{token}_3"], leftover


def test_streaming_dedup_against_refuses_swapped_corpus(spark, tmp_path):
    """The materialized corpus fingerprint set is keyed by checkpoint
    path; a DIFFERENT corpus arriving under the same checkpoint would
    silently re-check Bloom hits against the stale set — the operator
    must refuse up front (sq8-sidecar staleness contract)."""
    from traildb_spark.streaming.ingest import streaming_dedup_against

    corpus_a = spark.createDataFrame(
        [(100, "corpus doc a")], "doc_id long, text string")
    src = str(tmp_path / "cs_src")
    spark.createDataFrame([(1, "fresh one")], "doc_id long, text string") \
        .write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    out, ckpt = str(tmp_path / "cs_out"), str(tmp_path / "cs_ckpt")
    q = streaming_dedup_against(stream, corpus_a, out, ckpt)
    q.awaitTermination(120)

    # same corpus content again: accepted (sig matches, fps reused)
    q = streaming_dedup_against(stream, corpus_a, out, ckpt)
    q.awaitTermination(120)

    corpus_b = spark.createDataFrame(
        [(200, "corpus doc b")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="does not match"):
        streaming_dedup_against(stream, corpus_b, out, ckpt)


# (dir kind, step, step args between (df, id, path) and run_token,
#  reader, reader kwargs) for every sink that commits through _merge_step
_SKETCH_SINKS = [
    ("sketch", "_countmin_batch", ("v", 64, 2, "cm:"), "countmin_current", {}),
    ("sample", "_sample_batch", (2, "doc_id", ""), "sample_current", {}),
    ("mg", "_heavy_hitters_batch", ("v", 2), "heavy_hitters_current", {}),
    ("hist", "_histogram_batch", ("event_type", "value", 1.0),
     "histogram_current", {}),
    ("hll", "_hll_batch", ("v", 4), "hll_current", {"p": 4}),
    ("ohlc", "_ohlc_batch", ("event_type", "value", "time", "event_id", 60),
     "ohlc_current", {}),
    ("kmv", "_kmv_batch", ("v", 2), "kmv_current", {"k": 2}),
]


@pytest.mark.parametrize(
    "kind,step,args,reader,kw", _SKETCH_SINKS, ids=[s[1] for s in _SKETCH_SINKS]
)
def test_sketch_sink_commit_protocol(spark, tmp_path, kind, step, args, reader,
                                     kw):
    """Every sketch sink keeps the same exactly-once contract: a replay of
    the committed id is a no-op, a commit deletes the superseded state
    dir and the reader follows the pointer, and batch id 0 over existing
    state (a cleared checkpoint reused) raises and leaves the pointer
    where it was."""
    import hashlib
    import os

    from traildb_spark.streaming import ingest

    df = spark.createDataFrame(
        [("a", "d1", "click", 1.5, 10, 1), ("b", "d2", "view", 2.5, 70, 2),
         ("a", "d3", "click", 0.5, 130, 3)],
        "v string, doc_id string, event_type string, value double, "
        "time long, event_id long",
    )
    out, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    token = hashlib.md5(ckpt.encode("utf-8")).hexdigest()[:8]

    def run(batch_id):
        return getattr(ingest, step)(df, batch_id, out, *args, token)

    def pointer():
        with open(f"{out}/_latest_{token}") as fh:
            return fh.read().strip()

    assert run(0) is True
    assert run(0) is False
    assert run(1) is True
    committed = f"{out}/{kind}_{token}_1"
    assert pointer() == committed
    assert [d for d in os.listdir(out) if d.startswith(f"{kind}_")] == [
        f"{kind}_{token}_1"
    ]
    live = getattr(ingest, reader)(spark, out, ckpt, **kw)
    files = live.inputFiles()
    assert files and all(f"/{kind}_{token}_1/" in f for f in files)
    assert live.count() > 0
    with pytest.raises(RuntimeError, match="previous lineage") as err:
        run(0)
    assert "cleared checkpoint" in str(err.value)
    assert pointer() == committed
