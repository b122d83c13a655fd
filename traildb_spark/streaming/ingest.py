"""Streaming ingest: continuous finalize, exact streaming dedup and
mergeable-sketch sinks.

The reference's deployment model is a cron loop — "producers encode new
TrailDBs at regular intervals, e.g. daily" (doc/docs/index.md:43-45).
These operators replace that loop with Structured Streaming:

* ``streaming_dedup_exact`` drops exact duplicate documents as they
  arrive, with state bounded by the watermark.
* ``streaming_finalize`` lands a stream in the ``TrailDataset`` finalize
  layout, one micro-batch at a time.
* ``streaming_countmin`` / ``_uniform_sample`` / ``_heavy_hitters`` /
  ``_histogram`` / ``_hll`` / ``_ohlc`` / ``_kmv`` keep a sketch-sized
  state that each micro-batch merges into; ``<sketch>_current`` reads it.
* ``streaming_dedup_against`` accepts only rows new to a static corpus
  and to every earlier batch.

``foreachBatch`` alone is at-least-once: the engine replays a batch id
after a crash between the write and the checkpoint commit. Each sink
therefore makes its write idempotent per batch id, through one of three
commit protocols, all scoped to the checkpoint by ``_run_token``:

1. finalize: staged files moved under deterministic names, then a
   per-batch commit marker (``_finalize_batch``);
2. sketch sinks: a deterministic per-batch state dir, then an atomic
   swap of the ``_latest_<token>`` pointer (``_merge_step``);
3. dedup_against: append-only per-batch dirs, a content signature per
   batch, then the pointer swap (``_dedup_against_batch``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dataset import TrailDataset, update_meta
from ..fsutil import hfs as _hfs
from ..fsutil import read_small as _fs_read_small
from ..fsutil import swap_pointer as _fs_swap_pointer
from ..fsutil import write_small as _fs_write_small
from ..functions.core import md5_60
from ..operators.analytics import (
    MG_SUMMARY_SCHEMA,
    countmin_build,
    mg_bounds,
    mg_partition_summarize,
    ohlc_from_partials,
    ohlc_partials,
    value_histogram,
)
from ..operators.dedup import build_bloom_filter
from ..operators.text import fingerprint


def _run_token(checkpoint: str) -> str:
    """The checkpoint's scope for markers, pointers and state dirs. A
    restart against the same output path with a FRESH checkpoint restarts
    batch ids at 0; artifacts keyed by bare batch id would take the new
    batches for committed ones."""
    return hashlib.md5(checkpoint.encode("utf-8")).hexdigest()[:8]


def _start(stream: DataFrame, checkpoint: str, processing_time: str | None,
           step, output_mode: str = "update"):
    """Start ``stream`` as a checkpointed ``foreachBatch(step)`` query.
    The default trigger drains what is there and stops (the reference's
    cron-loop cadence); pass ``processing_time`` (e.g. "1 minute") for a
    long-running query. Returns the ``StreamingQuery``."""
    writer = (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    return writer.trigger(availableNow=True).start()


def _current(spark, path: str, checkpoint: str) -> str:
    """The target of the committed ``_latest_<token>`` pointer under
    ``path``; ``FileNotFoundError`` naming the pointer if none is."""
    latest = f"{path}/_latest_{_run_token(checkpoint)}"
    cur = _fs_read_small(spark, latest)
    if cur is None:
        raise FileNotFoundError(latest)
    return cur.strip()


def _merge_step(batch_df: DataFrame, batch_id: int, path: str,
                run_token: str, kind: str, op: str, merge) -> bool:
    """The exactly-once commit of every sketch sink. ``merge(prev)``
    returns the new state from the committed state ``prev`` (``None``
    before the first commit) and ``batch_df``; it must be a pure function
    of the two. A naive read-merge-swap would double-count when the
    engine replays a batch after the swap, so:

    1. The state dir is DETERMINISTIC: ``<path>/<kind>_<token>_<id>``.
       A replay before the pointer advanced rebuilds the identical dir
       from the identical input (written with overwrite).
    2. If the ``_latest_<token>`` pointer already names that dir, the
       batch is a replay after its commit: return False, state untouched.
    3. Batch id 0 over existing state is a CLEARED checkpoint reused
       against a kept state path (an intact checkpoint replays id 0 only
       while the pointer still names id 0's own dir, caught by 2).
       Merging the re-read source would double-count and resetting would
       destroy the state with no visible signal, so it raises.
    4. ``merge(prev)`` is written as one file, then the pointer is swapped
       atomically (``fsutil.swap_pointer``): the swap IS the commit.
    5. The superseded dir is deleted; replays of this batch now no-op.

    Every pointer and dir operation goes through the Hadoop FileSystem
    API, so the state works unchanged on file://, hdfs:// and s3a://.
    Returns True if the batch was committed, False on a replay."""
    spark = batch_df.sparkSession
    latest = f"{path}/_latest_{run_token}"
    out_b = f"{path}/{kind}_{run_token}_{batch_id}"
    prev = (_fs_read_small(spark, latest) or "").strip() or None
    if prev == out_b:
        return False
    if prev is not None and batch_id == 0:
        raise RuntimeError(
            f"{op}: batch id 0 arrived but {path} already holds state from "
            "a previous lineage of the same checkpoint path (cleared "
            "checkpoint reused). Merging would double-count and resetting "
            "would destroy the accumulated state — use a fresh checkpoint "
            f"path or delete the state at {path} explicitly."
        )
    new = merge(None if prev is None else spark.read.parquet(prev))
    new.coalesce(1).write.mode("overwrite").parquet(out_b)
    _fs_swap_pointer(spark, latest, out_b)
    if prev is not None:
        _, hpath, fs = _hfs(spark, prev)
        fs.delete(hpath(prev), True)
    return True


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
    keep_fingerprint: bool = False,
) -> DataFrame:
    """Exact streaming deduplication on a content fingerprint.

    ``dropDuplicatesWithinWatermark`` keeps one state row per DISTINCT
    fingerprint and evicts it once it ages past the watermark, so state is
    bounded by (arrival rate × watermark), never by corpus size — at
    100 TB/day an unbounded ``dropDuplicates`` state would OOM the state
    store. Duplicates that arrive farther apart than the watermark are the
    batch layer's job: run ``dedup.exact_duplicates`` over the finalized
    shards (the standard streaming/batch split, and exactly the cadence at
    which the reference re-encodes its daily tdbs).

    Only the 32-char md5 fingerprint enters the dedup state/shuffle —
    never the document text.
    """
    out = stream.withColumn("content_hash", fingerprint(F.col(text_col)))
    out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    return out if keep_fingerprint else out.drop("content_hash")


def streaming_finalize(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    time_shard: str | None = None,
    num_buckets: int | None = None,
    processing_time: str | None = None,
):
    """Continuously land a normalized event stream in the finalize layout.

    Each micro-batch is clustered by uuid, sorted (uuid, time) within
    files, and appended — with ``time_shard`` set, batches fan into Hive
    partitions (e.g. one per day) and the ``_traildb_meta.json`` sidecar
    makes time-range filters prune shards on read, identically to a
    batch-finalized dataset. Clustering is per-micro-batch (a stream cannot
    globally sort history); readers still get row-group pruning within
    every file, and the daily batch re-finalize compacts a closed shard to
    the fully clustered form — mirroring the reference's immutable daily
    re-encode.

    Exactly-once: the checkpoint makes the ENGINE replay each batch id
    at-least-once; ``_finalize_batch`` makes the WRITE idempotent per
    batch id (committed-marker skip + deterministic file names), so the
    composition is effectively exactly-once even across a crash between
    the data write and the checkpoint commit. ``num_buckets`` caps files
    per batch (default 1 — at local/daily scale small batches should not
    spray one file per core).

    Returns the started ``StreamingQuery``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _finalize_batch(df, i, path, time_shard, num_buckets, run_token)),
        output_mode="append")


def _finalize_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    time_shard: str | None = None,
    num_buckets: int | None = None,
    run_token: str = "manual",
) -> bool:
    """Idempotently land one micro-batch in the finalize layout.

    ``foreachBatch`` is at-least-once: after a crash between the data
    write and the checkpoint commit, the same (batch_id, data) is replayed
    — a bare ``mode="append"`` would duplicate every event of the partial
    batch. Protocol (all Hadoop FileSystem ops, so file://, hdfs:// and
    any committer-backed store behave the same):

    1. ``<path>/_traildb_commits/batch-<run>-<id>`` exists → committed,
       skip. ``run_token`` scopes markers to one checkpoint lineage
       (streaming_finalize derives it from the checkpoint path), so a
       restart with a fresh checkpoint — whose batch ids restart at 0 —
       appends instead of being silently discarded.
    2. Stage the clustered batch under ``<path>/_staging/batch-<id>``
       with ``mode="overwrite"`` (a retry re-stages cleanly).
    3. Scrub any ``batch-<id>-*`` files a previous partial attempt moved
       into the final tree, then move staged parquet files to their final
       shard directories under DETERMINISTIC names
       (``batch-<id>-<seq>.parquet``) — re-moving after a partial move
       overwrites, never duplicates.
    4. Set the sidecar's shard format, keeping its other keys (a z-index
       entry then reads as stale on ``open`` instead of vanishing;
       idempotent), then create the commit marker and drop staging.

    Returns True if the batch was written, False if skipped as committed.
    Directories starting with ``_`` are invisible to parquet readers, so
    staging and markers never pollute query results.
    """
    spark = batch_df.sparkSession
    _, hpath, fs = _hfs(spark, path)
    marker = hpath(f"{path}/_traildb_commits/batch-{run_token}-{batch_id}")
    if fs.exists(marker):
        # Replay of a committed id — UNLESS this is batch 0 of a CLEARED
        # checkpoint reusing the same path (same token, ids restart at 0,
        # stale markers would silently discard every new batch = data
        # loss). An intact checkpoint can only replay id 0 while no later
        # id has committed (batch N+1 starts only after N's checkpoint
        # commit), so markers for ids >= 1 prove a stale lineage: refuse
        # loudly — the output already holds the old lineage's data, and
        # appending a re-read source would duplicate it.
        if batch_id == 0:
            later = fs.globStatus(
                hpath(f"{path}/_traildb_commits/batch-{run_token}-*")
            )
            stale = any(
                s.getPath().getName() != f"batch-{run_token}-0" for s in later or []
            )
            if stale:
                raise RuntimeError(
                    "streaming_finalize: batch id 0 arrived but this output "
                    "path already holds commits from a previous lineage of "
                    "the same checkpoint path (checkpoint was cleared and "
                    "reused). Appending would duplicate the old data and "
                    "skipping would lose the new — use a fresh checkpoint "
                    "path or a clean output directory."
                )
        return False
    if batch_df.isEmpty():
        fs.mkdirs(marker.getParent())
        fs.createNewFile(marker)
        return False
    staging = f"{path}/_staging/batch-{run_token}-{batch_id}"
    TrailDataset(batch_df).finalize(
        staging, num_buckets=num_buckets or 1, time_shard=time_shard, mode="overwrite"
    )
    # collect staged data files grouped by relative shard dir
    staged: dict[str, list] = {}
    it = fs.listFiles(hpath(staging), True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if not name.endswith(".parquet"):
            continue
        rel = p.getParent().toString()[len(fs.makeQualified(hpath(staging)).toString()):]
        staged.setdefault(rel.strip("/"), []).append(p)
    # scrub leftovers of a previous partial move for THIS batch id
    for pattern in (
        f"{path}/batch-{run_token}-{batch_id}-*",
        f"{path}/*/batch-{run_token}-{batch_id}-*",
    ):
        for st in fs.globStatus(hpath(pattern)) or []:
            fs.delete(st.getPath(), False)
    for rel, files in staged.items():
        dest_dir = hpath(f"{path}/{rel}") if rel else hpath(path)
        fs.mkdirs(dest_dir)
        for seq, p in enumerate(sorted(files, key=lambda q: q.getName())):
            dest = hpath(
                f"{dest_dir.toString()}/batch-{run_token}-{batch_id}-{seq:05d}.parquet"
            )
            # Hadoop rename reports failure by RETURNING false (dest exists,
            # src vanished, ...) — not by raising. Silently continuing would
            # delete the staged file below and still write the commit
            # marker: permanent data loss. Fail the batch instead; the
            # engine retries and the scrub above clears the collision.
            if not fs.rename(p, dest):
                raise IOError(
                    f"batch {batch_id}: rename {p} -> {dest} failed; "
                    "aborting commit so the retry can re-stage"
                )
    if time_shard:
        update_meta(spark, path, time_shard=time_shard, timezone="UTC")
    fs.mkdirs(marker.getParent())
    fs.createNewFile(marker)
    fs.delete(hpath(staging), True)
    return True


def streaming_countmin(
    stream: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
    width: int = 1024,
    depth: int = 4,
    seed: str = "cm:",
    processing_time: str | None = None,
):
    """Continuously maintain a count-min sketch over a stream — the
    mergeability of `analytics.countmin_build` in motion: each
    micro-batch's partial sketch (≤ depth×width rows) merges into the
    running sketch by union + re-sum, so the state written to ``path``
    stays sketch-sized forever while the stream is unbounded. The classic
    "approximate top values over an infinite firehose" primitive.
    Exactly-once through ``_merge_step``. Read the sketch with
    :func:`countmin_current` and probe it with ``analytics.countmin_probe``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _countmin_batch(df, i, path, col, width, depth, seed, run_token)))


def _countmin_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    col: str,
    width: int,
    depth: int,
    seed: str,
    run_token: str,
) -> bool:
    """One count-min merge step (commit protocol: ``_merge_step``)."""
    def merge(prev):
        part = countmin_build(batch_df, col, width, depth, seed)
        if prev is None:
            return part
        return (prev.unionByName(part).groupBy("d", "cell")
                .agg(F.sum("c").alias("c")))

    return _merge_step(batch_df, batch_id, path, run_token, "sketch",
                       "streaming_countmin", merge)


def countmin_current(spark, path: str, checkpoint: str) -> DataFrame:
    """The live sketch the ``streaming_countmin`` pointer references."""
    return spark.read.parquet(_current(spark, path, checkpoint))


def streaming_uniform_sample(
    stream: DataFrame,
    k: int,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    seed: str = "",
    processing_time: str | None = None,
):
    """Maintain an EXACTLY-k uniform sample over an unbounded stream —
    the streaming analog of ``curation.uniform_sample_exact`` and the
    classic "hold a fair eval set out of a firehose" primitive.

    The md5 rank ``md5(seed || id)`` is a pure function of the row, so
    the k smallest ranks over everything-seen-so-far form a MERGEABLE
    state: each micro-batch unions its rows into the kept set and trims
    back to k. State is k rows forever; and because the rank ignores
    arrival order, the maintained sample is IDENTICAL to the batch
    operator over the same data — not merely same-distribution
    (parity-tested). Exactly-once through ``_merge_step``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _sample_batch(df, i, path, k, id_col, seed, run_token)))


def _sample_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    k: int,
    id_col: str,
    seed: str,
    run_token: str,
) -> bool:
    """One merge-and-trim step (commit protocol: ``_merge_step``)."""
    def merge(prev):
        rank = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
        part = batch_df.withColumn("__rk", rank)
        if prev is not None:
            part = prev.unionByName(part)
        # the union is <= k + batch rows; the single-partition rank is
        # bounded by that, never by stream length
        w = Window.orderBy(F.asc("__rk"), F.asc(id_col))
        return (part.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k).drop("__rn"))

    return _merge_step(batch_df, batch_id, path, run_token, "sample",
                       "streaming_uniform_sample", merge)


def sample_current(spark, path: str, checkpoint: str) -> DataFrame:
    """The live sample the ``streaming_uniform_sample`` pointer
    references (ranks column dropped)."""
    return spark.read.parquet(_current(spark, path, checkpoint)).drop("__rk")


def streaming_heavy_hitters(
    stream: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
    k: int = 100,
    processing_time: str | None = None,
):
    """Continuously maintain a Misra-Gries heavy-hitter summary over a
    stream — the deterministic-guarantee sibling of
    ``streaming_countmin`` (absolute error bounds instead of
    probabilistic ones). Each micro-batch folds its per-partition MG
    summaries into the running state and re-trims to k counters; state
    is ≤ k+1 rows FOREVER while the deducted-mass meta row keeps the
    upper bound honest: at any point every value with true stream count
    > N/(k+1) is present in the state (mergeable-summaries guarantee),
    so ``heavy_hitters_current`` + one exact recount of the candidates
    yields the EXACT frequent set, stream-long. Exactly-once through
    ``_merge_step``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _heavy_hitters_batch(df, i, path, col, k, run_token)))


def _heavy_hitters_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    col: str,
    k: int,
    run_token: str,
) -> bool:
    """One MG merge-and-trim step (commit protocol: ``_merge_step``)."""
    def trim(batches):
        counters: dict = {}
        deducted = 0
        for pdf in batches:
            for v, c, meta in zip(pdf["value"], pdf["cnt"], pdf["is_meta"]):
                if meta:
                    deducted += int(c)
                else:
                    key = None if pd.isna(v) else v
                    counters[key] = counters.get(key, 0) + int(c)
        if len(counters) > k:
            cut = sorted(counters.values(), reverse=True)[k]
            deducted += cut
            counters = {v: c - cut for v, c in counters.items() if c > cut}
        yield pd.DataFrame(
            {
                "value": list(counters.keys()) + [None],
                "cnt": list(counters.values()) + [deducted],
                "is_meta": [False] * len(counters) + [True],
            }
        )

    def merge(prev):
        part = batch_df.select(F.col(col).cast("string")).mapInPandas(
            mg_partition_summarize(k), MG_SUMMARY_SCHEMA
        )
        merged = part if prev is None else prev.unionByName(part)
        merged = merged.groupBy("value", "is_meta").agg(F.sum("cnt").alias("cnt"))
        # the merged union is sketch-sized (<= k+1 prev rows + (k+1) per
        # batch partition), so the single-partition trim is bounded by the
        # summary, never the stream
        return merged.coalesce(1).mapInPandas(trim, MG_SUMMARY_SCHEMA)

    return _merge_step(batch_df, batch_id, path, run_token, "mg",
                       "streaming_heavy_hitters", merge)


def heavy_hitters_current(spark, path: str, checkpoint: str) -> DataFrame:
    """The live MG summary the ``streaming_heavy_hitters`` pointer
    references, as ``(value, lo, hi)`` like ``analytics.mg_summary``."""
    return mg_bounds(spark.read.parquet(_current(spark, path, checkpoint)))


def streaming_histogram(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 1.0,
    processing_time: str | None = None,
):
    """Continuously maintain per-key value histograms over a stream —
    the live half of the drift monitor: histograms ADD
    (`analytics.value_histogram` partials merge by (key, bin) sum), so
    the state at ``path`` stays histogram-sized forever while the stream
    is unbounded, and `analytics.histogram_tvd` against a frozen
    reference turns it into an exact drift score at any moment.
    Exactly-once through ``_merge_step``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _histogram_batch(df, i, path, key_col, value_col, bin_width,
                         run_token)))


def _histogram_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    key_col: str,
    value_col: str,
    bin_width: float,
    run_token: str,
) -> bool:
    """One histogram merge step (commit protocol: ``_merge_step``)."""
    def merge(prev):
        part = value_histogram(batch_df, key_col, value_col, bin_width)
        if prev is None:
            return part
        return (prev.unionByName(part).groupBy("key", "bin")
                .agg(F.sum("cnt").alias("cnt")))

    return _merge_step(batch_df, batch_id, path, run_token, "hist",
                       "streaming_histogram", merge)


def histogram_current(spark, path: str, checkpoint: str) -> DataFrame:
    """The live ``(key, bin, cnt)`` histogram the ``streaming_histogram``
    pointer references — feed it to ``analytics.histogram_tvd`` against
    a reference histogram for the drift score."""
    return spark.read.parquet(_current(spark, path, checkpoint))


def streaming_hll(
    stream: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
    p: int = 12,
    processing_time: str | None = None,
):
    """Continuously maintain a portable-HLL register table over a
    stream — "distinct users/URLs so far" on an unbounded firehose with
    2^p rows of state forever: per-batch registers merge into the
    running table by (bucket, MAX rank), the HLL merge law. Read the
    estimate any time with :func:`hll_current` (identical math to
    `analytics.hll_distinct`, so the streamed sketch equals the batch
    sketch over the same rows — tested). Exactly-once through
    ``_merge_step``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _hll_batch(df, i, path, col, p, run_token)))


def _hll_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    col: str,
    p: int,
    run_token: str,
) -> bool:
    """One register-merge step (commit protocol: ``_merge_step``)."""
    def merge(prev):
        q = 60 - p
        h = md5_60(F.col(col))
        rest = h.bitwiseAND(F.lit((1 << q) - 1))
        rank = F.when(rest == 0, F.lit(q + 1)).otherwise(
            F.lit(q) - F.length(F.bin(rest)) + 1
        )
        part = (
            batch_df.select(F.shiftright(h, q).alias("b"), rank.alias("r"))
            .groupBy("b")
            .agg(F.max("r").alias("r"))
        )
        if prev is None:
            return part
        return prev.unionByName(part).groupBy("b").agg(F.max("r").alias("r"))

    return _merge_step(batch_df, batch_id, path, run_token, "hll",
                       "streaming_hll", merge)


def hll_current(spark, path: str, checkpoint: str, p: int = 12) -> DataFrame:
    """The live distinct-count estimate from the ``streaming_hll``
    register state — one row, `analytics.hll_distinct` columns/math."""
    regs = spark.read.parquet(_current(spark, path, checkpoint))
    m = 1 << p
    big_r = 60 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    dec = "decimal(38,0)"
    return (
        regs.agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.expr(
                    f"CAST(shiftleft(CAST(1 AS BIGINT), {big_r} - r) AS {dec})"
                )
            ).alias("present_sum"),
        )
        .select(
            F.lit(m).alias("m"),
            "n_present",
            (
                F.coalesce(F.col("present_sum"), F.lit(0).cast(dec))
                + (F.lit(m).cast(dec) - F.col("n_present").cast(dec))
                * F.expr(
                    f"CAST(shiftleft(CAST(1 AS BIGINT), {big_r}) AS {dec})"
                )
            ).alias("numer_dec"),
        )
        .select(
            "m",
            "n_present",
            F.col("numer_dec").cast("double").alias("numer_d"),
            (
                F.lit(alpha * m * m) * F.lit(float(2 ** big_r))
                / F.col("numer_dec").cast("double")
            ).alias("estimate"),
        )
    )


def streaming_ohlc(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "value",
    time_col: str = "time",
    tiebreak_col: str = "event_id",
    bucket_seconds: int = 3600,
    processing_time: str | None = None,
):
    """Continuously maintain OHLC bars over a stream — live downsampled
    series (prices, latencies, queue depths) with bars-sized state
    forever: per-batch `analytics.ohlc_partials` merge into the running
    table by (key, bucket) — count sums, open/close as struct-min/max
    carry their (t, tiebreak, cents) provenance so late or out-of-order
    rows land in the right bar with the right open/close, no watermark
    needed (OHLC partials are order-free). Read the live bars any time
    with :func:`ohlc_current` (identical math to `analytics.ohlc_bars`
    — parity-tested). Exactly-once through ``_merge_step``.
    """
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _ohlc_batch(df, i, path, key_col, value_col, time_col,
                    tiebreak_col, bucket_seconds, run_token)))


def _ohlc_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    key_col: str,
    value_col: str,
    time_col: str,
    tiebreak_col: str,
    bucket_seconds: int,
    run_token: str,
) -> bool:
    """One partial-merge step (commit protocol: ``_merge_step``)."""
    def merge(prev):
        part = ohlc_partials(
            batch_df, key_col, value_col, time_col, tiebreak_col, bucket_seconds
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("key", "bucket")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.min("o").alias("o"),
                F.max("high_cents").alias("high_cents"),
                F.min("low_cents").alias("low_cents"),
                F.max("cl").alias("cl"),
            )
        )

    return _merge_step(batch_df, batch_id, path, run_token, "ohlc",
                       "streaming_ohlc", merge)


def ohlc_current(spark, path: str, checkpoint: str) -> DataFrame:
    """The live OHLC bars the ``streaming_ohlc`` pointer references —
    identical columns to ``analytics.ohlc_bars``."""
    return ohlc_from_partials(spark.read.parquet(_current(spark, path, checkpoint)))


def streaming_kmv(
    stream: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
    k: int = 64,
    processing_time: str | None = None,
):
    """Continuously maintain a KMV (bottom-k) distinct sketch over a
    stream — the streaming twin of ``analytics.kmv_distinct``, with AT
    MOST k rows of state forever. The merge law is the bottom-k of a
    union: each batch's bottom-k hashes union into the running table,
    re-sort, keep k — fully deterministic (md5_60 order statistics, no
    seeds), so the streamed sketch is BIT-equal to the batch sketch over
    the same rows. Unlike HLL the surviving hashes also identify a
    uniform sample of the distinct values and support downstream
    intersection estimates. Exactly-once through ``_merge_step``."""
    if k < 2:
        raise ValueError("streaming_kmv: k must be >= 2")
    run_token = _run_token(checkpoint)
    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _kmv_batch(df, i, path, col, k, run_token)))


def _kmv_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    col: str,
    k: int,
    run_token: str,
) -> bool:
    """One bottom-k merge step (commit protocol: ``_merge_step``)."""
    def merge(prev):
        # cast to string before hashing — batch kmv_distinct hashes the
        # stringified value, so the bit-equality law between streaming
        # and batch sketches must use the identical hash input for
        # non-string columns too
        part = batch_df.select(md5_60(F.col(col).cast("string")).alias("h"))
        part = part.distinct().orderBy("h").limit(k)
        if prev is not None:
            part = prev.unionByName(part).distinct().orderBy("h").limit(k)
        return part

    return _merge_step(batch_df, batch_id, path, run_token, "kmv",
                       "streaming_kmv", merge)


def kmv_current(spark, path: str, checkpoint: str, k: int = 64) -> DataFrame:
    """The live distinct-count estimate from ``streaming_kmv`` state —
    one row ``(n_hashes, kmv_estimate)``, same estimator as
    ``analytics.kmv_distinct`` (exact below k, else (k-1)·2^60 // h_k)."""
    state = spark.read.parquet(_current(spark, path, checkpoint))
    agg = state.agg(
        F.count(F.lit(1)).alias("n_hashes"), F.max("h").alias("__hk")
    )
    est = F.when(F.col("n_hashes") < k, F.col("n_hashes")).otherwise(
        F.expr(
            f"CAST((CAST({k - 1} AS DECIMAL(38, 0)) * 1152921504606846976)"
            " div __hk AS BIGINT)"
        )
    )
    return agg.select("n_hashes", est.cast("long").alias("kmv_estimate"))


def streaming_dedup_against(
    stream: DataFrame,
    existing: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    processing_time: str | None = None,
):
    """Streaming incremental-ingest dedup vs a STATIC corpus — the
    streaming twin of ``dedup.bloom_dedup_against(exact=True)`` with
    cross-batch first-wins, the production "today's crawl vs the
    ingested corpus" loop run continuously instead of nightly.

    Per micro-batch: rows pass the corpus Bloom prefilter (bitmap built
    ONCE here from ``existing`` and broadcast — no false negatives, so
    Bloom misses are provably new and skip the join); Bloom hits
    re-check against the exact corpus fingerprint set (materialized
    once under ``path``); survivors then anti-join the ACCEPTED
    fingerprint state accumulated from earlier batches, and within a
    batch the min-``id_col`` row per fingerprint wins (deterministic).
    Accepted rows land in ``{path}/rows_<token>_<batch>`` (overwrite →
    idempotent on replay); the fingerprint state is append-only, and a
    ``_latest_<token>`` pointer to the last committed batch id is the
    commit (replayed batch ids are no-ops, a cleared-and-reused
    checkpoint is refused — details on ``_dedup_against_batch``).

    Parity law (tested): over any prefix of batches, the accepted
    fingerprint set ≡ distinct(prefix fps) MINUS corpus fps — batching-
    independent; and with batches split on ascending ``id_col`` the
    accepted ROW per fingerprint is the global min-id row, i.e. exactly
    ``dedup_against(prefix, existing)`` + keep-first — SQL-expressible,
    so the registered query (q268) carries a full oracle.

    State scale: the accepted-fingerprint table grows with DISTINCT new
    content (16-byte hashes — ~16 GB per billion distinct docs, a
    parquet anti-join side, never driver-resident); the corpus side
    stays a fixed bitmap + fingerprint parquet. At 100 TB the corpus
    fingerprints shard by digest prefix exactly as
    ``dedup.build_bloom_filter`` documents.
    """
    run_token = _run_token(checkpoint)
    spark = existing.sparkSession

    corpus_fps = f"{path}/corpus_fps_{run_token}"
    fps_df = (existing.select(fingerprint(F.col(text_col)).alias("fp"))
              .distinct())
    # Content signature of the corpus fp set (count + order-free sum of a
    # 60-bit slice) — the materialized fps are keyed by checkpoint path
    # only, so without this a corpus swapped under the same checkpoint
    # would let Bloom-miss rows skip the exact re-check against a STALE
    # fp set and silently accept corpus duplicates. One extra aggregation
    # over the same scan the Bloom build below already pays — at a
    # 100 TB corpus that is two full passes per STREAM START (not per
    # batch), a deliberate trade of startup cost for the consistency
    # guarantee; amortize by starting streams rarely, not by skipping
    # the check. Same
    # artifact↔data consistency contract as the sq8 sidecar
    # (similarity.save_sq8_index) / reference tdbcli/tdb_index.c:439-451.
    sig_row = fps_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring("fp", 1, 15), 16, 10)
              .cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    sig = f"{sig_row['n']}:{sig_row['s'] or 0}"
    sig_path = f"{corpus_fps}/_sig"
    have = _fs_read_small(spark, sig_path)
    if have is None:
        # absent sig covers both "first run" and "crashed mid-write"
        # (parquet dir without its sig) — (re)write, then commit the sig
        # last so a trusted fps dir is always a complete one.
        fps_df.write.mode("overwrite").parquet(corpus_fps)
        _fs_write_small(spark, sig_path, sig)
    elif have.strip() != sig:
        raise RuntimeError(
            "streaming_dedup_against: the `existing` corpus does not "
            "match the fingerprint set materialized for this checkpoint "
            f"(stored sig {have.strip()!r} != corpus sig {sig!r}). The "
            "corpus must stay immutable for the life of a checkpoint — "
            "use a fresh checkpoint+state path for the new corpus or "
            f"delete the state at {path} explicitly."
        )
    bloom = spark.sparkContext.broadcast(
        build_bloom_filter(existing, text_col, num_bits, num_hashes)
    )

    return _start(stream, checkpoint, processing_time, lambda df, i: (
        _dedup_against_batch(df, i, path, text_col, id_col, bloom, num_bits,
                             num_hashes, run_token)))


def _dedup_against_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    text_col: str,
    id_col: str,
    bloom,
    num_bits: int,
    num_hashes: int,
    run_token: str,
) -> bool:
    """One Bloom-prefiltered accept step (exposed for crash-replay
    tests). State is APPEND-ONLY: each batch writes its accepted rows
    (``rows_<token>_<id>``) and their fingerprints
    (``fps_<token>_<id>`` — 16 bytes/doc, the anti-join side for later
    batches), then advances the pointer to its batch id. Rewriting a
    monolithic accepted-fingerprint table per batch would be quadratic
    write I/O over the stream's life; appending keeps writes O(batch)
    while reads (the anti-join over all committed fps dirs) cost the
    same bytes a monolithic table would. Replay contract: a batch id
    EQUAL to the committed pointer is a legitimate replay (crash between
    the pointer advance and the checkpoint commit log) → no-op IF the
    replayed batch's content signature matches the one committed for
    that id (an intact checkpoint replays identical data; a checkpoint
    cleared and reused after exactly N committed batches delivers a NEW
    lineage's batch N — the signature closes the id==pointer corner the
    pointer alone cannot see, batch 0 over prev_id 0 included); a batch
    id BELOW the pointer can only come from a cleared-and-reused
    checkpoint → refuse loudly."""
    spark = batch_df.sparkSession
    latest = f"{path}/_latest_{run_token}"
    rows_b = f"{path}/rows_{run_token}_{batch_id}"
    fps_b = f"{path}/fps_{run_token}_{batch_id}"
    bsig_b = f"{path}/_bsig_{run_token}_{batch_id}"

    def batch_sig() -> str:
        # order-free content signature of the batch INPUT (count + sum
        # of a 60-bit fp slice) — same construction as the corpus
        # signature in streaming_dedup_against; costs one agg over the
        # batch, paid once at commit and once per (rare) replay.
        r = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.conv(F.substring(fingerprint(F.col(text_col)), 1, 15),
                         16, 10).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return f"{r['n']}:{r['s'] or 0}"

    prev = (_fs_read_small(spark, latest) or "").strip() or None
    prev_id = int(prev) if prev is not None else None
    if prev_id is not None:
        if batch_id == prev_id:
            # replay of the committed id (crash landed between
            # _fs_swap_pointer and the checkpoint commit) — the outputs
            # for this id are already committed; no-op so the stream
            # resumes instead of crash-looping, UNLESS the content
            # differs from what was committed (a new lineage reusing the
            # checkpoint path at the same id must not be skipped).
            # Absent sig = state from a pre-signature version: keep the
            # old no-op semantics.
            want = (_fs_read_small(spark, bsig_b) or "").strip() or None
            if want is not None and want != batch_sig():
                raise RuntimeError(
                    "streaming_dedup_against: batch id "
                    f"{batch_id} replayed with DIFFERENT content than "
                    "the committed batch (content signature mismatch) — "
                    "an intact checkpoint replays identical data, so "
                    "this checkpoint path was cleared and reused by a "
                    "new stream lineage. Use a fresh checkpoint path or "
                    f"delete the state at {path} explicitly."
                )
            return False
        if batch_id < prev_id:
            raise RuntimeError(
                "streaming_dedup_against: batch id "
                f"{batch_id} arrived but this state path has already "
                f"committed batch {prev_id} — an intact checkpoint never "
                "replays below its committed pointer, so this is a "
                "previous lineage of the same checkpoint path "
                "(checkpoint was cleared and reused). Use a fresh "
                f"checkpoint path or delete the state at {path} "
                "explicitly."
            )
    m, k = num_bits, num_hashes

    @F.pandas_udf("boolean")
    def bloom_hit(fp: pd.Series) -> pd.Series:
        a = bloom.value
        h1 = np.array([int(s[:15], 16) for s in fp], dtype=np.uint64)
        h2 = np.array([int(s[16:31], 16) for s in fp], dtype=np.uint64)
        res = np.ones(len(fp), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            res &= ((a[(pos >> np.uint64(6)).astype(np.int64)]
                     >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
        return pd.Series(res)

    tagged = batch_df.withColumn(
        "__fp", fingerprint(F.col(text_col))
    ).withColumn("__hit", bloom_hit(F.col("__fp")))
    misses = tagged.filter(~F.col("__hit"))
    corpus = spark.read.parquet(f"{path}/corpus_fps_{run_token}")
    rechecked = tagged.filter(F.col("__hit")).join(
        corpus.withColumnRenamed("fp", "__fp"), "__fp", "left_anti"
    )
    surv = misses.unionByName(rechecked).drop("__hit")
    # first-wins within the batch: deterministic min-id representative
    w = Window.partitionBy("__fp").orderBy(F.asc(id_col))
    surv = (surv.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))
    prev_dirs = _committed_fps_dirs(spark, path, run_token, prev_id)
    if prev_dirs:
        prev_fps = spark.read.parquet(*prev_dirs).withColumnRenamed(
            "fp", "__fp")
        surv = surv.join(prev_fps, "__fp", "left_anti")
    surv = surv.localCheckpoint(eager=True)  # one computation, two sinks
    surv.drop("__fp").write.mode("overwrite").parquet(rows_b)
    # fps file width ∝ accepted count (16 B/doc → ~2M fps per file):
    # micro-batches still get the single file the union-reader likes,
    # but a huge backfill batch no longer funnels through one task.
    # The count is a cached-RDD scan (surv is checkpointed), not a
    # recompute.
    n_width = max(1, -(-surv.count() // 2_000_000))
    (surv.select(F.col("__fp").alias("fp")).coalesce(n_width)
     .write.mode("overwrite").parquet(fps_b))
    # commit the batch content signature BEFORE the pointer advance so a
    # committed pointer always has its sig alongside (the replay check
    # above reads it; a crash between sig and pointer re-runs the batch,
    # which overwrites both — rows/fps writes are mode=overwrite).
    _fs_write_small(spark, bsig_b, batch_sig())
    _fs_swap_pointer(spark, latest, str(batch_id))
    return True


def _committed_fps_dirs(spark, path: str, run_token: str,
                        upto_id: int | None) -> list[str]:
    """The dirs holding every committed accepted-fingerprint: the
    compacted dir (if :func:`compact_dedup_state` has run — ids at or
    below the ``_compacted`` pointer live there) plus the per-batch
    ``fps_<token>_<id>`` dirs above the pointer, up to ``upto_id``.
    Per-batch dirs at or below the pointer are SKIPPED even if a crash
    left them on disk — their content is already in the compacted dir,
    and fps dirs are an anti-join side, so an over-union would be
    harmless but a partial one would not; the pointer is the truth."""
    if upto_id is None:
        return []
    compacted = (_fs_read_small(
        spark, f"{path}/_compacted_{run_token}") or "").strip() or None
    c_id = int(compacted) if compacted is not None else -1
    out = [f"{path}/fpsc_{run_token}_{c_id}"] if c_id >= 0 else []
    out += [d for i, d in _id_dirs(spark, path, f"fps_{run_token}_").items()
            if c_id < i <= upto_id]
    return sorted(out)


def _id_dirs(spark, path: str, prefix: str) -> dict[int, str]:
    """``{id: dir}`` for the ``<prefix><id>`` entries directly under
    ``path``."""
    _, hpath, fs = _hfs(spark, path)
    names = [st.getPath().getName() for st in fs.listStatus(hpath(path))]
    return {int(n[len(prefix):]): f"{path}/{n}"
            for n in names if n.startswith(prefix)}


def compact_dedup_state(spark, path: str, checkpoint: str) -> int:
    """Compact ``streaming_dedup_against``'s accepted-fingerprint state:
    the N committed per-batch ``fps_<token>_<id>`` dirs become ONE
    distinct-union dir, so the per-batch anti-join stops opening N
    parquet footers as the stream ages. Run while the stream is STOPPED
    (the batch step unions the same dirs this replaces).

    Pointer-safe protocol (crash anywhere loses nothing):
    1. write the distinct union of all committed fps to
       ``fpsc_<token>_<upto>`` — new name, nothing reads it yet;
    2. atomically swap the ``_compacted_<token>`` pointer to ``upto`` —
       THE commit: readers now take the compacted dir plus per-batch
       dirs above it;
    3. lazily delete the superseded per-batch dirs and any older
       compacted dir — a crash here leaves stale dirs readers already
       ignore via the pointer.

    Accepted ROW dirs (``rows_<token>_<id>``) are outputs, not state,
    and stay untouched. Returns the number of per-batch dirs compacted
    away. Reference analog: the same build-amortization idea as
    ``tdb_cons_append`` (src/tdb_cons.c:574-657).
    """
    run_token = _run_token(checkpoint)
    upto = int(_current(spark, path, checkpoint))
    dirs = _committed_fps_dirs(spark, path, run_token, upto)
    per_batch = [d for d in dirs if f"/fps_{run_token}_" in d]
    if not per_batch:
        return 0  # already compact (or single compacted dir only)
    target = f"{path}/fpsc_{run_token}_{upto}"
    (spark.read.parquet(*dirs).distinct()
     .write.mode("overwrite").parquet(target))
    _fs_swap_pointer(spark, f"{path}/_compacted_{run_token}", str(upto))
    # Delete step sweeps by NAME, not just the dirs this run read:
    # an earlier compaction that crashed mid-delete leaves per-batch
    # fps dirs at/below its pointer and uncommitted fpsc_* targets that
    # _committed_fps_dirs rightly ignores — without the sweep they
    # accumulate unboundedly across crash cycles. Superseded bsig
    # markers (only the pointer batch's sig is ever read) go too.
    _, hpath, fs = _hfs(spark, path)
    for prefix, stale in ((f"fps_{run_token}_", lambda i: i <= upto),
                          (f"fpsc_{run_token}_", lambda i: i != upto),
                          (f"_bsig_{run_token}_", lambda i: i < upto)):
        for i, d in _id_dirs(spark, path, prefix).items():
            if stale(i):
                fs.delete(hpath(d), True)
    return len(per_batch)


def dedup_accepted_rows(spark, path: str, checkpoint: str) -> DataFrame:
    """All rows accepted so far by ``streaming_dedup_against``: the
    union of the per-batch output dirs whose batch id is at or below
    the committed pointer — a batch that crashed mid-write before its
    pointer advance is invisible here until its replay commits."""
    run_token = _run_token(checkpoint)
    upto = int(_current(spark, path, checkpoint))
    dirs = [d for i, d in _id_dirs(spark, path, f"rows_{run_token}_").items()
            if i <= upto]
    return spark.read.parquet(*sorted(dirs))
