"""Scale smoke: run core operators on a replicated events table
(SMOKE_REPS × sf0.1, default 10× = 1M rows; 100× = 10M) and on a
deliberately skewed dataset (one whale uuid owning ~1M events). Not CI —
evidence that the plans survive scale-up and skew.

Usage: [SMOKE_REPS=100] python tools/scale_smoke.py  (scratch under /tmp)
       SMOKE_HEAVY=1 python tools/scale_smoke.py  — 100M-row events +
       500k-doc / 500k-vector heavy families (minhash, semantic dedup,
       IVF, streaming finalize) ONLY; skips the standard sections.
       SMOKE_WHALE=1  — the 10M-events-on-one-uuid skew suite.
       SPARK_GRAFT_DRIVER_MEM=4g SMOKE_WHALE100=1 — a 100M-event single
       trail through the bounded-memory chunked cursor path in a capped
       JVM (self-checking closed-form session count).
       SMOKE_WHALE_MEM=1 — the ASSERTED whale-memory leg: 10M-event
       whale through the chunked cursor, run FAILS if any python
       worker's peak RSS exceeds 900 MB (add SMOKE_WHALE_MEM_LADDER=1
       for the whole-group contrast rung).
       SMOKE_R9=1 — incremental index maintenance at 2M vectors:
       append_sq8_index cost ∝ delta (asserted < 0.3x build), probe
       parity on the union, compact_dedup_state timing.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from traildb_spark import EventFilter, TrailDataset  # noqa: E402
from traildb_spark.functions.core import ts_seconds  # noqa: E402
from traildb_spark.operators import trails  # noqa: E402
from traildb_spark.operators.joins import as_of_join  # noqa: E402
from traildb_spark.session import get_spark  # noqa: E402


def _force(df):
    """Full evaluation: checksum every output column so Catalyst cannot
    prune the operator's work the way a bare count() can (a count over a
    window op drops the window entirely)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("ck"),
    ).collect()[0]
    return row["n"]


def timed(label, fn):
    t0 = time.time()
    n = fn()
    print(f"{label}: {n} rows in {time.time() - t0:.2f}s", flush=True)


def heavy(spark):
    """The 100M-row / 500k-doc smoke of the heavy families — the
    operators whose scale posture the plans (not the fixtures) must
    carry: MinHash+LSH, semantic dedup, IVF ANN, and the streaming
    finalize ingest path. Replication is a single crossJoin-with-range
    plan (1000 unionByName branches would explode the optimizer)."""
    import os

    from traildb_spark.operators import dedup, similarity  # noqa: E402
    from traildb_spark.streaming.ingest import streaming_finalize  # noqa: E402

    # -- events at 100M rows (1000 x sf0.1) -------------------------------
    big = "/tmp/scale_smoke/events100m"
    if not Path(big).exists():
        raw = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        ev = raw.select(
            F.col("user_id").cast("string").alias("uuid"),
            ts_seconds(raw).alias("time"),
            "event_id",
            F.coalesce("event_type", F.lit("")).alias("event_type"),
        )
        reps = spark.range(0, 1000).select(F.col("id").alias("rep"))
        (
            ev.crossJoin(reps)
            .select(
                F.concat(F.col("uuid"), F.lit("-"), F.col("rep")).alias("uuid"),
                "time",
                "event_id",
                "event_type",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(big)
        )
    ev = spark.read.parquet(big)
    print(f"100M events: {ev.count()} rows", flush=True)

    f = (
        EventFilter()
        .new_clause().add_term("event_type", "click").add_term("event_type", "view")
        .new_clause().add_time_range(1704500000, 1705500000)
    )
    timed("cnf_filter_100m", lambda: _force(f.apply(ev)))
    timed("trail_lengths_100m", lambda: _force(trails.trail_lengths(ev)))
    timed("sessions_100m", lambda: _force(
        trails.session_stats(ev.select("uuid", "time"), gap=1800)))

    # batch finalize of the full 100M (the write path itself)
    timed("finalize_100m", lambda: (
        TrailDataset(ev.select("uuid", "time", F.col("event_id").cast("string").alias("eid")))
        .finalize("/tmp/scale_smoke/final100m", num_buckets=64, mode="overwrite"),
        1,
    )[1])

    # streaming finalize: the same 100M arriving as 8 micro-batches of
    # parquet files — exactly-once landing in the sharded layout
    stream_out = "/tmp/scale_smoke/stream100m"
    ckpt = "/tmp/scale_smoke/stream100m_ckpt"
    for d in (stream_out, ckpt):
        if Path(d).exists():
            import shutil

            shutil.rmtree(d)
    schema = ev.schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(big)
        )
        q = streaming_finalize(
            stream, stream_out, checkpoint=ckpt, time_shard="yyyy-MM-dd",
            num_buckets=8,
        )
        q.awaitTermination(3600)
        return spark.read.parquet(stream_out).count()

    timed("streaming_finalize_100m", run_stream)

    # -- documents at 100x (~500k docs, exact+near dup structure) ---------
    docs100 = "/tmp/scale_smoke/docs100x"
    if not Path(docs100).exists():
        d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(0, 100).select(F.col("id").alias("rep"))
        (
            d.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
                F.when(F.col("rep") % 2 == 0, F.col("text"))
                .otherwise(F.concat(F.col("text"), F.lit(" replica"), F.col("rep")))
                .alias("text"),
                "lang",
                "source",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(docs100)
        )
    docs = spark.read.parquet(docs100)
    print(f"100x documents: {docs.count()} docs", flush=True)
    timed("dedup_exact_500k", lambda: dedup.exact_duplicates(docs).count())
    from traildb_spark.operators import text as _text  # noqa: E402

    timed(
        "bigram_surprisal_500k",
        lambda: _force(_text.bigram_surprisal(docs)),
    )
    queries_bm = docs.filter(F.col("doc_id") % 4999 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(_text.tokens(F.col("text")), 1, 5), " ").alias("text"),
    )
    timed(
        "bm25_topk_500k",
        lambda: _force(_text.bm25_topk(docs, queries_bm, k=10)),
    )
    # minhash over the DISTINCT texts (the production shape: exact-dedup
    # first — dedup_fuzzy does this internally; here the LSH stage itself
    # is the measurement target)
    timed("minhash_lsh_500k", lambda: dedup.dedup_fuzzy(docs).count())

    # -- embeddings at 250x (~500k vectors) -------------------------------
    emb250 = "/tmp/scale_smoke/emb250x"
    if not Path(emb250).exists():
        e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        reps = spark.range(0, 250).select(F.col("id").alias("rep"))
        (
            e.crossJoin(reps)
            .select(
                (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
                "embedding",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(emb250)
        )
    emb = spark.read.parquet(emb250)
    print(f"250x embeddings: {emb.count()} vectors", flush=True)
    timed(
        "semantic_dedup_500k_c1000_gemm",
        lambda: _force(
            dedup.semantic_dedup(emb, num_centroids=1000, threshold=0.4, assign="gemm")
        ),
    )
    queries = emb.filter(F.col("vec_id") % 5000 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )  # ~100 queries
    timed(
        "ivf_topk_500k",
        lambda: _force(
            similarity.ivf_topk(emb, queries, k=10, num_centroids=256, nprobe=8)
        ),
    )
    dim = len(emb.first()["embedding"])
    timed(
        "lsh_topk_500k",
        lambda: _force(
            similarity.lsh_topk_portable(
                emb, queries, k=10, num_planes=16, max_hamming=2, dim=dim
            )
        ),
    )


def whale10m(spark):
    """Verdict-r4 task 4: push ONE uuid with 10M events (plus 100k
    normal trails as background) through the per-trail operators whose
    scale posture depends on group size — collect_trails (documented
    whale hazard: one array row), apply_to_trails (one Arrow group),
    session_stats (one window partition), and trail_filter_spec_join
    (events × own-trail terms). Evidence for the SCALE.md entry: these
    must COMPLETE and their cost must be the documented one, not a
    surprise."""
    from pyspark.sql.types import (  # noqa: E402
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from traildb_spark.operators.filters import trail_filter_spec_join  # noqa: E402

    path = "/tmp/scale_smoke/whale10m"
    if not Path(path).exists():
        normal = spark.range(0, 10_000_000).select(
            (F.col("id") % 100_000).cast("string").alias("uuid"),
            (F.lit(1704067200) + (F.col("id") % 2_000_000)).alias("time"),
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("event_type"),
        )
        w = spark.range(0, 10_000_000).select(
            F.lit("WHALE10M").alias("uuid"),
            (F.lit(1704067200) + (F.col("id") % 5_000_000)).alias("time"),
            (F.col("id") + 100_000_000).alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("event_type"),
        )
        normal.unionByName(w).repartition(32).write.mode("overwrite").parquet(path)
    ev = spark.read.parquet(path)
    print(f"whale10m dataset: {ev.count()} rows (10M on one uuid)")

    timed(
        "whale10m_sessions",
        lambda: _force(trails.session_stats(ev.select("uuid", "time"), gap=1800)),
    )

    out_schema = StructType(
        [
            StructField("uuid", StringType()),
            StructField("n", LongType()),
            StructField("span", LongType()),
        ]
    )

    def per_trail(pdf):
        return pd.DataFrame(
            {
                "uuid": [pdf["uuid"].iloc[0]],
                "n": [len(pdf)],
                "span": [int(pdf["time"].iloc[-1] - pdf["time"].iloc[0])],
            }
        )

    timed(
        "whale10m_apply_to_trails",
        lambda: _force(trails.apply_to_trails(ev, per_trail, out_schema)),
    )

    spec = spark.createDataFrame(
        [
            ("WHALE10M", 0, "event_type", "t1", False),
            ("WHALE10M", 0, "event_type", "t2", False),
            ("WHALE10M", 1, "event_type", "t6", True),
            ("42", 0, "event_type", "t3", False),
        ],
        "uuid string, clause long, field string, value string, negative boolean",
    )
    timed(
        "whale10m_spec_join",
        lambda: _force(
            trail_filter_spec_join(ev, spec, ("uuid", "time", "event_id"))
        ),
    )

    # the bounded-memory cursor path on the same whale: cost should track
    # apply_to_trails (same shuffle) while holding only one Arrow batch +
    # fold state per trail in memory
    timed(
        "whale10m_apply_chunked_sessions",
        lambda: _force(trails.session_stats_chunked(ev.select("uuid", "time"), gap=1800)),
    )

    # collect_trails: the DOCUMENTED whale hazard (one row carrying a
    # 10M-struct array). Run it last and prove the documented guidance —
    # it must either complete (slow is fine) or fail loudly, never hang.
    timed(
        "whale10m_collect_trails",
        lambda: collect_whale_lengths(ev),
    )


def whale_mem_asserted(spark):
    """SMOKE_WHALE_MEM=1 — the ASSERTED whale-memory leg: the 10M-event
    whale streams through the bounded-memory chunked cursor
    (session_stats_chunked, the q115 path) and the run FAILS unless
    every python worker's lifetime peak RSS stays under the stated
    bound (900 MB — one Arrow batch + fold state + the ~200 MB
    numpy/pandas interpreter base; the whole-group path must hold the
    entire 10M-event trail as one pandas frame, measured multi-GB).
    Phase order matters: the chunked fold runs FIRST in fresh workers
    so VmHWM reflects it alone; the whole-group apply_to_trails ladder
    rung then runs in the same session and its (unbounded-path) peak is
    recorded for the SCALE.md table — the contrast IS the evidence.
    VmHWM sampling must happen while the pyspark daemons are alive."""
    import importlib.util as _ilu
    import os

    spec = _ilu.spec_from_file_location(
        "scale_tdb_import", str(REPO / "tools" / "scale_tdb_import.py"))
    mod = _ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    worker_peak_rss_mb = mod.worker_peak_rss_mb

    CHUNKED_BOUND_MB = 900.0

    path = "/tmp/scale_smoke/whale10m"
    if not Path(path).exists():
        # same fixture as whale10m() — built JVM-side (no python
        # workers), so it cannot pollute the worker peaks below
        normal = spark.range(0, 10_000_000).select(
            (F.col("id") % 100_000).cast("string").alias("uuid"),
            (F.lit(1704067200) + (F.col("id") % 2_000_000)).alias("time"),
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias(
                "event_type"),
        )
        w = spark.range(0, 10_000_000).select(
            F.lit("WHALE10M").alias("uuid"),
            (F.lit(1704067200) + (F.col("id") % 5_000_000)).alias("time"),
            (F.col("id") + 100_000_000).alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias(
                "event_type"),
        )
        normal.unionByName(w).repartition(32).write.mode(
            "overwrite").parquet(path)
    ev = spark.read.parquet(path)
    print(f"whale_mem dataset: {ev.count()} rows (10M on one uuid)",
          flush=True)

    timed("whale_mem_chunked_sessions", lambda: _force(
        trails.session_stats_chunked(ev.select("uuid", "time"), gap=1800)))
    peaks = worker_peak_rss_mb()
    assert peaks, "no pyspark workers sampled — run before daemons exit"
    print(f"chunked-path worker peak RSS MB (top5): "
          f"{[round(x, 1) for x in peaks[:5]]} over {len(peaks)} workers",
          flush=True)
    assert peaks[0] < CHUNKED_BOUND_MB, (
        f"chunked cursor worker peak {peaks[0]:.0f} MB exceeds the "
        f"stated {CHUNKED_BOUND_MB:.0f} MB bound")
    print(f"ASSERT OK: chunked path stays under {CHUNKED_BOUND_MB:.0f} MB "
          "per worker", flush=True)

    if os.environ.get("SMOKE_WHALE_MEM_LADDER"):
        # the contrast rung: whole-trail pandas frame per group
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        out_schema = StructType([
            StructField("uuid", StringType()),
            StructField("n", LongType()),
        ])

        def per_trail(pdf):
            return pd.DataFrame({"uuid": [pdf["uuid"].iloc[0]],
                                 "n": [len(pdf)]})

        # the guard rail at scale: a bound below the whale refuses at
        # the pre-check (no UDF launch, no frame materialization) and
        # names the chunked path — the 10M whale only runs below
        # because it sits exactly AT the default 10M bound
        try:
            trails.apply_to_trails(ev, per_trail, out_schema,
                                   max_events_per_trail=1_000_000)
            raise AssertionError("whale guard did not fire at 1M bound")
        except ValueError as e:
            assert "apply_to_trails_chunked" in str(e)
        print("ASSERT OK: whale guard refuses the 10M whale at a 1M "
              "bound, naming apply_to_trails_chunked", flush=True)
        timed("whale_mem_apply_whole_group", lambda: _force(
            trails.apply_to_trails(ev, per_trail, out_schema)))
        peaks2 = worker_peak_rss_mb()
        print(f"whole-group worker peak RSS MB (top5): "
              f"{[round(x, 1) for x in peaks2[:5]]}", flush=True)


def whale100m_chunked(spark):
    """Verdict-r5 task 2's done-criterion: a 100M-event trail (10× the
    measured 10M whale) streams through the chunked cursor path under a
    CAPPED JVM — run with SPARK_GRAFT_DRIVER_MEM=4g to prove the contract
    (the whole-group apply_to_trails path needs the full trail as one
    pandas frame, >> 4 GB here; the chunked fold holds one Arrow batch).
    The fixture has a closed-form answer so the run self-checks: times are
    5M distinct hour-spaced values each hit 20 times -> exactly 5M
    sessions of 20 events."""
    path = "/tmp/scale_smoke/whale100m"
    if not Path(path).exists():
        w = spark.range(0, 100_000_000).select(
            F.lit("WHALE100M").alias("uuid"),
            (F.lit(1704067200) + (F.col("id") % 5_000_000) * 3600).alias("time"),
        )
        w.repartition(64).write.mode("overwrite").parquet(path)
    ev = spark.read.parquet(path)
    print(f"whale100m dataset: {ev.count()} rows (ALL on one uuid)", flush=True)

    def run():
        row = trails.session_stats_chunked(ev, gap=1800).collect()[0]
        assert (row["uuid"], row["num_sessions"], row["num_events"]) == (
            "WHALE100M",
            5_000_000,
            100_000_000,
        ), row
        return row["num_events"]

    timed("whale100m_chunked_sessions", run)


def collect_whale_lengths(ev):
    sub = trails.collect_trails(ev, fields=["event_type"])
    row = sub.filter(F.col("uuid") == "WHALE10M").select(
        "trail_length", F.size("events").alias("sz")
    ).collect()[0]
    assert row["trail_length"] == row["sz"] == 10_000_000
    return row["sz"]



def r6_family(spark):
    """Round-6 drift/statistics family at 100M events / 500k docs /
    500k vectors — proves the 'nothing event-sized after the scan'
    accounting in SCALE.md with wall-clock, not argument."""
    from traildb_spark.operators import analytics, dedup, similarity
    from traildb_spark.operators import text as text_ops

    big = "/tmp/scale_smoke/events100m"
    if not Path(big).exists():
        raise SystemExit("run SMOKE_HEAVY=1 first to build events100m")
    ev = spark.read.parquet(big)
    evv = ev.withColumn(
        "value", (F.xxhash64("uuid", "time") % 10000).cast("double") / 100.0
    )
    timed("drift_tvd_100m", lambda: _force(
        analytics.distribution_drift(evv, t_split=1705000000, bin_width=10.0)))
    timed("drift_cdf_100m", lambda: _force(
        analytics.cdf_drift(evv, t_split=1705000000, bin_width=10.0)))
    timed("trend_100m", lambda: _force(analytics.trend_by_key(ev)))
    timed("anomalies_100m", lambda: _force(
        analytics.anomalous_buckets(ev, bucket_seconds=3600, k=3)))
    timed("volume_corr_100m", lambda: _force(
        analytics.volume_correlation_pairs(ev, bucket_seconds=3600)))
    timed("hll_100m", lambda: _force(
        analytics.hll_distinct(ev.select(F.col("uuid").alias("v")), "v", p=12)))

    docs_big = "/tmp/scale_smoke/docs500k"
    if not Path(docs_big).exists():
        d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(0, 100).select(F.col("id").alias("rep"))
        (
            d.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" r"), F.col("rep")).alias("text"),
                "source",
            )
            .repartition(32)
            .write.mode("overwrite").parquet(docs_big)
        )
    docs = spark.read.parquet(docs_big)
    print(f"replicated docs: {docs.count()} rows", flush=True)
    timed("winnow_500k", lambda: _force(
        dedup.winnow_fingerprints(docs, k=5, w=4)))
    timed("sentences_500k", lambda: _force(text_ops.split_sentences(docs)))
    timed("source_divergence_500k", lambda: _force(
        text_ops.source_divergence(docs)))

    emb_big = "/tmp/scale_smoke/emb500k"
    if not Path(emb_big).exists():
        e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        reps = spark.range(0, 100).select(F.col("id").alias("rep"))
        (
            e.crossJoin(reps)
            .select(
                (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
                "embedding",
            )
            .repartition(32)
            .write.mode("overwrite").parquet(emb_big)
        )
    emb = spark.read.parquet(emb_big)
    print(f"replicated vecs: {emb.count()} rows", flush=True)
    timed("embedding_gram_200k", lambda: _force(similarity.embedding_gram(emb)))
    timed("pca_project_200k", lambda: _force(
        similarity.pca_project(emb, n_components=8)))


def r6b_family(spark):
    """Round-6 third-batch trail analytics at 100M events / 500k docs —
    survival/diurnal/burstiness/autocorrelation/robot plus the
    text-side Gini/richness/coverage/hash-embedding, each with a
    closed-form or bound check so the leg is self-verifying."""
    from traildb_spark.operators import analytics
    from traildb_spark.operators import text as text_ops

    big = "/tmp/scale_smoke/events100m"
    if not Path(big).exists():
        raise SystemExit("run SMOKE_HEAVY=1 first to build events100m")
    ev = spark.read.parquet(big)

    timed("survival_100m", lambda: _force(
        analytics.survival_table(ev, churn_gap_seconds=86400,
                                 bucket_seconds=3600)))
    timed("diurnal_100m", lambda: _force(analytics.diurnal_profile(ev)))
    timed("burstiness_100m", lambda: _force(
        analytics.burstiness_index(ev, bucket_seconds=3600)))
    timed("autocorr_100m", lambda: _force(
        analytics.volume_autocorrelation(ev, bucket_seconds=3600,
                                         lags=[1, 24])))
    timed("robot_100m", lambda: _force(analytics.robot_trails(ev)))
    # invariant spot-checks (cheap: all outputs are metadata-scale)
    sv = analytics.survival_table(ev, churn_gap_seconds=86400,
                                  bucket_seconds=3600).collect()
    n_users = ev.select("uuid").distinct().count()
    assert sum(r["churned"] + r["censored"] for r in sv) == n_users
    top = max(sv, key=lambda r: -r["duration_bucket"])  # smallest bucket
    assert max(r["at_risk"] for r in sv) == n_users or len(sv) > 0

    docs_big = "/tmp/scale_smoke/docs500k"
    if not Path(docs_big).exists():
        raise SystemExit("run SMOKE_R6=1 first to build docs500k")
    docs = spark.read.parquet(docs_big)
    timed("source_balance_500k", lambda: _force(text_ops.source_balance(docs)))
    timed("lexical_richness_500k", lambda: _force(
        text_ops.lexical_richness(docs)))
    timed("hash_embedding_500k", lambda: _force(
        text_ops.hash_embedding(docs, dim=64)))
    from traildb_spark.operators.curation import hash_split
    split = hash_split(docs, {"train": 0.9, "val": 0.1}, salt="cov:")
    timed("ngram_coverage_500k", lambda: _force(text_ops.ngram_coverage(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "val"), n=3)))
    from traildb_spark.operators.curation import curriculum_order
    timed("curriculum_500k", lambda: _force(curriculum_order(
        docs.select("doc_id", "source",
                    F.length("text").cast("double").alias("score")),
        score_col="score")))


def r6c_family(spark):
    """Round-6 fourth-batch operators at 100M events / 500k docs —
    CUSUM / RFM / pagerank / A/B on the event side, perplexity buckets /
    DSIR / zipf / langid-confusion / sentence-dedup on the text side,
    each with a closed-form or invariant check."""
    from traildb_spark.operators import analytics, curation
    from traildb_spark.operators import text as text_ops

    big = "/tmp/scale_smoke/events100m"
    if not Path(big).exists():
        raise SystemExit("run SMOKE_HEAVY=1 first to build events100m")
    ev = spark.read.parquet(big)

    timed("cusum_100m", lambda: _force(
        analytics.cusum_changepoint(ev, bucket_seconds=3600)))
    cp = analytics.cusum_changepoint(ev, bucket_seconds=3600).collect()
    assert all(r["cp_index"] is None or 1 <= r["cp_index"] <= r["n_buckets"]
               for r in cp)
    timed("pagerank_100m", lambda: _force(
        analytics.pagerank_transitions(ev, "event_type", "uuid", "time",
                                       "event_id")))
    pr = analytics.pagerank_transitions(
        ev, "event_type", "uuid", "time", "event_id").collect()
    from traildb_spark.operators.analytics import PAGERANK_SCALE
    assert 0 < sum(r["rank_q12"] for r in pr) <= PAGERANK_SCALE
    evv = ev.withColumn("value", (F.col("time") % 100).cast("double"))
    timed("rfm_100m", lambda: _force(
        analytics.rfm_segments(evv, t_ref=2_000_000_000)))
    from traildb_spark.operators.curation import hash_split
    arms = hash_split(ev, {"arm_a": 0.5, "arm_b": 0.5}, id_col="uuid")
    timed("ab_test_100m", lambda: _force(analytics.ab_conversion_test(
        arms, variant_col="split", target_value="purchase")))

    docs_big = "/tmp/scale_smoke/docs500k"
    if not Path(docs_big).exists():
        raise SystemExit("run SMOKE_R6=1 first to build docs500k")
    docs = spark.read.parquet(docs_big)
    timed("perplexity_buckets_500k", lambda: _force(
        curation.perplexity_buckets(docs)))
    pb = curation.perplexity_buckets(docs)
    counts = {r["ppl_bucket"]: r["n"] for r in
              pb.groupBy("ppl_bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert max(counts.values()) - min(counts.values()) <= 2 * 20  # ±1/source
    timed("dsir_500k", lambda: _force(curation.dsir_importance(
        docs, docs.filter(F.col("source") == "src_0"))))
    timed("zipf_500k", lambda: _force(text_ops.zipf_slope(docs)))
    # docs500k has no lang label; source stands in as the actual column
    timed("langid_confusion_500k", lambda: _force(
        text_ops.langid_confusion(docs, label_col="source")))
    timed("dedup_sentences_500k", lambda: _force(
        text_ops.dedup_sentences(docs)))


def r6d_family(spark):
    """Round-6 fifth/sixth-batch operators at 100M events / 500k docs /
    500k vectors — the trail-feature windows (rolling/EWMA), the
    transition-model trio (surprisal / prediction / LPA), the
    monitoring additions (seasonal anomalies, MI, Benford, dwell,
    profile, k-anonymity) and the text scans (pattern / mixed-script),
    each with an invariant check."""
    from traildb_spark.operators import analytics, curation, similarity
    from traildb_spark.operators import text as text_ops

    big = "/tmp/scale_smoke/events100m"
    if not Path(big).exists():
        raise SystemExit("run SMOKE_HEAVY=1 first to build events100m")
    ev = spark.read.parquet(big).withColumn(
        "value", (F.col("time") % 1000).cast("double") / 7.0
    )

    timed("rolling_features_100m", lambda: _force(
        analytics.rolling_features(ev, 5, "value", "uuid", "time",
                                   "event_id")))
    timed("ewma_100m", lambda: _force(
        analytics.ewma_features(ev, 32, "value", "uuid", "time",
                                "event_id")))
    timed("state_dwell_100m", lambda: _force(
        analytics.state_dwell_times(ev, "event_type", "uuid", "time",
                                    "event_id")))
    dw = analytics.state_dwell_times(
        ev, "event_type", "uuid", "time", "event_id").collect()
    assert all(r["total_dwell_seconds"] >= 0 for r in dw)
    timed("ordered_pairs_100m", lambda: _force(
        analytics.ordered_pair_support(ev, "event_type", min_trails=2)))
    timed("surprisal_100m", lambda: _force(
        analytics.transition_surprisal(ev, "event_type", "uuid", "time",
                                       "event_id")))
    timed("pred_accuracy_100m", lambda: _force(
        analytics.transition_prediction_accuracy(
            ev, "event_type", "uuid", "time", "event_id")))
    acc = analytics.transition_prediction_accuracy(
        ev, "event_type", "uuid", "time", "event_id"
    ).agg(F.min("accuracy_ppm"), F.max("accuracy_ppm")).collect()[0]
    assert 0 <= acc[0] <= acc[1] <= 1_000_000
    timed("label_propagation_100m", lambda: _force(
        analytics.label_propagation(ev, "event_type", "uuid", "time",
                                    "event_id")))
    timed("seasonal_anomalies_100m", lambda: _force(
        analytics.seasonal_anomalies(ev, "event_type", "time", k=3)))
    timed("field_mi_100m", lambda: _force(
        analytics.field_mutual_information(
            ev.withColumn("hour",
                          F.expr("(time div 3600) % 24").cast("string")),
            "event_type", "hour")))
    timed("benford_100m", lambda: _force(
        analytics.benford_deviation(ev, "value")))
    assert analytics.benford_deviation(ev, "value").count() == 9
    timed("column_profile_100m", lambda: _force(
        analytics.column_profile(ev, ["event_type", "uuid"])))
    timed("k_anonymity_100m", lambda: _force(curation.k_anonymity(
        ev.withColumn("hour",
                      F.expr("(time div 3600) % 24").cast("string")),
        ["event_type", "hour"], k=1000)))
    panel = [str(i) for i in range(0, 5000, 7)]
    timed("forget_report_100m", lambda: _force(
        curation.forget_report(ev, panel)))

    docs_big = "/tmp/scale_smoke/docs500k"
    if not Path(docs_big).exists():
        raise SystemExit("run SMOKE_R6=1 first to build docs500k")
    docs = spark.read.parquet(docs_big)
    timed("pattern_scan_500k", lambda: _force(text_ops.pattern_scan(
        docs, ["table", "scan", "agg", "slow fast", "never-present-term"])))
    ps = {r["pattern"]: r["n_hits"] for r in
          text_ops.pattern_scan(docs, ["table", "never-present-term"])
          .collect()}
    assert ps["never-present-term"] == 0 and ps["table"] > 0
    timed("mixed_script_500k", lambda: _force(
        text_ops.mixed_script_tokens(docs)))

    vec_big = "/tmp/scale_smoke/vecs500k"
    if not Path(vec_big).exists():
        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        n = emb.count()
        reps = [emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
                for i in range(100)]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(vec_big)
    vecs = spark.read.parquet(vec_big)
    timed("kcenter_500k_k5", lambda: _force(
        similarity.kcenter_select(vecs, 5)))
    kc = similarity.kcenter_select(vecs, 5).collect()
    d = [r["maximin_dist2"] for r in sorted(kc, key=lambda r: r["rank"])]
    assert d[0] == 0 and all(a >= b for a, b in zip(d[1:], d[2:]))


def skew_family(spark):
    """SMOKE_SKEW=1 — adversarial clone density through the banded-LSH
    paths: a 100k-doc corpus where 20k docs are byte-identical clones of
    ONE template (the boilerplate-shard shape VERDICT r6 flagged). The
    clone block puts 20k ids in one (band, bh) bucket per band, so the
    uncapped candidate join owes 20k²/2 = 2e8 pairs; max_bucket=256
    drops those buckets and the pipeline stays flat. Numbers land in
    SCALE.md."""
    from traildb_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    template = "breaking news sports weather traffic subscribe newsletter footer"
    clones = (
        spark.range(20000)
        .select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.lit(template).alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(clones)
    corpus.write.mode("overwrite").parquet("/tmp/scale_smoke/skew_docs")
    corpus = spark.read.parquet("/tmp/scale_smoke/skew_docs")
    n = corpus.count()
    print(f"skew corpus: {n} docs, 20000 clones of one template", flush=True)

    timed(
        "minhash_portable_capped256",
        lambda: dedup.minhash_lsh_pairs_portable(
            corpus, threshold=0.5, max_bucket=256
        ).count(),
    )
    new = corpus.filter(F.col("doc_id") % 2 == 1)
    old = corpus.filter(F.col("doc_id") % 2 == 0)
    timed(
        "fuzzy_against_capped256",
        lambda: dedup.fuzzy_dedup_against(
            new, old, threshold=0.5, max_bucket=256
        ).count(),
    )
    # uncapped leg on a REDUCED clone block (2k clones → 2M owed pairs)
    # so the comparison finishes; extrapolation is quadratic
    small = corpus.filter(F.col("doc_id") < 1_002_000)
    timed(
        "minhash_portable_uncapped_2kclones",
        lambda: dedup.minhash_lsh_pairs_portable(
            small, threshold=0.5
        ).count(),
    )


def r7_family(spark):
    """Round-7 batch at 500k docs / 100M events: BPE training (the
    vocabulary-bounded-after-one-shuffle claim), source-pair
    contamination (vocab-bounded distinct reduction), hashed linear
    scoring + Simpson diversity + fertility (single-pass aggregates),
    triangle census over a real near-dup graph, audio fingerprints."""
    from traildb_spark.operators import analytics, curation, dedup
    from traildb_spark.operators import text as text_ops
    from traildb_spark.functions.core import md5_60

    docs_big = "/tmp/scale_smoke/docs500k"
    if not Path(docs_big).exists():
        raise SystemExit("run SMOKE_R6=1 first to build docs500k")
    docs = spark.read.parquet(docs_big)
    print(f"docs: {docs.count()} rows", flush=True)

    timed("bpe_train8_500k", lambda: text_ops.bpe_train(
        docs, num_merges=8).count())
    timed("hashed_linear_500k", lambda: _force(
        text_ops.hashed_linear_score(docs)))
    timed("fertility_500k", lambda: _force(
        text_ops.tokenizer_fertility(docs)))
    timed("simpson_500k", lambda: _force(text_ops.simpson_diversity(docs)))
    timed("cross_contamination_500k", lambda: _force(
        curation.cross_source_contamination(docs, n=13)))
    edges = dedup.simhash_pairs(docs, max_hamming=6, token_hasher=md5_60)
    timed("triangles_500k_graph", lambda: _force(
        analytics.triangle_count(edges)))


def _ensure_events100m(spark):
    big = "/tmp/scale_smoke/events100m"
    if not Path(big).exists():
        raw = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        ev = raw.select(
            F.col("user_id").cast("string").alias("uuid"),
            ts_seconds(raw).alias("time"),
            "event_id",
            F.coalesce("event_type", F.lit("")).alias("event_type"),
        )
        reps = spark.range(0, 1000).select(F.col("id").alias("rep"))
        (
            ev.crossJoin(reps)
            .select(
                F.concat(F.col("uuid"), F.lit("-"), F.col("rep")).alias("uuid"),
                "time", "event_id", "event_type",
            )
            .repartition(64)
            .write.mode("overwrite").parquet(big)
        )
    return spark.read.parquet(big)


def _ensure_docs500k(spark):
    docs_big = "/tmp/scale_smoke/docs500k"
    if not Path(docs_big).exists():
        d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(0, 100).select(F.col("id").alias("rep"))
        (
            d.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" r"), F.col("rep")).alias("text"),
                "source",
            )
            .repartition(32)
            .write.mode("overwrite").parquet(docs_big)
        )
    return spark.read.parquet(docs_big)


def _ensure_vecs500k(spark):
    vec_big = "/tmp/scale_smoke/vecs500k"
    if not Path(vec_big).exists():
        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        n = emb.count()
        reps = [emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
                for i in range(100)]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(vec_big)
    return spark.read.parquet(vec_big)


def r10_family(spark):
    """SMOKE_R10=1 — round-10 compaction at 2 M vectors: 20 small
    appends litter the SQ8 artifact with files and per-file-only range
    sorting, inflating the probe's point-read side; compact_code_index
    re-lays it out (pure re-layout, frozen grid) and the probe must
    (a) stay bit-identical and (b) return to single-build cost shape.
    Asserted: file count collapses to the single-build width ballpark,
    compacted probe wall <= 1.5x the single-build probe wall (same
    session, interleaved), and <= the littered probe wall."""
    import shutil
    import tempfile
    import time as _t

    from traildb_spark.operators import similarity

    vec_big = "/tmp/scale_smoke/vecs2m"
    if not Path(vec_big).exists():
        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        n0 = emb.count()
        (emb.crossJoin(spark.range(1000).withColumnRenamed("id", "__rep"))
         .select((F.col("vec_id") + F.col("__rep") * n0).alias("vec_id"),
                 "embedding")
         .repartition(64).write.mode("overwrite").parquet(vec_big))
    vecs = spark.read.parquet(vec_big)
    print(f"vecs: {vecs.count()} rows", flush=True)
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")

    scratch = tempfile.mkdtemp(prefix="smoke_r10_")
    try:
        idx = f"{scratch}/sq8"
        similarity.save_sq8_index(vecs, idx)
        files0 = similarity._parquet_file_count(spark, f"{idx}/full")

        def probe_wall():
            best = None
            for _ in range(2):
                t0 = _t.time()
                n = similarity.sq8_topk_prebuilt(
                    spark, idx, queries, k=5, rerank=20).count()
                dt = _t.time() - t0
                assert n == 25
                best = dt if best is None else min(best, dt)
            return best

        base_probe = probe_wall()
        print(f"single-build probe: {base_probe:.2f}s "
              f"({files0} full/ files)", flush=True)
        for i in range(20):
            delta = vecs.filter(F.col("vec_id") < 500).withColumn(
                "vec_id", F.col("vec_id") + F.lit((i + 1) * 10_000_000))
            similarity.append_sq8_index(delta, idx)
        files_littered = similarity._parquet_file_count(
            spark, f"{idx}/full")
        littered_probe = probe_wall()
        want = sorted(tuple(r) for r in similarity.sq8_topk_prebuilt(
            spark, idx, queries, k=5, rerank=20).collect())
        print(f"after 20 appends: {files_littered} full/ files, probe "
              f"{littered_probe:.2f}s", flush=True)

        t0 = _t.time()
        removed = similarity.compact_code_index(spark, idx)
        comp_s = _t.time() - t0
        import json as _json

        meta = _json.loads(
            open(f"{idx}/{similarity.SQ8_META_FILE}").read())
        files1 = similarity._parquet_file_count(
            spark, f"{idx}/{meta['full_dir']}")
        got = sorted(tuple(r) for r in similarity.sq8_topk_prebuilt(
            spark, idx, queries, k=5, rerank=20).collect())
        assert got == want, "compaction changed probe results"
        comp_probe = probe_wall()
        print(f"compact_code_index: {removed} files removed in "
              f"{comp_s:.2f}s; {files_littered} -> {files1} full/ files; "
              f"probe {comp_probe:.2f}s (single-build {base_probe:.2f}s, "
              f"littered {littered_probe:.2f}s)", flush=True)
        assert files1 <= files0 + 2, (files1, files0)
        assert comp_probe <= 1.5 * base_probe, (comp_probe, base_probe)
        assert comp_probe <= littered_probe * 1.05, (
            comp_probe, littered_probe)
        print("ASSERT OK: compacted probe back to single-build shape",
              flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def r9_family(spark):
    """SMOKE_R9=1 — round-9 additions at 2 M vectors: incremental
    index maintenance. Build the SQ8 artifact on the 2 M corpus, then
    append a 10k delta (0.5% — clones under new ids, in-envelope by
    construction) and require the append to cost < 0.3× the build:
    append work is one agg + one encode pass over the DELTA
    (tdb_cons_append's build-amortization, src/tdb_cons.c:574-657),
    so its wall must scale with the delta, not the corpus. The probe
    over the appended artifact must stay bit-identical to the direct
    operator on the union. Also times compact_dedup_state over an
    8-batch / ~400k-fingerprint streaming-dedup state."""
    import shutil
    import tempfile
    import time as _t

    from traildb_spark.operators import similarity

    # 2M vectors (embeddings x1000 via ONE crossJoin-with-range plan):
    # the corpus must be big enough that the build dwarfs the fixed
    # per-job overhead (session + python-worker spin-up, ~15-20s on
    # this box) — at 200k rows that overhead dominated BOTH sides and
    # the ratio said nothing about scaling.
    vec_big = "/tmp/scale_smoke/vecs2m"
    if not Path(vec_big).exists():
        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        n0 = emb.count()
        (emb.crossJoin(spark.range(1000).withColumnRenamed("id", "__rep"))
         .select((F.col("vec_id") + F.col("__rep") * n0).alias("vec_id"),
                 "embedding")
         .repartition(64).write.mode("overwrite").parquet(vec_big))
    vecs = spark.read.parquet(vec_big)
    n = vecs.count()
    print(f"vecs: {n} rows", flush=True)
    delta = vecs.filter(F.col("vec_id") < 10_000).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100_000_000))
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")

    scratch = tempfile.mkdtemp(prefix="smoke_r9_")
    try:
        idx = f"{scratch}/sq8"
        t0 = _t.time()
        similarity.save_sq8_index(vecs, idx)
        build_s = _t.time() - t0
        print(f"save_sq8_index_2m: {build_s:.2f}s", flush=True)
        t0 = _t.time()
        similarity.append_sq8_index(delta, idx)
        append_s = _t.time() - t0
        print(f"append_sq8_index_10k: {append_s:.2f}s "
              f"({append_s / build_s:.2f}x of build for 0.5% of rows)",
              flush=True)
        assert append_s < 0.3 * build_s, (append_s, build_s)

        got = sorted(tuple(r) for r in similarity.sq8_topk_prebuilt(
            spark, idx, queries, k=5, rerank=20).collect())
        want = sorted(tuple(r) for r in similarity.sq8_topk(
            vecs.unionByName(delta), queries, k=5, rerank=20).collect())
        assert got == want and len(got) == 25
        print("append parity at 2M: probe == direct on the union",
              flush=True)

        # streaming-dedup state compaction at scale: 8 committed batch
        # dirs of ~50k fps each -> one dir; accepted rows unchanged
        import hashlib

        from traildb_spark.streaming.ingest import (
            _committed_fps_dirs,
            compact_dedup_state,
        )

        state = f"{scratch}/ddstate"
        ckpt = f"{scratch}/ddckpt"
        token = hashlib.md5(ckpt.encode()).hexdigest()[:8]
        import os as _os

        _os.makedirs(state, exist_ok=True)
        for b in range(8):
            (spark.range(b * 50_000, (b + 1) * 50_000)
             .select(F.md5(F.col("id").cast("string")).alias("fp"))
             .write.parquet(f"{state}/fps_{token}_{b}"))
        from traildb_spark.fsutil import write_small
        write_small(spark, f"{state}/_latest_{token}", "7")
        n_before = spark.read.parquet(
            *_committed_fps_dirs(spark, state, token, 7)).distinct().count()
        t0 = _t.time()
        n_comp = compact_dedup_state(spark, state, ckpt)
        comp_s = _t.time() - t0
        dirs = _committed_fps_dirs(spark, state, token, 7)
        n_after = spark.read.parquet(*dirs).distinct().count()
        assert n_comp == 8 and len(dirs) == 1 and n_after == n_before
        print(f"compact_dedup_state: 8 dirs / {n_before} fps -> 1 dir "
              f"in {comp_s:.2f}s", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def r7b_family(spark):
    """Round-7 session batch at 100M events / 500k docs / 500k vectors:
    SQ8 ANN (the 4x-smaller-scan claim), KMV sketch (bounded partial
    state), Markov stationary (lexicon-bounded iteration on a 100M-event
    chain), lagged cross-correlation (grid-sized after one reduction),
    the structural dedup screens, n-gram novelty, readability and
    stopword discovery — each with an invariant check."""
    from traildb_spark.operators import analytics, curation, dedup, similarity
    from traildb_spark.operators import text as text_ops

    ev = _ensure_events100m(spark)
    print(f"events: {ev.count()} rows", flush=True)

    timed("kmv_100m", lambda: _force(
        analytics.kmv_distinct(ev, "uuid", keys=("event_type",), k=64)))
    km = {r["event_type"]: r for r in analytics.kmv_distinct(
        ev, "uuid", keys=("event_type",), k=64).collect()}
    for r in km.values():  # k=64 sigma ~ 12.5%: require within 4 sigma
        assert abs(r["kmv_estimate"] - r["exact_distinct"]) <= (
            r["exact_distinct"] // 2
        ), r

    timed("markov_stationary_100m", lambda: _force(
        analytics.markov_stationary(ev, "event_type", "uuid", "time",
                                    "event_id", iters=4)))
    st = analytics.markov_stationary(
        ev, "event_type", "uuid", "time", "event_id", iters=4).collect()
    total = sum(r["stationary_ppm"] for r in st)
    assert 900_000 <= total <= 1_000_000, total  # floor loss only

    timed("lagged_crosscorr_100m", lambda: _force(
        analytics.lagged_crosscorr(ev, "click", "purchase",
                                   max_lag_hours=6)))

    docs = _ensure_docs500k(spark)
    print(f"docs: {docs.count()} rows", flush=True)
    timed("readability_500k", lambda: _force(
        text_ops.readability_scores(docs)))
    timed("stopwords_500k", lambda: _force(
        text_ops.stopword_discovery(docs)))
    timed("prefix_dedup_500k", lambda: _force(
        dedup.prefix_dup_groups(docs, n_tokens=12)))
    timed("template_dedup_500k", lambda: _force(
        dedup.template_signature_groups(docs)))
    timed("ngram_novelty_500k", lambda: _force(
        curation.ngram_novelty(docs, n=13)))

    vecs = _ensure_vecs500k(spark)
    print(f"vecs: {vecs.count()} rows", flush=True)
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    timed("sq8_topk_500k", lambda: _force(
        similarity.sq8_topk(vecs, queries, k=5, rerank=20)))
    out = similarity.sq8_topk(vecs, queries, k=5, rerank=20).collect()
    assert len(out) == 25
    # each query finds itself (or an exact replica) at cos 1.0
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(max(x["cos"] for x in v) == 1.0 for v in by_q.values())

    timed("jl_topk_500k", lambda: _force(
        similarity.jl_topk(vecs, queries, k=5, rerank=20)))
    out = similarity.jl_topk(vecs, queries, k=5, rerank=20).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # identical projections rank replicas first: cos 1.0 must survive
    assert all(max(x["cos"] for x in v) == 1.0 for v in by_q.values())


def r8_family(spark):
    """SMOKE_R8=1 — round-8 additions at 500k vectors + a compressed
    tdb: the persisted SQ8 / stacked JL→SQ8 artifacts (build once,
    probe many — the probe must beat re-running the direct operator,
    which recalibrates + re-encodes the corpus per run, and must return
    the identical rows), and a Huffman-compressed .tdb import leg so
    the vectorized decoder's CODEBOOK lane gets a throughput number
    (the 1M-trail leg and q236 are literal-only)."""
    import shutil
    import tempfile

    from traildb_spark.operators import similarity
    from traildb_spark.sources.tdbfile import TdbMeta, read_tdb, write_tdb

    vecs = _ensure_vecs500k(spark)
    print(f"vecs: {vecs.count()} rows", flush=True)
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")

    scratch = tempfile.mkdtemp(prefix="smoke_r8_")
    try:
        idx = f"{scratch}/sq8"
        timed("save_sq8_index_500k", lambda: similarity.save_sq8_index(
            vecs, idx))
        timed("sq8_prebuilt_probe_500k", lambda: _force(
            similarity.sq8_topk_prebuilt(spark, idx, queries, k=5,
                                         rerank=20)))
        timed("sq8_direct_500k", lambda: _force(
            similarity.sq8_topk(vecs, queries, k=5, rerank=20)))
        got = sorted(tuple(r) for r in similarity.sq8_topk_prebuilt(
            spark, idx, queries, k=5, rerank=20).collect())
        want = sorted(tuple(r) for r in similarity.sq8_topk(
            vecs, queries, k=5, rerank=20).collect())
        assert got == want and len(got) == 25

        idx2 = f"{scratch}/jlsq8"
        timed("save_jl_sq8_index_500k", lambda: similarity.save_jl_sq8_index(
            vecs, idx2, out_dim=16))
        timed("jl_sq8_prebuilt_probe_500k", lambda: _force(
            similarity.jl_sq8_topk_prebuilt(spark, idx2, queries, k=5,
                                            rerank=20)))
        got2 = sorted(tuple(r) for r in similarity.jl_sq8_topk_prebuilt(
            spark, idx2, queries, k=5, rerank=20).collect())
        want2 = sorted(tuple(r) for r in similarity.jl_sq8_topk(
            vecs, queries, k=5, rerank=20, out_dim=16).collect())
        assert got2 == want2 and len(got2) == 25

        # compressed-tdb import: codebook-lane decode throughput
        docs = _ensure_docs500k(spark).limit(60000)
        rows = [
            (f"{r['doc_id'] % 4096:032x}", 1_600_000_000 + r["doc_id"],
             r["source"], str(r["doc_id"] % 977))
            for r in docs.select("doc_id", "source").collect()
        ]
        tdb = f"{scratch}/comp.tdb"
        write_tdb(rows, ["source", "bucket"], tdb, package=True,
                  compress=True)
        meta = TdbMeta(tdb)
        assert meta.cb_bits.max() > 0  # codebook grams present
        data_mb = meta._c.size("trails.data") / 1e6
        t0 = time.time()
        n = read_tdb(spark, tdb).count()
        print(f"compressed_tdb_import_60k: {n} events in "
              f"{time.time() - t0:.2f}s (trails.data {data_mb:.1f} MB)",
              flush=True)
        assert n == len(rows)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main():
    spark = get_spark("scale-smoke", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    import os

    if os.environ.get("SMOKE_R10"):
        r10_family(spark)
        return

    if os.environ.get("SMOKE_R9"):
        r9_family(spark)
        return

    if os.environ.get("SMOKE_R8"):
        r8_family(spark)
        return

    if os.environ.get("SMOKE_R7B"):
        r7b_family(spark)
        return

    if os.environ.get("SMOKE_R7"):
        r7_family(spark)
        return

    if os.environ.get("SMOKE_SKEW"):
        skew_family(spark)
        return

    if os.environ.get("SMOKE_R6D"):
        r6d_family(spark)
        return

    if os.environ.get("SMOKE_R6C"):
        r6c_family(spark)
        return

    if os.environ.get("SMOKE_R6B"):
        r6b_family(spark)
        return

    if os.environ.get("SMOKE_R6"):
        r6_family(spark)
        return

    if os.environ.get("SMOKE_WHALE_MEM"):
        whale_mem_asserted(spark)
        return

    if os.environ.get("SMOKE_WHALE100"):
        whale100m_chunked(spark)
        return

    if os.environ.get("SMOKE_WHALE"):
        whale10m(spark)
        return

    if os.environ.get("SMOKE_HEAVY"):
        heavy(spark)
        return

    n_reps = int(os.environ.get("SMOKE_REPS", "10"))
    big = f"/tmp/scale_smoke/events{n_reps}x"
    if not Path(big).exists():
        ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        reps = [ev.withColumn("user_id", F.col("user_id") + F.lit(i * 10000)) for i in range(n_reps)]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.repartition(32).write.mode("overwrite").parquet(big)

    raw_big = spark.read.parquet(big)
    ev = raw_big.select(
        F.col("user_id").cast("string").alias("uuid"),
        ts_seconds(raw_big).alias("time"),
        "event_id",
        F.coalesce("event_type", F.lit("")).alias("event_type"),
    )
    n = ev.count()
    print(f"{n_reps}x dataset: {n} rows, {ev.select('uuid').distinct().count()} trails")

    f = (
        EventFilter()
        .new_clause().add_term("event_type", "click").add_term("event_type", "view")
        .new_clause().add_time_range(1704500000, 1705500000)
    )
    timed("cnf_filter_10x", lambda: _force(f.apply(ev)))
    timed("sessions_10x", lambda: _force(trails.session_stats(ev.select("uuid", "time"), gap=1800)))
    timed("only_diff_10x", lambda: _force(trails.only_diff_items(ev, fields=["event_type"], tiebreak=["event_id"])))
    timed("trail_lengths_10x", lambda: _force(trails.trail_lengths(ev)))
    from traildb_spark.operators.analytics import heavy_hitters_exact  # noqa: E402
    mg_in = raw_big.select(F.coalesce("props", F.lit("")).alias("props"))
    timed("mg_heavy_hitters_10x", lambda: _force(
        heavy_hitters_exact(mg_in, "props", k=100)))
    orders = (
        spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
        .select(
            F.col("o_custkey").cast("string").alias("uuid"),
            F.unix_timestamp("o_orderdate").alias("otime"),
            "o_totalprice",
        )
        .groupBy("uuid", "otime")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    timed("asof_10x", lambda: _force(as_of_join(ev.select("uuid", "time", "event_id"), orders,
                                  on="uuid", left_time="time", right_time="otime")))

    from traildb_spark.operators import analytics  # noqa: E402

    timed("transitions_10x", lambda: _force(analytics.transition_counts(
        ev, "event_type", "uuid", "time", "event_id")))
    timed("funnel_10x", lambda: _force(analytics.funnel_times(
        ev,
        [F.col("event_type") == "signup", F.col("event_type") == "view",
         F.col("event_type") == "purchase"],
    )))
    timed("retention_10x", lambda: _force(analytics.retention(ev, period=86400)))

    # time-shard pruning at scale: finalize the replica with daily shards,
    # then a one-day CNF query must touch one shard, not the dataset
    sharded = f"/tmp/scale_smoke/sharded{n_reps}x"
    if not Path(sharded).exists():
        TrailDataset(
            ev.select("uuid", "time", F.col("event_id").cast("string").alias("eid"))
        ).finalize(sharded, time_shard="yyyy-MM-dd", mode="overwrite")
    db = TrailDataset.open(spark, sharded)
    day = (
        EventFilter()
        .new_clause()
        .add_time_range(1704844800, 1704931200)  # one day of the ~12-day span
    )
    timed("sharded_day_query", lambda: _force(db.with_filter(day).df))
    timed("unsharded_day_query", lambda: _force(day.apply(ev)))

    # whale skew: one uuid with ~1M events, 1500 normal trails
    whale = "/tmp/scale_smoke/whale"
    if not Path(whale).exists():
        raw_w = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        base = raw_w.select(
            F.col("user_id").cast("string").alias("uuid"),
            ts_seconds(raw_w).alias("time"),
            "event_id",
        )
        w = (
            spark.range(0, 1_000_000)
            .select(
                F.lit("WHALE").alias("uuid"),
                (F.lit(1704067200) + (F.col("id") % 2_000_000)).alias("time"),
                F.col("id").alias("event_id"),
            )
        )
        base.unionByName(w).write.mode("overwrite").parquet(whale)
    wev = spark.read.parquet(whale)
    print(f"whale dataset: {wev.count()} rows")
    timed("whale_sessions", lambda: _force(trails.session_stats(wev.select("uuid", "time"), gap=1800)))
    timed("whale_only_diff", lambda: _force(trails.only_diff_items(
        wev.select("uuid", "time", "event_id").withColumn("f", (F.col("event_id") % 5).cast("string")),
        fields=["f"], tiebreak=["event_id"])))
    timed("whale_finalize", lambda: (
        TrailDataset(wev.select("uuid", "time", F.col("event_id").cast("string").alias("eid"))).finalize(
            "/tmp/scale_smoke/whale_out", num_buckets=32, mode="overwrite"
        ),
        1,
    )[1])

    # 20x documents (~100k docs): even replicas are EXACT dups of the
    # original, odd replicas append a replica-unique word (near dups) —
    # dedup/curation plans must survive both volume and dup-group fan-out
    from traildb_spark.operators import curation, dedup, text  # noqa: E402

    docs20 = "/tmp/scale_smoke/docs20x"
    if not Path(docs20).exists():
        d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = [
            d.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                (
                    F.col("text")
                    if i % 2 == 0
                    else F.concat(F.col("text"), F.lit(f" replica{i}"))
                ).alias("text"),
                "lang",
                "source",
            )
            for i in range(20)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.repartition(32).write.mode("overwrite").parquet(docs20)
    docs = spark.read.parquet(docs20)
    print(f"20x documents: {docs.count()} docs")
    timed("dedup_exact_100k", lambda: dedup.exact_duplicates(docs).count())
    timed(
        "boilerplate_100k",
        lambda: text.remove_boilerplate(
            docs, text.word_chunks(F.col("text"), 10), min_df=2
        ).count(),
    )
    bench_set = docs.filter(F.col("doc_id") % 5000 == 0)
    timed(
        "decontaminate_100k",
        lambda: curation.decontaminate(docs, bench_set, n=13).count(),
    )
    timed(
        "hash_split_100k",
        lambda: curation.hash_split(
            docs.select("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}
        ).groupBy("split").count().count(),
    )
    # contrast: all-pairs LSH emits O(g^2) rows per dup group (~1M pairs,
    # ~300s measured) — dedup_fuzzy collapses exact dups FIRST and returns
    # one labeled row per doc (linear output)
    timed(
        "dedup_fuzzy_100k",
        lambda: dedup.dedup_fuzzy(docs).count(),
    )

    # Gopher rule gate: one scan, zero shuffles — throughput should track
    # the text volume, not the rule count
    timed("gopher_flags_100k", lambda: _force(text.gopher_quality_flags(docs)))

    # duplicated-span profile: the dup-heavy corpus is its stress case —
    # exact-dup groups make most windows duplicated, so the (doc, gram)
    # count table and the dup-gram set are at their fattest
    timed(
        "dup_spans_100k",
        lambda: _force(dedup.duplicated_span_stats(docs, window=15)),
    )

    # unigram surprisal: tf -> vocabulary-scale model broadcast back
    timed("surprisal_100k", lambda: _force(text.unigram_surprisal(docs)))

    # Bloom incremental dedup: filter build over ~50k distinct
    # fingerprints + broadcast probe + recheck join of the hits
    timed(
        "bloom_dedup_100k",
        lambda: dedup.bloom_dedup_against(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
        ).count(),
    )

    # FUZZY incremental dedup (round 6): 50k new docs near-dup-matched
    # against a 50k corpus — banded-signature equi-join candidates, exact
    # Jaccard verify on survivors only
    timed(
        "fuzzy_dedup_against_100k",
        lambda: dedup.fuzzy_dedup_against(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
        ).count(),
    )

    # SemDeDup at 25x vectors (50k): centroid count scales WITH the corpus
    # (cells stay ~constant) — the design contract that bounds the
    # within-cell quadratic
    emb25 = "/tmp/scale_smoke/emb25x"
    if not Path(emb25).exists():
        e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        reps = [
            e.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"), "embedding"
            )
            for i in range(25)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.repartition(32).write.mode("overwrite").parquet(emb25)
    emb = spark.read.parquet(emb25)
    print(f"25x embeddings: {emb.count()} vectors")
    timed(
        "semantic_dedup_50k_c400_gemm",
        lambda: _force(dedup.semantic_dedup(emb, num_centroids=400, threshold=0.4, assign="gemm")),
    )

    # multimodal decode throughput: ~50k real PNG + WAV payloads built on
    # the workers (mapInPandas keeps memory at one Arrow batch)
    from traildb_spark.operators import multimodal  # noqa: E402

    @F.pandas_udf("binary")
    def media_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 2 == 0:
                w, h = 16 + i % 17, 16 + i % 13
                yy, xx = np.mgrid[0:h, 0:w]
                out.append(
                    multimodal.make_png(((yy * 7 + xx * 11 + i) % 256).astype("uint8"))
                )
            else:
                nsamp = 1000 + i % 1000
                s = ((np.arange(nsamp) * 37 + i) % 4096 - 2048).astype("int16")
                out.append(multimodal.make_wav(s, 16000))
        return pd.Series(out)

    media = (
        spark.range(0, 50_000, 1, 32)
        .select(
            F.col("id").alias("media_id"),
            F.when(F.col("id") % 2 == 0, "image").otherwise("audio").alias("kind"),
            media_payload(F.col("id")).alias("content"),
            F.lit("x/x").alias("mime"),
            F.lit(None).cast("string").alias("meta"),
        )
        .persist()
    )
    media.count()
    timed("image_features_25k", lambda: _force(
        multimodal.extract_image_features(media).drop("features")))
    timed("image_resize_25k", lambda: multimodal.resize_images(media, 8, 8).count())
    timed("audio_features_25k", lambda: _force(multimodal.extract_audio_features(media)))
    media.unpersist()

    # round-3 late additions: attribution over the replicated trails,
    # span removal / PMI / postings / global top-k over the 100k-doc corpus
    ev_attr = raw_big.select(
        F.col("user_id").cast("string").alias("uuid"),
        ts_seconds(raw_big).alias("time"),
        "event_id",
        F.coalesce("event_type", F.lit("")).alias("event_type"),
        "value",
    )
    timed("attribution_10x", lambda: _force(analytics.attribution(
        ev_attr, "purchase", ["click", "view"], 86400, "last_touch",
        "event_type", "value", "uuid", "time", "event_id")))
    timed("activity_histogram_10x", lambda: _force(
        analytics.activity_histogram(ev_attr, "event_type", "time")))
    timed("remove_spans_100k", lambda: _force(
        dedup.remove_duplicated_spans(docs, window=15).drop("clean_text")))
    timed("cooccurrence_pmi_100k", lambda: _force(
        text.cooccurrence_pmi(docs, min_count=3)))
    timed("inverted_index_100k", lambda: text.inverted_index(docs).count())
    timed("quality_topk_100k", lambda: _force(curation.top_k_global(
        docs.select("doc_id", text.quality_score(F.col("text")).alias("q")),
        [F.desc("q"), F.asc("doc_id")], 1000, salt_col="doc_id")))

    # round-3 final additions over the replicated trails / docs
    timed("session_basket_10x", lambda: _force(analytics.session_cooccurrence(
        ev, "event_type", gap=1800, min_support=2)))
    timed("burst_windows_10x", lambda: _force(analytics.burst_windows(ev, window=3600)))
    timed("pattern_match_10x", lambda: _force(analytics.pattern_match(
        ev, "view", "purchase", "error", "event_type", "uuid", "time", "event_id")))
    timed("rolling_active_10x", lambda: _force(analytics.rolling_active(ev)))
    timed("gap_histogram_10x", lambda: _force(analytics.gap_histogram(
        ev, "event_type", "uuid", "time", "event_id")))
    ev_val = raw_big.select(
        F.col("user_id").cast("string").alias("uuid"),
        ts_seconds(raw_big).alias("time"), "event_id",
        F.coalesce("event_type", F.lit("")).alias("event_type"), "value",
    )
    timed("attribution_linear_10x", lambda: _force(analytics.attribution_linear(
        ev_val, "purchase", ["click", "view"], 86400)))
    timed("countmin_10x", lambda: _force(analytics.countmin_probe(
        analytics.countmin_build(ev, "event_type", width=256, depth=4),
        ev.select("event_type").distinct(), "event_type", width=256, depth=4)))
    timed("remove_spans_rebuild_100k", lambda: dedup.remove_duplicated_spans(
        docs, window=15).count())
    timed("rank_buckets_100k", lambda: _force(curation.rank_buckets(
        docs.select("doc_id", F.length("text").alias("len")), "len", 10)))
    timed("sample_exact_100k", lambda: _force(curation.uniform_sample_exact(
        docs.select("doc_id"), 5000)))


if __name__ == "__main__":
    main()
