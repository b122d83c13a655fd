"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 that is implemented appears here as a
``queries()`` entry with (where SQL-expressible) a matching ``oracle_sql()``
DuckDB query. Column names are aliased identically on both sides; float
results are rounded identically; event timestamps are compared as Unix
SECONDS (the parquet carries TIMESTAMP(NANOS): Spark reads it as LONG nanos
under ``spark.sql.legacy.parquet.nanosAsLong``, DuckDB as TIMESTAMP_NS —
``ts div 1e9`` vs ``epoch_ns(ts)//1e9``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from traildb_spark import EventFilter, TrailDataset
from traildb_spark.functions import core, vectorized
from traildb_spark.operators import (
    analytics, curation, dedup, joins, similarity, text, trails,
)
from traildb_spark.operators.filters import trail_filter_overrides
from traildb_spark.streaming.sessions import streaming_session_counts

# --------------------------------------------------------------------------
# loaders
# --------------------------------------------------------------------------

def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → canonical trail schema: uuid STRING, time LONG
    (Unix seconds), event_id LONG, event_type STRING, value DOUBLE,
    props STRING."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = _load(spark, sf_dir, "events")
    return df.select(
        F.col("user_id").cast("string").alias("uuid"),
        core.ts_seconds(df).alias("time"),
        F.col("event_id"),
        F.coalesce(F.col("event_type"), F.lit("")).alias("event_type"),
        F.col("value"),
        F.coalesce(F.col("props"), F.lit("")).alias("props"),
    )


# DuckDB-side canonical events CTE (matches _events exactly)
_E = (
    "SELECT CAST(user_id AS VARCHAR) AS uuid, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS \"time\", "
    "event_id, COALESCE(event_type, '') AS event_type, "
    "value, COALESCE(props, '') AS props FROM events"
)

# sequential-fold cosine in DuckDB mirroring Spark's zip_with+aggregate
# (both cast float→double first, then left-to-right summation → identical
# IEEE doubles, so round() agrees bit-for-bit)
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, [CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))]), (x, y) -> x + y)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, [CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))]), (x, y) -> x + y))"
    )


_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS = f"list_filter(string_split({_NORM_TEXT}, ' '), t -> t <> '')"
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

TIME_LO, TIME_HI = 1704500000, 1705500000  # mid-January 2024 window


# --------------------------------------------------------------------------
# reference-parity queries (SURVEY §2) on the events trail table
# --------------------------------------------------------------------------

def q01_cnf_filter_dump(spark, sf_dir):
    """P2-P8+P1: CNF filter (clause OR, clause AND, time-range term)
    compiled to one Column, then projection (tdb dump --filter)."""
    ev = _events(spark, sf_dir)
    f = (
        EventFilter()
        .new_clause()
        .add_term("event_type", "click")
        .add_term("event_type", "view")
        .new_clause()
        .add_time_range(TIME_LO, TIME_HI)
    )
    ds = TrailDataset(ev.select("uuid", "time", "event_type", "props"), db_filter=f)
    return ds.df.select("uuid", "time", "event_type")


def q02_negation_empty(spark, sf_dir):
    """P4+P6: negated term and empty-value semantics ('' ≡ NULL)."""
    ev = _events(spark, sf_dir)
    f = (
        EventFilter()
        .new_clause().add_term("event_type", "purchase", negative=True)
        .new_clause().add_term("props", "", negative=True)
    )
    return f.apply(ev).select("uuid", "time", "event_id", "event_type")


def q03_trail_lengths(spark, sf_dir):
    """C4/A3: per-trail event counts + time bounds."""
    ev = _events(spark, sf_dir)
    return (
        trails.trail_lengths(ev)
        .join(
            ev.groupBy("uuid").agg(
                F.min("time").alias("first_time"), F.max("time").alias("last_time")
            ),
            "uuid",
        )
        .select("uuid", "trail_length", "first_time", "last_time")
    )


def q04_info(spark, sf_dir):
    """A1: dataset-level info aggregates (tdb_num_trails etc.)."""
    ev = _events(spark, sf_dir)
    return ev.agg(
        F.countDistinct("uuid").alias("num_trails"),
        F.count(F.lit(1)).alias("num_events"),
        F.min("time").alias("min_timestamp"),
        F.max("time").alias("max_timestamp"),
    )


def q05_lexicon_sizes(spark, sf_dir):
    """A2: per-field distinct-value counts (+1 implicit NULL)."""
    ev = _events(spark, sf_dir)
    return ev.agg(
        (F.countDistinct(F.nullif(F.col("event_type"), F.lit(""))) + 1).alias("lex_event_type"),
        (F.countDistinct(F.nullif(F.col("props"), F.lit(""))) + 1).alias("lex_props"),
    )


def q06_sessions(spark, sf_dir):
    """A4: sessionization (30-min gap rule) per trail."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    return trails.session_stats(ev, gap=1800)


def q07_only_diff(spark, sf_dir):
    """C7: only-diff (edge) decode of event_type with event_id tiebreak."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    return trails.only_diff_items(
        ev, fields=["event_type"], tiebreak=["event_id"]
    )


def q08_merge_schema_union(spark, sf_dir):
    """J5/J6: merge datasets with mismatched schemas → union of fields,
    missing values empty."""
    ev = _events(spark, sf_dir)
    a = TrailDataset(ev.filter(F.col("event_id") % 2 == 0).select("uuid", "time", "event_type"))
    b = TrailDataset(ev.filter(F.col("event_id") % 2 == 1).select("uuid", "time", "props"))
    return TrailDataset.merge([a, b]).df


def q09_uuid_whitelist(spark, sf_dir):
    """P12: --uuids trail whitelist (a short list is a pushed In filter)."""
    ev = _events(spark, sf_dir)
    ds = TrailDataset(ev.select("uuid", "time", "event_id", "event_type"))
    return ds.select_uuids(["1", "3", "5", "7"]).df


def q10_multi_cursor(spark, sf_dir):
    """J1/J7: k-way timestamp-ordered merge of time-sharded datasets with
    per-trail positions."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    mid = (TIME_LO + TIME_HI) // 2
    shard1 = ev.filter(F.col("time") < mid)
    shard2 = ev.filter(F.col("time") >= mid)
    return trails.merged_trail_stream([shard1, shard2])


def q11_trail_ids(spark, sf_dir):
    """C5/C6: uuid → dense trail_id in uuid sort order."""
    ev = _events(spark, sf_dir)
    return trails.trail_ids(ev)


def q12_edge_semantics(spark, sf_dir):
    """P5: unknown-field item-0 semantics — positive matches nothing,
    negated matches everything; empty-value match on a never-empty field."""
    ev = _events(spark, sf_dir)
    fields = ev.columns
    pos = EventFilter().add_term("no_such_field", "x").compile(fields)
    neg = EventFilter().add_term("no_such_field", "x", negative=True).compile(fields)
    empty = EventFilter().add_term("event_type", "").compile(fields)
    return ev.agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_unknown_pos"),
        F.sum(F.when(neg, 1).otherwise(0)).cast("long").alias("n_unknown_neg"),
        F.sum(F.when(empty, 1).otherwise(0)).cast("long").alias("n_empty_match"),
    )


def q13_session_windows(spark, sf_dir):
    """Streaming-analog session windows (F.session_window) evaluated in
    batch — stream/batch parity for the A4 idiom."""
    ev = _events(spark, sf_dir).select(
        "uuid", F.timestamp_seconds(F.col("time")).alias("event_time")
    )
    out = streaming_session_counts(ev, gap_seconds=1800, watermark="0 seconds")
    return out.select(
        "uuid",
        F.unix_timestamp("window_start").alias("session_start"),
        F.unix_timestamp("window_end").alias("session_end"),
        "num_events",
    )


def q14_trail_boundaries(spark, sf_dir):
    """C3: trail assembly — per-trail time-ordered event array
    (sort_array∘collect_list), surfaced as first/last event per trail."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    arr = F.sort_array(
        F.collect_list(F.struct("time", "event_id", "event_type"))
    )
    g = ev.groupBy("uuid").agg(arr.alias("trail"))
    return g.select(
        "uuid",
        F.size("trail").alias("n_events"),
        F.element_at("trail", 1)["event_type"].alias("first_type"),
        F.element_at("trail", -1)["event_type"].alias("last_type"),
    )


def q15_trail_overrides(spark, sf_dir):
    """P10: per-trail filter overrides (tdb_set_trail_opt) — listed trails
    use their own filter, the rest fall back to the db-level filter."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    db = EventFilter().add_time_range(TIME_LO, TIME_HI)
    clicky = EventFilter().add_term("event_type", "click")
    out = trail_filter_overrides(
        ev, db, {"1": clicky, "3": clicky, "5": EventFilter.none()}
    )
    return out.select("uuid", "time", "event_id", "event_type")


# --------------------------------------------------------------------------
# relational surface (Spark-native beyond reference: joins/aggs/windows)
# --------------------------------------------------------------------------

def q20_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped scan+agg on lineitem (grouped agg engine the
    reference lacks, SURVEY §2.5 '—' row)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q21_revenue_by_nation(spark, sf_dir):
    """Star-schema join: lineitem⋈orders⋈customer⋈nation⋈region with
    broadcast dims, revenue per nation."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q22_top_customers(spark, sf_dir):
    """Window ranking + LIMIT (reference lacks both, SURVEY §2.6)."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    totals = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return (
        totals.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"), "c_name", "total_spend", "n_orders", "rnk"
        )
    )


def q23_props_extract(spark, sf_dir):
    """Scalar-function surface: regexp extraction from the JSON-ish props
    column, aggregated per event_type."""
    ev = _events(spark, sf_dir)
    k = F.regexp_extract(F.col("props"), "[0-9]+", 0).cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("value")), 4).alias("avg_value"),
    )


def q24_asof_join(spark, sf_dir):
    """As-of join (operator Spark lacks natively): each event picks up the
    user's most recent order at-or-before the event time. Right side is
    pre-aggregated per (uuid, order time) for determinism; differential
    oracle is DuckDB's native ASOF JOIN."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id")
    orders = _load(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("uuid"),
        F.unix_timestamp("o_orderdate").alias("otime"),
        "o_totalprice",
    )
    agg = orders.groupBy("uuid", "otime").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("order_total"),
    )
    return joins.as_of_join(
        ev, agg, on="uuid", left_time="time", right_time="otime"
    ).select("uuid", "time", "event_id", "otime", "n_orders", "order_total")


def q26_range_join(spark, sf_dir):
    """Interval (range) join via time binning — no nested-loop join: count
    events per overlapping campaign window. Windows overlap so each event
    can land in two; oracle is a plain SQL BETWEEN join."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    spark_windows = spark.range(0, 50).select(
        F.col("id").alias("window_id"),
        (F.lit(TIME_LO) + F.col("id") * 20000).alias("w_start"),
        (F.lit(TIME_LO) + F.col("id") * 20000 + 40000).alias("w_end"),
    )
    joined = joins.range_join(
        ev, spark_windows, left_time="time", start_col="w_start", end_col="w_end",
        bin_size=20000,
    )
    return joined.groupBy("window_id", "w_start", "w_end").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("uuid").alias("n_trails"),
    )


def q25_rollup(spark, sf_dir):
    """Hierarchical rollup aggregation (SURVEY §2.6 '—' row: grouping sets
    free in Spark, absent in the reference)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# north-star: dedup / text / similarity on documents + embeddings
# --------------------------------------------------------------------------

def q64_cube(spark, sf_dir):
    """Full cube over (returnflag, linestatus, ship-year): all 2^3
    grouping sets in one pass (SURVEY §2.6 '—' row; partial aggregation
    means the cube costs one shuffle regardless of set count)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.withColumn("ship_year", F.year("l_shipdate").cast("long"))
        .cube("l_returnflag", "l_linestatus", "ship_year")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q67_mix_corpus(spark, sf_dir):
    """Token-budget corpus mixing: apply a target mixture (40/40/20 over
    three sources, 20k-token budget) as md5-threshold downsampling with
    rates derived from per-source token totals — the static data-mixture
    recipe as one deterministic pushed-down filter."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents").withColumn(
        "n_tokens", text.token_count(F.col("text")).cast("long")
    )
    return curation.mix_corpus(
        docs,
        target_fractions={"src0": 0.4, "src1": 0.4, "src2": 0.2},
        budget_tokens=20000,
    ).select("doc_id", "source")


def q66_set_ops(spark, sf_dir):
    """Distinct set operations over trail-id sets (SURVEY §2.6 '—' row:
    the reference's merge is UNION ALL only; INTERSECT/EXCEPT come free in
    Spark): trails that both purchased and errored, and trails that
    purchased but never errored."""
    ev = _events(spark, sf_dir)
    # one pass instead of four: INTERSECT/EXCEPT each rescanned both
    # filtered streams (plan audit: 4 scans); per-uuid boolean flags
    # from a single type-filtered aggregate compute the same two
    # distinct sets (intersect = has both flags, subtract = purchase
    # flag only), map-side combined, one shuffle
    flags = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("uuid")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("__p"),
            F.max((F.col("event_type") == "error").cast("int")).alias("__e"),
        )
    )
    both = (
        flags.filter((F.col("__p") == 1) & (F.col("__e") == 1))
        .select("uuid").withColumn("op", F.lit("both"))
    )
    only_purchase = (
        flags.filter((F.col("__p") == 1) & (F.col("__e") == 0))
        .select("uuid").withColumn("op", F.lit("purchase_only"))
    )
    return both.unionByName(only_purchase)


def q65_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: 'new' docs (doc_id % 5 != 0) kept only if
    their content fingerprint is absent from the 'existing' corpus
    (doc_id % 5 == 0) — today's crawl vs the ingested corpus, via a
    distinct-fingerprint left-anti join."""
    docs = _load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 != 0)
    existing = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.dedup_against(new, existing).select("doc_id", "source")


def q30_fingerprints(spark, sf_dir):
    """Document fingerprinting + token counting (exact md5 parity with the
    SQL oracle)."""
    docs = _load(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        text.fingerprint(c).alias("fingerprint"),
        text.token_count(c).cast("long").alias("n_tokens"),
        text.bpe_token_count(c).cast("long").alias("n_bpe_tokens"),
    )


def q31_quality(spark, sf_dir):
    """Quality scoring (length/punct/alpha heuristics)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


def q32_langid(spark, sf_dir):
    """Language-ID (stopword-overlap heuristic), counted per language.
    Uses the Arrow-batched kernel; the Catalyst formulation
    (text.detect_language) computes the identical result."""
    docs = _load(spark, sf_dir, "documents")
    out = docs.select(text.detect_language_vec(F.col("text")).alias("lang_detected"))
    return out.groupBy("lang_detected").agg(F.count(F.lit(1)).alias("n_docs"))


def q33_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: per-doc group size (group_size>1 ⇒
    duplicate)."""
    docs = _load(spark, sf_dir, "documents")
    h = dedup.normalize_text(F.col("text"))
    w = Window.partitionBy(F.md5(h))
    return docs.select(
        "doc_id",
        F.md5(h).alias("content_hash"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def q34_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (threshold 0.8) via prefix
    filtering — no O(n²) cross join."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)


def q35_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs at 7-char shingles, Jaccard ≥0.5 —
    portable math (md5 shingles, rotate-XOR perms) so candidates AND
    verify reproduce in the DuckDB oracle. The same function, at 64
    hashes / 16 bands, is dedup.dedup_fuzzy's default pair finder, and
    is also checked against exact Jaccard in tests/test_dedup_text.py
    (reference ethos: differential everywhere,
    tests/c-tests/multi_cursor.c:129-146)."""
    docs = _load(spark, sf_dir, "documents")
    # sig_prune pinned True: this query's oracle mirrors the prune stage
    # (the production default is False — pure candidates→verify).
    # max_bucket=256 is the hot-bucket skew guard, also mirrored in SQL.
    return dedup.minhash_lsh_pairs_portable(
        docs, shingle_k=7, num_hashes=16, bands=4, threshold=0.5,
        sig_prune=True, max_bucket=256,
    )


def q43_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation in ONE lazy plan: quality gate → langid →
    exact dedup (keep min doc_id per content hash) → per-language stats.
    The composite the pipeline operators exist for; everything stays in a
    single Catalyst plan (one scan, two shuffles)."""
    docs = _load(spark, sf_dir, "documents")
    h = F.md5(dedup.normalize_text(F.col("text")))
    w = Window.partitionBy(h).orderBy("doc_id")
    kept = (
        docs.withColumn("quality", text.quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.5)
        .withColumn("lang_detected", text.detect_language_vec(F.col("text")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return kept.groupBy("lang_detected").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def q42_dedup_clusters(spark, sf_dir):
    """Duplicate clustering: connected components (hybrid union-find /
    min-label propagation) over SimHash near-dup pairs; every doc labeled
    with its cluster's canonical (min) id. Oracle: DuckDB recursive CTE
    over the same md5-60 simhash pair set."""
    docs = _load(spark, sf_dir, "documents")
    from traildb_spark.functions.core import md5_60
    pairs = dedup.simhash_pairs(docs, max_hamming=3, token_hasher=md5_60)
    return dedup.dedup_clusters(docs, pairs)


def q44_minhash_portable(spark, sf_dir):
    """MinHash+LSH with portable math (md5 shingles, rotate-XOR perms, md5
    band keys), at the function's defaults: candidates AND verify
    reproduced in DuckDB. q35 checks the same pipeline at 7-char
    shingles."""
    docs = _load(spark, sf_dir, "documents")
    # sig_prune pinned True to keep oracle parity (default is now False);
    # max_bucket=256 skew guard mirrored in the oracle's QUALIFY stage
    return dedup.minhash_lsh_pairs_portable(
        docs, sig_prune=True, max_bucket=256
    )


def q45_boilerplate_removal(spark, sf_dir):
    """Paragraph-level dedup across documents (C4/RefinedWeb boilerplate
    removal): drop every 10-word chunk appearing in >= 2 docs, reassemble
    the survivors in order. Frequent-chunk set is broadcast back as an
    anti-join — the corpus never shuffles to be cleaned."""
    docs = _load(spark, sf_dir, "documents")
    return text.remove_boilerplate(
        docs, text.word_chunks(F.col("text"), 10), min_df=2
    )


def q46_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by hashed-id bucket: a pure
    projection (no shuffle, no seed) whose membership is reproducible in
    any engine — the only split discipline that survives reruns and
    late-arriving data."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.hash_split(
        docs.select("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


def q47_decontaminate(spark, sf_dir):
    """Benchmark decontamination: drop every doc sharing a 13-word-gram
    with the eval set (docs with doc_id % 50 == 0 stand in for the
    benchmark). Bench grams broadcast; corpus grams probe map-side."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return curation.decontaminate(docs, bench, n=13).select("doc_id")


def q48_source_quota(spark, sf_dir):
    """Per-source quota: keep the 2 largest docs per source (cap any one
    domain's corpus share); ties break on doc_id for determinism."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.per_source_quota(
        docs, "source", 2, order_by=[F.col("n_chars").desc()]
    ).select("doc_id", "source", "n_chars")


def _png_fixture_payload():
    """PNG payload UDF shared by q49/q70: image pixel (y, x) =
    (y*17 + x*31 + doc_id) % 256 on an (8 + id%7, 8 + id%9) canvas,
    stored-block encode → byte size has the closed form h*(w+1)+68."""
    from traildb_spark.operators import multimodal

    @F.pandas_udf("binary")
    def png_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            w, h = 8 + int(i) % 9, 8 + int(i) % 7
            yy, xx = np.mgrid[0:h, 0:w]
            out.append(
                multimodal.make_png(((yy * 17 + xx * 31 + int(i)) % 256).astype("uint8"))
            )
        return pd.Series(out)

    return png_payload


# bump when any payload closed-form changes, or stale caches serve old bytes
# v2: VP8L sub-images now carry the spec's per-image color-cache-info bit
# (RFC 9649 §5) and RIFF chunk sizes exclude the pad byte — WebP payloads
# encoded by v1 are one flag bit short per transform sub-image.
_MEDIA_CACHE_VERSION = "3"


def _media_table(spark, sf_dir, target_kind, payload_udf, cache_name=None):
    """The ONE MEDIA_SCHEMA fixture over documents (q49/q69/q70 and their
    oracles depend on this staying in lock-step): kind cycles
    image/audio/video on doc_id % 3; rows of ``target_kind`` carry
    ``payload_udf(doc_id)`` binaries, every other row utf-8 text. The
    selector is pushed INTO the UDF argument (F.when does NOT
    short-circuit Python UDFs — the Arrow eval node runs on every row, so
    non-target rows must see NULL to skip the encode).

    ``cache_name``: fixture queries whose payload ENCODE is expensive
    (jpeg/gif/y4m/wav/png) pass a name so the generated table lands in a
    /tmp parquet cache keyed by (sf_dir, name, version) and later runs —
    bench's min-of-2, repeated oracle checks — read bytes instead of
    re-encoding. Payloads are pure functions of doc_id, so the cache is
    deterministic; this keeps the BENCH numbers measuring the decode
    operator, not the fixture generator (the only r4→r5 bench regression
    was q104 re-encoding payloads every run)."""
    docs = _load(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    table = docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.coalesce(
            payload_udf(F.when(kind == target_kind, F.col("doc_id"))),
            F.encode(F.col("text"), "UTF-8"),
        ).alias("content"),
        F.concat(F.lit("x/"), kind).alias("mime"),
        F.to_json(F.struct(F.col("source"))).alias("meta"),
    )
    if cache_name is None:
        return table
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|{cache_name}|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    cache = f"/tmp/traildb_spark_media_cache/{cache_name}-{key}"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        table.write.mode("overwrite").parquet(cache)
    return spark.read.parquet(cache)


def q49_media_metadata(spark, sf_dir):
    """Multimodal metadata pass over a binary media column (documents
    re-cast as a MEDIA_SCHEMA table, kind cycling image/audio/video).
    Image-kind rows carry REAL PNG payloads (multimodal.make_png: valid
    sig/IHDR/IDAT/IEND, stored-block zlib) whose byte size has the closed
    form h*(w+1)+68, so the SQL oracle predicts n_bytes of genuine image
    binaries; audio/video rows carry utf-8 text payloads. media_metadata
    touches only byte LENGTH and the JSON sidecar, so column pruning
    keeps payload bytes out of the scan."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "image", _png_fixture_payload(), cache_name="png")
    return multimodal.media_metadata(media)


def q50_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-and-chunk at a 512-token budget): global
    token offsets WITHOUT a global-order window — two-phase prefix sum
    (per-shard windows + driver prefix over shard totals, metadata-scale).
    Oracle is the naive global cumsum, proving the scalable plan computes
    the identical layout."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.pack_sequences(
        docs.withColumn("n_tokens", text.token_count(F.col("text")).cast("long")),
        budget=512,
        shard_size=100,
    )


def q51_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (top-word fraction,
    repeated-word fraction, repeated-2-gram fraction) — the degenerate-text
    filters length/stopword ratios miss."""
    docs = _load(spark, sf_dir, "documents")
    return text.repetition_stats(docs)


def q55_stratified_sample(spark, sf_dir):
    """Deterministic per-source downsampling (seedless md5-bucket
    thresholds — the rebalancing step of corpus mixing). Pure pushed-down
    filter, no shuffle."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.stratified_sample(
        docs,
        rates={"src0": 0.5, "src1": 0.25, "src3": 1.0},
        default_rate=0.1,
    ).select("doc_id", "source")


def q56_top_terms(spark, sf_dir):
    """Per-doc top-3 distinctive terms by tf/df — TF-IDF with the idf log
    dropped so every score is one exact integer division (portable
    bit-for-bit; log ranks identically but libm ulps don't travel)."""
    docs = _load(spark, sf_dir, "documents")
    return text.top_terms(docs, k=3)


def q57_pii_scrub(spark, sf_dir):
    """PII-shaped span counting + redaction (emails, IPv4s, digit runs)
    over the events props payload — pure regexp codegen, no UDF."""
    ev = _events(spark, sf_dir)
    return text.scrub_pii(ev, text_col="props").select(
        "event_id", "n_email", "n_ipv4", "n_number", "scrubbed"
    )


def q58_value_freqs(spark, sf_dir):
    """Top-k value frequency table for one field — the reference's
    compression-model unigram counting (tdb_encode_model.c:444-486) as a
    product operator."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.value_frequencies(ev, "event_type", top_k=3)


def q59_transitions(spark, sf_dir):
    """Per-trail adjacent-event transition matrix (Markov counts) — the
    bigram model (tdb_encode_model.c:344-381) over the time axis."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.transition_counts(ev, "event_type", "uuid", "time", "event_id")


def q60_funnel(spark, sf_dir):
    """Ordered funnel signup → view → purchase: per-trail step timestamps
    latched in ONE fold over the sorted trail (single uuid shuffle). The
    oracle is the independent min-time-chain formulation — k sequential
    re-aggregations — proving the one-pass fold computes the same chain."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.funnel_times(
        ev,
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "view",
            F.col("event_type") == "purchase",
        ],
    )


def q61_retention(spark, sf_dir):
    """Daily cohort retention triangle: trails active at each (first-seen
    day, day offset). Distinct-first plan: every exchange after the uuid
    shuffle is bounded by trails x active-days, not events."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.retention(ev, period=86400)


def q63_funnel_within(spark, sf_dir):
    """Conversion-window funnel (view then purchase within 1 day of
    signup per hop) — q60's fold with the ``within`` constraint, against
    the independent windowed min-time-chain oracle."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.funnel_times(
        ev,
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "view",
            F.col("event_type") == "purchase",
        ],
        within=86400,
    )


def q62_percentiles(spark, sf_dir):
    """Exact per-type value percentiles (Spark percentile interpolation is
    bit-identical to DuckDB quantile_cont). The operator's approx=True mode
    is the 100 TB path (mergeable t-digest-style sketch, no per-group
    buffering)."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.percentiles(
        ev, value_col="value", keys=("event_type",), probs=(0.5, 0.95, 0.99)
    )


def q52_emb_neardup_portable(spark, sf_dir):
    """SRP-LSH embedding near-dup with portable math: vectors quantized to
    integers (floor(v*2^20)), ±1 literal hyperplanes — sign bits become
    exact integer comparisons, so candidates AND verify reproduce in
    DuckDB. q38 checks the same pipeline at 24 planes."""
    emb = _load(spark, sf_dir, "embeddings")
    # max_bucket=256 skew guard mirrored in the oracle's QUALIFY stage
    return dedup.embedding_neardup_pairs_portable(
        emb, threshold=0.4, max_bucket=256
    )


def q53_sim_topk_portable(spark, sf_dir):
    """ANN top-k via portable sign-LSH (integer-quantized SRP codes,
    hamming-ball probe, quantized-integer cosine rank) — the approximate
    similarity-search pipeline itself oracle-checked end-to-end. q40
    checks the same pipeline at 12 planes / hamming ≤3."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk_portable(
        emb, queries, k=5, num_planes=8, max_hamming=4
    )


def q36_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3), full oracle parity: token
    hashes are the first 60 bits of md5 so DuckDB reproduces the exact
    simhash codes (block-permutation candidates + exact Hamming verify)."""
    docs = _load(spark, sf_dir, "documents")
    from traildb_spark.functions.core import md5_60
    return dedup.simhash_pairs(docs, max_hamming=3, token_hasher=md5_60)


def q37_emb_neardup(spark, sf_dir):
    """Embedding near-dup pairs cos ≥ 0.4, exact (brute-force oracle
    parity; the LSH variant is q38)."""
    emb = _load(spark, sf_dir, "embeddings")
    return vectorized.pairwise_cosine_pairs(emb, threshold=0.4)


def q38_emb_neardup_lsh(spark, sf_dir):
    """Sign-LSH-bucketed embedding near-dup at a WIDER code and LONGER
    bands (24 planes / 4 bands = 6-bit band keys) than q52 (16/4) —
    portable integer math end-to-end, so the full candidate+verify
    pipeline is oracle-checked. 6-bit bands give 64 buckets per band:
    candidate pairs shrink ~6x vs 4-bit banding, which matters because
    every candidate ships two 64-int vectors into the verify kernel. The
    same function is also checked against brute-force quantized-cosine
    pairs in tests/test_dedup_text.py."""
    emb = _load(spark, sf_dir, "embeddings")
    # max_bucket=256 skew guard mirrored in the oracle's QUALIFY stage
    return dedup.embedding_neardup_pairs_portable(
        emb, threshold=0.4, num_planes=24, bands=4, max_bucket=256
    )


def q39_sim_topk(spark, sf_dir):
    """Brute-force cosine top-k (k=5) for 5 query vectors."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, queries, k=5)


def q40_sim_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN top-k with a LONGER code / TIGHTER ball (12
    planes, hamming ≤3) than q53 — portable integer SRP math, so the
    approximate pipeline is oracle-checked end-to-end. The same function
    is also recall-tested against brute force in
    tests/test_dedup_text.py."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk_portable(
        emb, queries, k=5, num_planes=12, max_hamming=3
    )


def q41_sim_topk_ivf(spark, sf_dir):
    """IVF ANN top-k over MORE cells / WIDER probe (16 centroids, nprobe
    4) than q54 — portable deterministic centroid choice + integer cosine,
    oracle-checked end-to-end. The k-means/GEMM fast path
    (similarity.ivf_topk) stays exported and is recall-tested against
    brute force in tests/test_dedup_text.py."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk_portable(
        emb, queries, k=5, num_centroids=16, nprobe=4
    )


def q54_sim_topk_ivf_portable(spark, sf_dir):
    """ANN top-k via portable IVF: deterministic md5-keyed centroid choice,
    quantized-integer-cosine cell assignment and probing — the whole IVF
    pipeline oracle-checked end-to-end. q41 remains the k-means/GEMM fast
    path (rows-only)."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk_portable(
        emb, queries, k=5, num_centroids=8, nprobe=2
    )


def q68_make_dump_roundtrip(spark, sf_dir):
    """What-you-write-you-get-back, driver-checked (reference
    tests/c-tests/what_you_write_you_get_back.c and
    tests/tdbcli/test_tdbcli.py:80-90): events → headerless CSV with a
    SCRAMBLED column order → ``tdb make`` with a 1-based positional field
    spec (S5/S7) → constructor+finalize (S10/S11) → open (S3) → canonical
    dump projection (S8/P1). The oracle is DuckDB reading the ORIGINAL
    events directly — the roundtrip must be the identity."""
    import glob
    import os
    import shutil
    import tempfile

    from traildb_spark.sources import make

    # cap /tmp accumulation: each invocation writes a CSV + parquet copy
    # of events; clear THIS PROCESS's prior runs only — the glob is
    # pid-scoped so a concurrently-running bench/correctness process (or
    # its still-lazy DataFrames) never loses files under it. Note the
    # lazy-read caveat applies within one process too: build-two-then-
    # collect would lose the first run's files, so callers evaluate each
    # q68 DataFrame before requesting another (the driver does).
    pid_prefix = f"tdb_roundtrip_p{os.getpid()}_"
    for old_dir in glob.glob(os.path.join(tempfile.gettempdir(), pid_prefix + "*")):
        shutil.rmtree(old_dir, ignore_errors=True)
    ev = _events(spark, sf_dir).select("uuid", "time", "event_type", "props")
    tmp = tempfile.mkdtemp(prefix=pid_prefix)
    csv_path = os.path.join(tmp, "in_csv")
    tdb_path = os.path.join(tmp, "tdb")
    # scrambled column order on disk; the field spec re-maps by index.
    # The writer must not trim whitespace (its default WOULD — silently
    # breaking the identity for values with leading/trailing spaces);
    # embedded newlines are out of dialect (the reference's CSV is
    # line-based) and would surface as an oracle count mismatch.
    (
        ev.select("event_type", "uuid", "props", "time")
        .write.option("emptyValue", "")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(csv_path)
    )
    ds = make.make_from_csv(
        spark, csv_path, fields=["2:uuid", "4:time", "1:event_type", "3:props"]
    )
    ds.finalize(tdb_path, num_buckets=4)
    out = TrailDataset.open(spark, tdb_path).df
    return out.select("uuid", "time", "event_type", "props")


def q69_audio_features(spark, sf_dir):
    """Audio decode + signal stats over a binary media column. Audio-kind
    rows (doc_id % 3 == 1, matching q49's kind cycle) carry REAL RIFF/WAVE
    16-bit PCM payloads (multimodal.make_wav) whose samples are the
    deterministic sequence s[i] = (i*37 + doc_id*11) % 2048 - 1024, so the
    SQL oracle recomputes the decoded rate/duration/RMS/zero-crossings/
    peak from first principles — proving the WAV encoder, the chunk-walk
    decoder, and the numpy feature kernel agree end-to-end. rms is
    bit-stable across both engines: the squared sum is exact in int64 and
    /n + sqrt are single IEEE-double ops."""
    from traildb_spark.operators import multimodal

    @F.pandas_udf("binary")
    def wav_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n = 64 + i % 64
            rate = 8000 + 4000 * (i % 5)
            s = ((np.arange(n, dtype=np.int64) * 37 + i * 11) % 2048 - 1024).astype(
                "int16"
            )
            out.append(multimodal.make_wav(s, rate))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "audio", wav_payload, cache_name="wav")
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_samples",
        "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"),
        "zcr",
        "peak",
    )


def q70_image_resize(spark, sf_dir):
    """Image resize (decode → nearest-neighbor resample to 8×8 → PNG
    re-encode) over real PNG payloads built exactly as q49's (pixel
    (y, x) = (y*17 + x*31 + doc_id) % 256). The SQL oracle recomputes the
    resampled grid in closed form — n_bytes from the stored-block PNG size
    formula h*(w+1)+68 and mean_luma by averaging the 64 sampled pixel
    values via generate_series — verifying decode, resample, and re-encode
    against first principles. mean_luma is exact: integer pixel sum / 64
    is one IEEE division by a power of two."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "image", _png_fixture_payload(), cache_name="png")
    resized = multimodal.resize_images(media, 8, 8, method="nearest")
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length("content").alias("n_bytes"),
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


def q71_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table: md5-keyed deterministic
    centroids, argmax quantized-cosine cell assignment, within-cell
    keep-earliest drop at cos >= 0.4 (the corpus's planted near-dup band —
    real deployments run 0.95+; the rule is threshold-independent). Every
    arithmetic step is engine-portable, so the oracle reproduces the FULL
    pipeline: clustering, assignment, and the drop rule."""
    emb = _load(spark, sf_dir, "embeddings")
    # assign='gemm': bit-identical to the 'pairs' oracle twin
    # (equivalence-tested) — one int64 matmul per Arrow batch for the
    # assignment and blocked per-cell cos matrices for the drop rule,
    # instead of the n x m broadcast fan-out + O(cell^2) pair join
    # (guide §4.2)
    return dedup.semantic_dedup(
        emb, num_centroids=16, threshold=0.4, assign="gemm"
    ).select(F.col("id").alias("vec_id"), "cid", "is_kept")


def q72_gopher_quality(spark, sf_dir):
    """The published Gopher rule set (Rae et al. 2021 A1.1) as per-rule
    flags over the documents table — word-count/mean-word-length bounds,
    symbol and bullet/ellipsis ratios, alpha-word fraction, stopword
    presence, and the conjunction. One scan, zero shuffles; every ratio an
    exact integer division the SQL oracle reproduces bit-for-bit."""
    docs = _load(spark, sf_dir, "documents")
    return text.gopher_quality_flags(docs)


def q73_decontaminate_semantic(spark, sf_dir):
    """Embedding-space decontamination: benchmark = every 50th vector;
    corpus rows within cosine 0.4 of ANY benchmark vector (including the
    benchmark members themselves, self-cos = 1) are dropped. Quantized
    integer cosine throughout, so the oracle reproduces the exact filter;
    the 'gemm' broadcast-matrix kernel is equivalence-tested in
    tests/test_curation.py."""
    from traildb_spark.operators import curation

    emb = _load(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    # mode='gemm': bit-identical to the 'pairs' oracle twin
    # (equivalence-tested) but computes per-batch int64 matmuls against
    # the collected benchmark matrix instead of fanning out
    # |corpus|x|bench| join rows — guide §4.2 (batch the kernel) +
    # §3.3 (replace the broadcast-join fan-out)
    out = curation.decontaminate_semantic(emb, bench, threshold=0.4, mode="gemm")
    return out.select("vec_id")


def q74_duplicated_spans(spark, sf_dir):
    """Substring-level duplication profile (Lee et al. 2021 exact-substring
    dedup at 15-word-window granularity): per doc, how many window
    positions carry a gram that occurs in >= 2 distinct documents. Grams
    travel as portable 60-bit md5 hashes; permille is exact integer
    division, so the oracle reproduces every value."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.duplicated_span_stats(docs, window=15)


def q76_bloom_dedup(spark, sf_dir):
    """Incremental-ingest dedup through a broadcast Bloom filter (no false
    negatives; hits exactly re-checked), bit-identical to the plain
    anti-join — the candidates+recheck discipline of the reference's
    inverted index (tdbcli/tdb_index.c:559-631) applied to dedup. The
    existing slice deliberately contains copies of three 'new' docs so the
    filter provably routes true duplicates."""
    docs = _load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 3 != 0)
    existing = docs.filter((F.col("doc_id") % 3 == 0) | F.col("doc_id").isin(1, 2, 7))
    return dedup.bloom_dedup_against(new, existing).select("doc_id", "source")


def q77_video_frames(spark, sf_dir):
    """Video frame-sampling plumbing, driver-checked end to end: the
    MEDIA_SCHEMA video rows (utf-8 text payloads) explode to one row per
    sampled frame (64-byte stub frames, stride 2). The decode itself is
    the documented stub, but its arithmetic — frame count = ceil(byte
    length / 64), each frame its own 64-byte slice — is deterministic, so the Spark
    explode/slice plumbing is differentially verified; the fixture is
    ASCII, making char-substr and byte-substr coincide in the oracle."""
    from traildb_spark.operators import multimodal

    media = _media_table(
        spark, sf_dir, "video", lambda c: F.lit(None).cast("binary")
    )
    frames = multimodal.sample_video_frames(media, every_n=2, bytes_per_frame=64)
    return frames.select(
        "media_id",
        "frame_idx",
        F.decode(F.col("frame_bytes"), "UTF-8").alias("frame_text"),
    )


def q78_chunk_documents(spark, sf_dir):
    """Retrieval/context-window chunking: 32-token windows, 8-token
    overlap (stride 24), final partials kept, empty docs emit nothing.
    Pure Catalyst narrow map — the oracle reproduces every chunk string
    and count."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.chunk_documents(docs, chunk_tokens=32, overlap=8)


def q79_event_paths(spark, sf_dir):
    """Trail path mining: every 3-long run of consecutive event types
    within trails, counted corpus-wide — transition_counts generalized to
    k-grams (the reference's bigram model on the time axis, one window
    shuffle, lexicon^3-bounded aggregate)."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.event_path_ngrams(ev, "event_type", 3, "uuid", "time", "event_id")


def q80_attribution(spark, sf_dir):
    """Last-touch attribution with a 1-day lookback: every 'purchase'
    credits the most recent prior 'click'/'view' in the same trail (or
    '(none)' if absent/expired); value summed as integer cents. One uuid
    shuffle + a |touches|+1-group aggregate."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.attribution(
        ev, "purchase", ["click", "view"], 86400, "last_touch",
        "event_type", "value", "uuid", "time", "event_id",
    )


def q81_lexicon_dump(spark, sf_dir):
    """Full lexicon enumeration (field, value, item_id): reference
    tdb_get_item_value as a queryable table; item 0 = reserved NULL/''
    per field, dense ids in value order (documented deviation from
    insertion order)."""
    ev = _events(spark, sf_dir)
    ds = TrailDataset(ev.select("uuid", "time", "event_type", "props"))
    return ds.lexicon_dump(["event_type", "props"])


def q82_cooccurrence_pmi(spark, sf_dir):
    """Collocation extraction: adjacent word-bigram counts + whole-bit
    PMI (bit_length arithmetic — bit-portable, overflow-free). Bigrams
    via a zero-shuffle zip_with narrow map; vocab-sized aggregates."""
    docs = _load(spark, sf_dir, "documents")
    return text.cooccurrence_pmi(docs, min_count=3)


def q83_quality_prune(spark, sf_dir):
    """Corpus pruning: keep the global top-100 documents by
    (quality_score desc, doc_id asc) — salted two-phase top-k, no
    corpus-sized single-reducer sort."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", text.quality_score(F.col("text")).alias("q")
    )
    return curation.top_k_global(
        scored, [F.desc("q"), F.asc("doc_id")], 100, salt_col="doc_id"
    )


def q84_activity_histogram(spark, sf_dir):
    """Activity heatmap: events by (day-of-week, hour, event_type) from
    pure integer Unix-seconds arithmetic; ≤ 7×24×lexicon groups."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.activity_histogram(ev, "event_type", "time")


def q85_inverted_index(spark, sf_dir):
    """Retrieval index build: (term, doc_id, tf, first_pos, positions)
    postings — exploded/shardable form, one narrow posexplode + one
    map-side-combined aggregate. Restricted to docs 0-49 to keep the
    oracle compare bounded."""
    docs = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return text.inverted_index(docs)


def q86_remove_spans(spark, sf_dir):
    """Exact-substring dedup REMOVAL (Lee et al. 2021 second half; q74 is
    the profile): drop every token covered by a corpus-duplicated 15-word
    window, rebuild the surviving text. Coverage via the as-of-join
    running-max pattern — linear shuffles, no per-doc quadratic probe."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(docs, window=15)


def q87_sample_exact(spark, sf_dir):
    """Exactly-k deterministic uniform sample (eval-set carving): rank by
    md5(seed||doc_id), keep the 75 smallest via salted two-phase top-k —
    no single-reducer global sort, stable across re-partitioning."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.uniform_sample_exact(
        docs.select("doc_id", "source", "n_chars"), 75, seed="evalv1:"
    )


def q88_session_basket(spark, sf_dir):
    """Market-basket over sessions: unordered event-type pairs by
    session co-occurrence (support) + whole-bit lift. Sessionize = one
    uuid shuffle; pairs explode from lexicon-bounded per-session arrays."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.session_cooccurrence(
        ev, "event_type", gap=1800, min_support=2
    )


def q89_clean_text(spark, sf_dir):
    """Ingest text hygiene: NFC normalize (Arrow-batched pandas kernel —
    the only Python step), control-char strip + whitespace collapse in
    Catalyst; oracle reproduces every step via nfc_normalize."""
    docs = _load(spark, sf_dir, "documents")
    return text.clean_text(docs)


def q90_burst_windows(spark, sf_dir):
    """Activity-spike detection: per trail the peak event count in any
    sliding 1-hour window (+ earliest peak time). One uuid shuffle,
    RANGE frame streams per trail."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.burst_windows(ev, window=3600)


def q91_length_deciles(spark, sf_dir):
    """Equal-frequency binning: doc-length deciles via exact
    rank-before-value arithmetic — ties share one bucket, no global row
    sort (value-cardinality-sized cumsum + broadcast map join)."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curation.rank_buckets(docs, "n_chars", n_buckets=10)


def q92_dataset_diff(spark, sf_dir):
    """Dataset diff (migration validation): split events into two
    overlapping views (A = all, B = all except event_id % 97 == 0),
    digest each trail to an order-insensitive additive md5 multiset
    fingerprint, full-outer join — per-uuid match verdicts."""
    from traildb_spark.dataset import diff_datasets

    ev = _events(spark, sf_dir).select("uuid", "time", "event_type", "event_id")
    a = ev
    b = ev.filter(F.col("event_id") % 97 != 0)
    return diff_datasets(
        a, b, uuid_col="uuid", fields=["time", "event_type", "event_id"]
    )


def q93_countmin(spark, sf_dir):
    """Count-min sketch build + probe over props (width 64, depth 4 —
    narrow enough to force real collisions): estimates for every distinct
    value. Deterministic md5 cells ⇒ the DuckDB oracle reproduces the
    sketch AND the min-estimates bit-for-bit."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    sketch = analytics.countmin_build(ev, "props", width=64, depth=4)
    vals = ev.select("props").distinct()
    return analytics.countmin_probe(sketch, vals, "props", width=64, depth=4)


def q94_video_decode(spark, sf_dir):
    """REAL video decode: video-kind rows (doc_id % 3 == 2, q49's kind
    cycle) carry actual YUV4MPEG2 Cmono streams whose luma is the
    deterministic ramp p[f, i] = (doc_id*7 + f*13 + i) % 256 over
    n = 2 + doc_id % 4 frames of 8×4; decode → stride-2 frame sample →
    exact integer luma stats. The oracle recomputes width/height/frame
    count AND every kept frame's luma_sum/luma_max from the closed form —
    proving the Y4M encoder, the header/FRAME parser, and the sampling
    kernel agree end-to-end (retires the video stub the same way q69/q70
    retired audio/image)."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "video", _y4m_fixture_payload(),
                         cache_name="y4m")
    return multimodal.extract_video_frames(media, every_n=2)


def _y4m_fixture_payload():
    """Y4M payload UDF shared by q94/q244: luma ramp
    p[f, i] = (doc_id*7 + f*13 + i) % 256 over n = 2 + id%4 frames of
    8×4 (Cmono)."""
    from traildb_spark.operators import multimodal

    @F.pandas_udf("binary")
    def y4m_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n, h, w = 2 + i % 4, 4, 8
            base = np.arange(h * w, dtype=np.int64)
            frames = np.stack(
                [((i * 7 + f * 13 + base) % 256).astype(np.uint8).reshape(h, w)
                 for f in range(n)]
            )
            out.append(multimodal.make_y4m(frames))
        return pd.Series(out)

    return y4m_payload


def q95_pattern_match(spark, sf_dir):
    """Sequence pattern with absence constraint per trail: purchases
    preceded by a view with NO error strictly between. One uuid window
    carrying both running columns + a per-trail fold."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.pattern_match(
        ev, "view", "purchase", "error", "event_type", "uuid", "time", "event_id"
    )


def q96_time_to_convert(spark, sf_dir):
    """Survival-curve input: day-bucketed gap from first signup to first
    later purchase per trail; bucket -1 = censored (never converted)."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.time_to_convert(ev, "signup", "purchase", bucket=86400)


def q97_dup_by_source(spark, sf_dir):
    """Curation report: per source, how many docs share their content
    fingerprint with ANY doc corpus-wide (dup_permille = exact integer
    division). Fingerprint-keyed count + broadcast-size source rollup."""
    docs = _load(spark, sf_dir, "documents")
    f = docs.select("source", text.fingerprint(F.col("text")).alias("fp"))
    g = f.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    joined = f.join(g, "fp")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_dup_docs"),
    ).withColumn(
        "dup_permille", F.expr("1000 * n_dup_docs div n_docs")
    )


def q98_rolling_active(spark, sf_dir):
    """Rolling 7-day active-trails timeline (WAU curve): trail-day
    distinct rows explode ×7 (trail-day scale, not event scale), then a
    day-keyed distinct count."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.rolling_active(ev, window_days=7, period=86400)


def q99_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: each purchase splits 10000 bp
    equally over its 1-day prefix click/view touches (remainder to the
    most recent; untouched conversions credit '(none)') — credit
    conserves exactly at 10000 × conversions."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.attribution_linear(
        ev, "purchase", ["click", "view"], 86400
    )


def q100_cluster_sizes(spark, sf_dir):
    """Dedup reporting: the cluster-size histogram over the q42
    connected components (how much of the corpus sits in dup groups of
    size 1, 2, 3…) — the standard before/after dedup audit. Component
    labels reduce to component-sized counts, then a histogram-sized
    aggregate."""
    docs = _load(spark, sf_dir, "documents")
    md5_60_fn = core.md5_60
    pairs = dedup.simhash_pairs(docs, max_hamming=3, token_hasher=md5_60_fn)
    labeled = dedup.dedup_clusters(docs, pairs)
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


def q101_cohort_revenue(spark, sf_dir):
    """Cohort revenue triangle: per (signup-day cohort, day offset), the
    number of active trails AND their summed purchase value in integer
    cents — `retention` extended with a value metric (the LTV curve
    input). Same two-shuffle shape: per-trail day sets collapse map-side,
    the final aggregate keys on the tiny cohort triangle."""
    ev = _events(spark, sf_dir)
    day = F.floor(F.col("time") / 86400).cast("long")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0))
    per = ev.select("uuid", day.alias("d"), cents.alias("c")).groupBy(
        "uuid", "d"
    ).agg(F.sum("c").alias("rev"))
    cohort = per.groupBy("uuid").agg(F.min("d").alias("cohort"))
    return (
        per.join(cohort, "uuid")
        .groupBy("cohort", (F.col("d") - F.col("cohort")).alias("offset"))
        .agg(
            F.count(F.lit(1)).alias("trails"),
            F.sum("rev").cast("long").alias("revenue_cents"),
        )
    )


def q102_gap_histogram(spark, sf_dir):
    """Inter-event-time distribution keyed by the previous event type,
    whole-bit (log2) gap buckets — the engine-portable latency
    histogram. One uuid window + a ≤64×lexicon aggregate."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.gap_histogram(ev, "event_type", "uuid", "time", "event_id")


def q103_surprisal_mix(spark, sf_dir):
    """Pipeline composition: docs bucketed into surprisal-per-token
    quintiles (equal-frequency, rank_buckets) crossed with source —
    the "how does quality distribute across sources" curation report."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    scored = text.unigram_surprisal(docs).select("doc_id", "millibits_per_token")
    bucketed = curation.rank_buckets(
        scored, "millibits_per_token", n_buckets=5
    )
    return (
        bucketed.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q75_unigram_surprisal(spark, sf_dir):
    """Model-free perplexity analog: per-doc average self-information
    under the corpus's own unigram distribution, integerized to whole bits
    via binary-digit counts (len(bin(total)) - len(bin(count))) so the
    score is bit-portable across engines."""
    docs = _load(spark, sf_dir, "documents")
    return text.unigram_surprisal(docs)


def q104_jpeg_decode(spark, sf_dir):
    """REAL JPEG pixel decode: image-kind rows (doc_id % 3 == 0, q49's
    kind cycle) carry actual baseline JPEGs — Huffman entropy coding,
    quantization, DCT — of a block-flat pattern: 8×8 tile (by, bx) holds
    value (by*31 + bx*17 + doc_id) % 256 on a (8*(1 + id%2)) ×
    (8*(1 + id%3)) canvas, encoded at quality 100 (all-ones quantization
    tables). A flat tile's DCT is DC-only, so quality-100 decode is
    bit-exact: width/height and the integer luma sum/min/max are all in
    closed form from the pattern, and the oracle recomputes them —
    proving the entropy decoder, dequantizer, and IDCT end-to-end
    (retires the r3 JPEG honest gate the way q94 retired video)."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.jpeg import make_jpeg

    @F.pandas_udf("binary")
    def jpeg_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            hb, wb = 1 + i % 2, 1 + i % 3  # blocks
            by, bx = np.mgrid[0:hb, 0:wb]
            tiles = ((by * 31 + bx * 17 + i) % 256).astype(np.uint8)
            canvas = np.kron(tiles, np.ones((8, 8), np.uint8))
            out.append(make_jpeg(canvas, quality=100))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", jpeg_payload, cache_name="jpeg")
    return multimodal.image_luma_stats(media)


def q105_gif_decode(spark, sf_dir):
    """REAL GIF pixel decode (LZW + palette, interlaced on odd ids):
    image-kind rows carry GIF fixtures with a 16-level GRAY palette
    pal[j] = (doc_id*7 + j*13) % 256 and index map (y, x) =
    (y*5 + x*3 + doc_id) % 16 on a (5 + id%4) × (6 + id%5) canvas.
    GIF is lossless and a gray palette makes luma == palette value, so
    the oracle recomputes width/height/luma sum/min/max exactly from the
    closed form — proving the LZW decoder, sub-block chain walk, palette
    mapping, and Adam-style deinterlacer end-to-end (the GIF sibling of
    q104's JPEG proof; retires the last common-container pixel gate)."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.gif import make_gif

    @F.pandas_udf("binary")
    def gif_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 5 + i % 4, 6 + i % 5
            pal_v = (i * 7 + np.arange(16) * 13) % 256
            pal = np.stack([pal_v] * 3, axis=1).astype(np.uint8)
            yy, xx = np.mgrid[0:h, 0:w]
            idx = ((yy * 5 + xx * 3 + i) % 16).astype(np.uint8)
            out.append(make_gif(idx, pal, interlace=bool(i % 2)))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", gif_payload, cache_name="gif")
    return multimodal.image_luma_stats(media)


def q106_bm25(spark, sf_dir):
    """BM25 retrieval top-10 per query (queries = first 5 tokens of every
    97th document — so each query has at least one guaranteed strong
    hit). Whole-bit idf + integer-rational tf saturation (k1=1.2, b=0.75,
    length ratio in thousandths) keep every score exact int64 arithmetic,
    so the oracle reproduces scores AND ranks bit-for-bit — no libm log,
    no float summation order. One (doc,term) tf table serves df, dl, and
    the match join; query terms and vocabulary stats broadcast."""
    docs = _load(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(text.tokens(F.col("text")), 1, 5), " ").alias(
            "text"
        ),
    )
    return text.bm25_topk(docs, queries, k=10)


def q107_bigram_surprisal(spark, sf_dir):
    """Bigram-conditional surprisal per document (whole-bit integer
    self-information under the corpus's own bigram model) — the quality
    signal that catches common-words-in-unusual-order text the unigram
    score misses. Zero-shuffle in-doc bigram construction (zip_with),
    map-side-combined counts, broadcast model joins."""
    docs = _load(spark, sf_dir, "documents")
    return text.bigram_surprisal(docs)


def q108_trail_overrides_table(spark, sf_dir):
    """Per-trail filter overrides as a JOINED SPEC TABLE (the
    million-trail scale form of q15's CASE expression): trails whose
    uuid ends in '0' keep only click/view events, trails ending in '1'
    keep non-empty-props AND non-error events, everyone else falls back
    to the db-level time-range filter. The spec is DATA (one row per CNF
    term), evaluated by a uuid join + two event-keyed aggregates —
    nothing filter-count-shaped enters the plan."""
    from traildb_spark.operators.filters import (
        EventFilter,
        trail_filter_spec_join,
    )

    ev = _events(spark, sf_dir).select(
        "uuid", "time", "event_id", "event_type", "props"
    )
    from traildb_spark.operators.dedup import _materialize

    # the distinct-uuid table feeds four spec-row branches; unpersisted,
    # each branch re-ran the corpus-wide distinct (plan audit: 6 scans)
    uuids = _materialize(ev.select("uuid").distinct())
    u0 = uuids.filter(F.col("uuid").endswith("0"))
    u1 = uuids.filter(F.col("uuid").endswith("1"))
    spec = (
        u0.select(
            "uuid", F.lit(0).alias("clause"),
            F.lit("event_type").alias("field"), F.lit("click").alias("value"),
            F.lit(False).alias("negative"),
        )
        .unionByName(
            u0.select(
                "uuid", F.lit(0).alias("clause"),
                F.lit("event_type").alias("field"), F.lit("view").alias("value"),
                F.lit(False).alias("negative"),
            )
        )
        .unionByName(
            u1.select(
                "uuid", F.lit(0).alias("clause"),
                F.lit("props").alias("field"), F.lit("").alias("value"),
                F.lit(True).alias("negative"),
            )
        )
        .unionByName(
            u1.select(
                "uuid", F.lit(1).alias("clause"),
                F.lit("event_type").alias("field"), F.lit("error").alias("value"),
                F.lit(True).alias("negative"),
            )
        )
    )
    db_f = EventFilter().add_time_range(TIME_LO, TIME_HI)
    return trail_filter_spec_join(
        ev, spec, ("uuid", "time", "event_id"), db_f
    )


def q109_y4m_chroma(spark, sf_dir):
    """REAL Y4M chroma decode (retires the last honest media gate):
    video-kind rows carry C420 streams — 8×4 luma y[f,i] = (id*7 + f*13
    + i) % 256 PLUS 4×2 subsampled chroma planes cb[f,j] = (id*3 + f*5 +
    j*11) % 256 and cr[f,j] = (id*13 + f*7 + j*17) % 256 over
    n = 2 + id % 4 frames. Decode all three planes → stride-2 sample →
    exact integer sums per plane. The oracle recomputes every sum from
    the closed form, so a decoder that merely STRIDES past chroma (right
    luma, wrong cb/cr) fails the hash — the proof chroma samples are
    read, not skipped."""
    from traildb_spark.operators import multimodal

    @F.pandas_udf("binary")
    def y4m_c420_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n, h, w = 2 + i % 4, 4, 8
            yb = np.arange(h * w, dtype=np.int64)
            cbase = np.arange((h // 2) * (w // 2), dtype=np.int64)
            y = np.stack(
                [((i * 7 + f * 13 + yb) % 256).astype(np.uint8).reshape(h, w)
                 for f in range(n)]
            )
            cb = np.stack(
                [((i * 3 + f * 5 + cbase * 11) % 256)
                 .astype(np.uint8).reshape(h // 2, w // 2) for f in range(n)]
            )
            cr = np.stack(
                [((i * 13 + f * 7 + cbase * 17) % 256)
                 .astype(np.uint8).reshape(h // 2, w // 2) for f in range(n)]
            )
            out.append(multimodal.make_y4m(y, colorspace="C420", cb=cb, cr=cr))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "video", y4m_c420_payload, cache_name="y4m420")
    return multimodal.extract_video_chroma(media, every_n=2)


def q110_token_heavy_hitters(spark, sf_dir):
    """Vocabulary heavy hitters via Misra-Gries — the bounded-state
    answer to "which tokens dominate the corpus" when the vocabulary is
    too wide to groupBy exactly. The k-counter MG summary (state ≤ k per
    partition, absolute-error guarantee) yields a certified SUPERSET of
    every token with count > N/(k+1); one broadcast semi-join recounts
    just the candidates exactly, so the final output — the exact
    frequent set with exact counts — is deterministic regardless of
    partitioning, which is what lets an approximate-sketch pipeline be
    oracle-checked end-to-end (the oracle computes the same set with a
    plain GROUP BY/HAVING the MG path deliberately avoids)."""
    from traildb_spark.operators import analytics

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text.tokens(F.col("text"))).alias("token")
    )
    return analytics.heavy_hitters_exact(toks, "token", k=200).select(
        F.col("value").alias("token"), "n"
    )


def q111_sequence_match(spark, sf_dir):
    """Regex over trail sequences (the MATCH_RECOGNIZE shape): trails
    where a view is EVENTUALLY followed by a purchase crossing only
    click/view events — `` view ((click|view) )*purchase ``. The trail
    renders as one space-separated JVM string (ordered by time,
    event_id) and the same RE2-compatible pattern runs verbatim in the
    oracle, so the whole compile-trail-to-string + regex pipeline is
    value-checked, sequence text included."""
    from traildb_spark.operators import analytics

    ev = _events(spark, sf_dir)
    return analytics.sequence_match(
        ev, " view ((click|view) )*purchase ", "event_type",
        "uuid", "time", ("event_id",),
    )


def q112_make_patch(spark, sf_dir):
    """Row-level CDC patch between a dataset and its next-day state
    (every 97th event deleted, every 89th retyped): the incremental
    alternative to the reference's daily full re-encode. The operator
    narrows to digest-changed trails first (one aggregate per side) so
    the all-columns multiset diff shuffles only changed trails' events;
    the oracle recomputes the same patch with plain EXCEPT ALL — multiset
    semantics checked value-for-value, op tags included."""
    from traildb_spark.dataset import make_patch

    a = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    b = a.filter(F.col("event_id") % 97 != 0).withColumn(
        "event_type",
        F.when(F.col("event_id") % 89 == 0, F.lit("patched")).otherwise(
            F.col("event_type")
        ),
    )
    return make_patch(a, b)


def q113_temperature_mix(spark, sf_dir):
    """α=1/2 temperature mixture (the published multilingual/data-recipe
    sampling: upsample tail sources at the head's expense) over a skewed
    source map — 3/4 of docs collapse into one 'web' head source. The
    allocation is INTEGER end-to-end (isqrt(n·10^12) weights + largest-
    remainder apportionment, ties by source), and row selection is the
    md5(doc_id) rank, so the oracle reproduces the EXACT sample: the
    apportionment re-derives in SQL with a correction step that turns
    floor(sqrt(double)) into exact isqrt."""
    from traildb_spark.operators.curation import temperature_mix

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.col("source"))
        .otherwise(F.lit("web"))
        .alias("source"),
    )
    return temperature_mix(docs, total=60, alpha=0.5)


def q114_trigram_backoff(spark, sf_dir):
    """Stupid-backoff trigram surprisal against a HELD-OUT model (even
    doc_ids train, odd doc_ids score), so unseen trigrams genuinely walk
    the backoff chain — trigram → (w2,w3) bigram → w3 unigram → unknown,
    1322 millibits ≈ log2(1/0.4) per level, whole-bit count ratios, all
    int64. The oracle rebuilds the three model tables and the CASE chain
    in SQL, so every backoff branch is value-checked."""
    docs = _load(spark, sf_dir, "documents")
    model = docs.filter(F.col("doc_id") % 2 == 0)
    score = docs.filter(F.col("doc_id") % 2 == 1)
    return text.trigram_backoff_surprisal(score, model)


def q116_fuzzy_dedup_against(spark, sf_dir):
    """Incremental FUZZY dedup (the daily-crawl shape): near-dup matches
    of a NEW batch (odd doc_ids) against an EXISTING corpus (even
    doc_ids) via the portable MinHash pipeline — md5 shingles,
    rotate-XOR permutations, banded candidates from the cross-corpus
    (band, bh) join, exact Jaccard verify, best match per new doc. The
    exact-match siblings are q65 (anti-join) and q76 (Bloom); the oracle
    reproduces candidates, prune, verify AND the best-match rank."""
    docs = _load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    # sig_prune pinned True: the oracle reproduces the prune stage too
    # (the production default is False — pure candidates→verify).
    # max_bucket=256: per-side hot-bucket skew guard, mirrored in SQL.
    return dedup.fuzzy_dedup_against(
        new, corpus, shingle_k=5, num_hashes=16, bands=4, threshold=0.5,
        sig_prune=True, max_bucket=256,
    )


def q117_emb_neardup_against(spark, sf_dir):
    """Incremental EMBEDDING near-dup (the vector sibling of q116):
    matches of a NEW vector batch (odd vec_ids) against an EXISTING
    corpus (even vec_ids) via the portable SRP pipeline — integer
    quantization, ±1 literal hyperplanes, banded candidates from the
    cross-corpus (band, bh) join, quantized-cosine verify, best match
    per new vector. The oracle reproduces candidates, verify AND the
    best-match rank."""
    emb = _load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    # max_bucket=256: per-side hot-bucket skew guard, mirrored in SQL
    return dedup.embedding_neardup_against(
        new, corpus, threshold=0.4, max_bucket=256
    )


def q115_sessions_chunked(spark, sf_dir):
    """Bounded-memory whale cursor path: sessionization as a constant-state
    fold over time-ordered chunks (apply_to_trails_chunked — the Spark form
    of the reference cursor's stream-at-any-trail-length contract,
    src/tdb_decode.c:227-329, 2^50-event trail limit src/tdb_limits.h:19).
    Same oracle as q06: the chunked path must equal the window path."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    return trails.session_stats_chunked(ev, gap=1800)


def q120_distribution_drift(spark, sf_dir):
    """Cross-window distribution drift per event_type: exact
    total-variation distance (parts-per-million) between the value
    histograms of the first and second half of the time range —
    integer-exact end to end (decimal products + truncating division,
    no float summation), so the drift score is bit-identical across
    engines and partitionings. Histogram-sized shuffles only."""
    ev = _events(spark, sf_dir).select("time", "event_type", "value")
    return analytics.distribution_drift(
        ev, t_split=1705000000, bin_width=10.0
    ).withColumnRenamed("key", "event_type")


def q121_embedding_gram(spark, sf_dir):
    """Distributed Gram/covariance statistics of the embedding table:
    int-quantized (Q10) per-batch d x d matmul partials, combined by a
    metadata-scale groupBy — the treeAggregate pattern expressed as
    DataFrame ops. Integer-exact sums end to end; cov_q is one IEEE
    division + half-up round, so every column is oracle-checkable."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.embedding_gram(emb, q_scale_bits=10)


def q122_source_divergence(spark, sf_dir):
    """Per-source vocabulary divergence from the rest of the corpus:
    exact-integer TVD over unigram distributions, with the absent-token
    mass folded into a closed form so only EXISTING (source, token)
    pairs are materialized. The oracle computes the naive union-grid
    sum — the two formulations must agree bit for bit."""
    docs = _load(spark, sf_dir, "documents")
    return text.source_divergence(docs)


def q123_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth over doc_id-ordered corpus deciles:
    new token types per bucket plus the running total. Exact integer
    bucketing (no rank shuffle); vocab-sized intermediates only; the
    cumulative window runs over 10 rows."""
    docs = _load(spark, sf_dir, "documents")
    return text.vocab_growth(docs, n_buckets=10)


def q124_rolling_median(spark, sf_dir):
    """Per-trail rolling median of event value over the last 5 events
    (time-ordered, event_id tiebreak) — one uuid-shuffled window
    aggregate, no Python. Median parity needs no rounding: odd frames
    return a data value, even frames one IEEE add + divide."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "value")
    return analytics.rolling_median(ev, k=5)


def q125_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: distinct shared word 5-grams
    and exact Jaccard overlap per source pair, with the ubiquity cap
    (grams in > 16 sources excluded everywhere) that bounds the
    gram-keyed self-join fan-out at any scale."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.source_overlap_matrix(
        docs, n=5, max_sources_per_gram=16
    )


def q126_event_trend(spark, sf_dir):
    """Per-event-type ingest trend: exact-integer OLS slope of daily
    event counts over the global day range, zero-filled via closed-form
    x-moments (nothing exploded per empty day). slope_num/slope_den are
    exact int64; ppm uses sign-factored truncating division so both
    engines agree on negative slopes."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.trend_by_key(ev, bucket_seconds=86400)


def q127_trail_similarity(spark, sf_dir):
    """Behavioral trail cohorts: exact Jaccard (ppm) between trails'
    distinct (event_type:props) feature sets, feature-keyed self-join
    with a DATA-ADAPTIVE ubiquity cap (a feature in more than 1/5 of
    all trails is background noise at any corpus size — the static-cap
    form goes degenerate as trails grow) and a 0.08 similarity floor
    pruning the output. The cap count is one metadata-scale distinct
    aggregate, mirrored by the oracle. Runs on a deterministic
    FIXED-SIZE md5 trail PANEL (~300 trails at any population —
    `curation.hash_bucket` with a population-derived modulus, the q46
    split discipline): exact pairwise similarity is quadratic in cohort
    size by definition, so a proportional sample goes super-linear with
    data while a fixed panel stays FLAT — the production pairing is
    panel-exact here plus full-population MinHash (q35's machinery)."""
    from traildb_spark.operators.curation import hash_bucket

    ev_all = _events(spark, sf_dir)
    n_all = ev_all.select("uuid").distinct().count()
    mod = max(5, (n_all + 299) // 300)
    ev = ev_all.filter(hash_bucket(F.col("uuid"), mod, salt="panel:") == 0)
    n_trails = ev.select("uuid").distinct().count()
    feature = F.concat_ws(":", F.col("event_type"), F.col("props"))
    return trails.trail_similarity_pairs(
        ev,
        feature,
        max_trails_per_feature=max(16, n_trails // 5),
        min_jaccard_ppm=80000,
    )


def q128_volume_anomalies(spark, sf_dir):
    """Ingest-volume anomalies: hourly buckets deviating from their
    event_type's mean by > 2σ, evaluated as the exact integer
    inequality (n·y − S)² > k²(nQ − S²) over the zero-filled
    keys × hours grid (blackout hours are first-class candidates)."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.anomalous_buckets(ev, bucket_seconds=3600, k=2)


def q129_split_sentences(spark, sf_dir):
    """Sentence segmentation of the normalized corpus: maximal runs
    between [.!?]+ terminator runs, trimmed, empties dropped, densely
    indexed — pure narrow map, zero shuffles. The RE2-portable subset
    by construction (no lookarounds)."""
    docs = _load(spark, sf_dir, "documents")
    return text.split_sentences(docs)


def q130_join_skew_report(spark, sf_dir):
    """Join-skew diagnostic: the top-20 heaviest (uuid) join keys of
    events ⋈ events-by-day fan-out — per-key counts on both sides and
    the exact product a key-equi-join would materialize. Deterministic
    total order (fanout desc, key asc); aggregates are key-cardinality-
    sized, the final sort is top-k over a window."""
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "click").select("uuid")
    b = ev.filter(F.col("event_type") == "purchase").select("uuid")
    return joins.join_skew_report(a, b, "uuid", top_k=20)


def q131_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog over the (uuid:props) pair universe —
    md5 buckets, integer registers, dyadic-exact register sum, so the
    approximate sketch is still bit-identical to the oracle. p=7 keeps
    the raw estimator inside its valid range for this cardinality."""
    ev = _events(spark, sf_dir)
    pairs = ev.select(
        F.concat_ws(":", F.col("uuid"), F.col("props")).alias("pair")
    )
    return analytics.hll_distinct(pairs, "pair", p=7)


def q132_volume_correlation(spark, sf_dir):
    """Correlated event volumes: Pearson correlation of hourly counts
    for every event_type pair — exact integer moments over the
    zero-filled global range, three IEEE ops + half-up round at the
    end. Histogram-sized joins only."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.volume_correlation_pairs(ev, bucket_seconds=3600)


def q133_winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprints (Schleimer et al. 2003): leftmost
    minimum md5-60 word-5-gram hash per 4-window, deduped — the
    position-locating fingerprint family, one struct-min window pass."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, k=5, w=4)


def q134_winnow_similarity(spark, sf_dir):
    """MOSS similarity: Jaccard overlap (ppm) of winnowing-fingerprint
    sets per doc pair — how MOSS actually scores submissions. Pure
    composition: winnow_fingerprints ∘ set_jaccard_pairs, fingerprint-
    keyed equi-join, 0.10 floor. The composability IS the point — both
    halves already have exact oracles."""
    docs = _load(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, k=3, w=4).select(
        "doc_id", "gram_hash"
    )
    return dedup.set_jaccard_pairs(
        fps, "doc_id", "gram_hash", max_ids_per_feature=100,
        min_jaccard_ppm=100000,
    )


def q135_cdf_drift(spark, sf_dir):
    """KS + 1-D earth-mover drift between the two halves of the time
    range, per event_type — exact integer cumulative lattice with
    gap-weighted EMD; the location-sensitive complement to q120's
    TVD."""
    ev = _events(spark, sf_dir).select("time", "event_type", "value")
    return analytics.cdf_drift(ev, t_split=1705000000, bin_width=10.0)


def q136_trail_vectors(spark, sf_dir):
    """Bag-of-events behavior vectors per trail (ascending-lexicon
    layout, map-transform build — no pivot/joins): the bridge from
    trails to the SRP/IVF vector stack for population-scale behavioral
    pairing."""
    ev = _events(spark, sf_dir).select("uuid", "event_type")
    return trails.trail_vectors(ev)


def q137_props_extract(spark, sf_dir):
    """Typed JSON field extraction from props (`core.json_field` —
    NULL-safe in both engines) + integer-exact per-type aggregation:
    events carry JSON blobs, queries want typed columns."""
    ev = _events(spark, sf_dir)
    k = core.json_field(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q138_histogram_percentiles(spark, sf_dir):
    """p50/p90/p99 of value per event_type from fixed-width histograms —
    the sort-free percentile path: histogram-sized state, integer
    nearest-rank selection on the cross-multiplied lattice, bin-lower-
    boundary output."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    return analytics.histogram_percentiles(
        ev, probs=(0.5, 0.9, 0.99), bin_width=10.0
    )


def q139_hll_by_key(spark, sf_dir):
    """Distinct (uuid:props) pairs PER EVENT TYPE via the per-key
    portable HLL — keys × 2^p register state instead of a raw
    count-distinct shuffle; same dyadic-exact estimator as q131, one
    row per key."""
    ev = _events(spark, sf_dir)
    pairs = ev.select(
        "event_type",
        F.concat_ws(":", F.col("uuid"), F.col("props")).alias("pair"),
    )
    return analytics.hll_distinct_by_key(pairs, "event_type", "pair", p=7)


def q140_upsample_corpus(spark, sf_dir):
    """Per-source training-mix upsampling: 3 epochs of src0, 1.5 of
    src1 (fractional copy by deterministic md5 threshold), 0.25 of
    src2, everything else 1.0 — floor+threshold integer arithmetic,
    narrow explode, no shuffle."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    out = curation.upsample_corpus(
        docs, {"src0": 3.0, "src1": 1.5, "src2": 0.25}
    )
    return out.select("doc_id", "source", "epoch")


def q141_contamination_report(spark, sf_dir):
    """Contamination audit pairs: every (benchmark item, corpus doc)
    pair sharing a 13-word-gram with the shared-gram count — the
    reviewable form of q47's silent anti-join (benchmark = every 50th
    doc, corpus = the rest)."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return curation.contamination_report(corpus, bench, n=13)


def q142_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val split: near-dup clusters (q42's simhash
    components) are hashed by their COMPONENT label, so every member
    moves to the same split — the fix for hash_split's per-doc leakage.
    Oracle: q42's recursive CTE + the hash_bucket range rule on the
    label."""
    from traildb_spark.functions.core import md5_60
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=3, token_hasher=md5_60)
    out = curation.leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.2}
    )
    return out.select("doc_id", "component", "split")


def q143_embedding_outliers(spark, sf_dir):
    """Centroid-distance outlier gate over the embedding table: exact
    integer lattice n²·dist² per vector, flag above max_dist=1.008 —
    no float accumulation anywhere, every d2 value oracle-checked."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.embedding_outliers(emb, max_dist=1.008)


def q144_conversion_rates(spark, sf_dir):
    """Visitor-level conversion rate with Wilson 95% bounds — exact
    integer counts, a handful of correctly-rounded IEEE ops, half-up
    rounding; one uuid aggregate + one scalar aggregate."""
    ev = _events(spark, sf_dir).select("uuid", "event_type")
    return analytics.conversion_rates(ev, "purchase")


def q145_trail_entropy(spark, sf_dir):
    """Behavioral diversity per trail: whole-bit integerized Shannon
    entropy (bits(n) − bits(cnt) per event — the surprisal discipline,
    no libm log), lexicon-bounded aggregates."""
    ev = _events(spark, sf_dir).select("uuid", "event_type")
    return analytics.trail_entropy(ev)


def q146_session_funnel(spark, sf_dir):
    """Within-session funnels (signup → view → purchase inside ONE
    30-minute session) — sessionize + the funnel latch fold keyed on
    the (uuid, session) struct; whole-trail funnels over-credit
    cross-session journeys."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_type")
    steps = [F.col("event_type") == s for s in ("signup", "view", "purchase")]
    return analytics.session_funnel(ev, steps, gap=1800)


def q147_transition_entropy(spark, sf_dir):
    """Next-event predictability: whole-bit conditional entropy of each
    event type's outgoing transition distribution (trail-adjacent
    pairs, event_id tiebreak) — low = mechanical flow, high = genuine
    branching."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    return analytics.transition_entropy(ev, "event_type", "uuid", "time", "event_id")


def q148_corpus_card(spark, sf_dir):
    """One-row corpus card: doc/token totals, vocabulary, exact-dup
    volume, length stats — every number integer-exact, the release
    summary a dataset ships."""
    docs = _load(spark, sf_dir, "documents")
    return text.corpus_card(docs)


def q149_dup_source_flow(spark, sf_dir):
    """Exact-duplicate flow between sources: which source pairs share
    identical (normalized) documents — the whole-doc-fingerprint
    sibling of q125's gram overlap, same `set_jaccard_pairs` kernel
    (id = source, feature = content md5)."""
    docs = _load(spark, sf_dir, "documents").select("source", "text")
    # a deterministic mirror tier (the real-world shape: site mirrors
    # serve the same pages under another domain) so the flow matrix is
    # non-trivial on this synthetic corpus; the oracle mirrors the union
    mirrored = docs.select(
        F.concat(F.lit("mirror-"), F.col("source")).alias("source"), "text"
    )
    fp = docs.unionByName(mirrored).select(
        "source", F.md5(dedup.normalize_text(F.col("text"))).alias("fp")
    )
    return dedup.set_jaccard_pairs(
        fp, "source", "fp", max_ids_per_feature=16
    ).select(
        F.col("id_a").alias("source_a"),
        F.col("id_b").alias("source_b"),
        F.col("size_a").alias("docs_a"),
        F.col("size_b").alias("docs_b"),
        F.col("shared").alias("shared_docs"),
        "jaccard_ppm",
    )


def q150_entry_exit(spark, sf_dir):
    """Entry/exit analysis (landing and leaving events): struct-min/max
    over (time, event_id) picks each trail's first and last event
    deterministically; counts per (entry, exit) pair — the classic
    web-analytics table as two lexicon²-bounded aggregates."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy("uuid").agg(
        F.min(F.struct("time", "event_id", "event_type"))["event_type"].alias(
            "entry"
        ),
        F.max(F.struct("time", "event_id", "event_type"))["event_type"].alias(
            "exit"
        ),
    )
    return per.groupBy("entry", "exit").agg(
        F.count(F.lit(1)).alias("trails")
    )


def q151_edit_distance(spark, sf_dir):
    """Character-level near-dup: all doc pairs within Levenshtein
    distance 6 of each other on normalized text — Ed-Join q-gram prefix
    filter for candidates (rarest-gram banding, short-doc length-bucket
    fallback), exact banded-levenshtein verify, on a deterministic
    ~1200-doc md5 panel (exact pairwise edit distance is near-quadratic
    when lengths cluster — the q127 fixed-panel discipline; the
    full-population screens are MinHash/SimHash). Oracle: brute force
    over the |len diff| <= d complete filter (the theorem says outputs
    are identical, so brute-vs-filtered IS the completeness check)."""
    from traildb_spark.operators.curation import hash_bucket

    docs_all = _load(spark, sf_dir, "documents")
    n_all = docs_all.count()
    mod = max(1, (n_all + 1199) // 1200)
    docs = docs_all.filter(hash_bucket(F.col("doc_id"), mod, salt="edpanel:") == 0)
    return dedup.edit_distance_pairs(docs, max_distance=6, q=3)


def q152_survival_table(spark, sf_dir):
    """Kaplan-Meier life table for trail lifetimes: right-censored churn
    (silent > 1 day at observation end = churn event, else censored),
    1-hour lifetime buckets, suffix-cumsum at-risk counts — survival
    analysis as exact integer counts."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    return analytics.survival_table(
        ev, churn_gap_seconds=86400, bucket_seconds=3600
    )


def q153_diurnal_profile(spark, sf_dir):
    """Hour-of-day rhythm per event type: peak hour (tie -> earliest,
    struct-min), peak concentration ppm, active hours, whole-bit
    entropy of the 24-bin histogram — clock-driven vs organic traffic,
    lexicon x 24 rows after the first aggregate."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.diurnal_profile(ev)


def q154_source_balance(spark, sf_dir):
    """Corpus balance card: Gini concentration (ppm) of documents and
    character mass across sources plus the top source's share —
    integer-exact rank-formula Gini, metadata-scale after one
    groupBy(source)."""
    docs = _load(spark, sf_dir, "documents")
    return text.source_balance(docs)


def q155_volume_autocorrelation(spark, sf_dir):
    """Periodicity detection: lag-{1,2,3,6,12,24} Pearson
    autocorrelation of hourly event volume per event type — exact
    integer sub-range moments over the zero-filled global range, three
    IEEE ops + half-up round at the end (q132's exactness contract,
    self-lag form)."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.volume_autocorrelation(ev, bucket_seconds=3600)


def q156_robot_trails(spark, sf_dir):
    """Bot detection by timing regularity: per-trail squared
    coefficient of variation of inter-event gaps as exact ppm
    (decimal(38,0) products, truncating div); is_robot = >= 10 events
    and cv2 <= 10000 ppm. One window pass + one trail aggregate."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id")
    return analytics.robot_trails(ev, min_events=10, max_cv2_ppm=10_000)


def q157_curriculum_order(spark, sf_dir):
    """Curriculum manifest: round-robin interleave of sources in
    descending quality order — sparse sortable position (rank-1)*G+gi,
    two-phase range-partition rank (no whale-source reducer), rerun-
    identical tie-break on doc_id."""
    docs = _load(spark, sf_dir, "documents")
    from traildb_spark.operators import curation

    scored = docs.select(
        "doc_id", "source", text.quality_score(F.col("text")).alias("quality")
    )
    return curation.curriculum_order(
        scored, score_col="quality", group_col="source", id_col="doc_id"
    )


def q158_lexical_richness(spark, sf_dir):
    """Per-source lexical diversity: type-token ratio and hapax-legomena
    rate as exact ppm — template mills vs diverse prose, one
    (source, token) aggregate then a source-lexicon-sized fold."""
    docs = _load(spark, sf_dir, "documents")
    return text.lexical_richness(docs)


def q159_trail_seq_distance(spark, sf_dir):
    """Order-sensitive trail similarity: Levenshtein over event-type
    sequences rendered via a codepoint lexicon map, on a deterministic
    ~40-trail md5 panel (panel-exact quadratic stage; the order-blind
    full-population screen is q127)."""
    from traildb_spark.operators.curation import hash_bucket

    ev_all = _events(spark, sf_dir)
    n_all = ev_all.select("uuid").distinct().count()
    mod = max(3, (n_all + 39) // 40)
    ev = ev_all.filter(hash_bucket(F.col("uuid"), mod, salt="seqpanel:") == 0)
    return trails.trail_sequence_distance(ev, min_similarity_ppm=420000)


def q160_ngram_coverage(spark, sf_dir):
    """Held-out coverage: fraction of the val split's distinct word
    3-grams already present in the train split (q46's 90/10 md5 split
    discipline) — the memorization-vs-generalization aggregate, one
    gram-keyed join on distinct gram sets."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    split = curation.hash_split(
        docs, {"train": 0.9, "val": 0.1}, salt="cov:"
    )
    return text.ngram_coverage(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "val"),
        n=3,
    )


def q161_containment(spark, sf_dir):
    """Asymmetric containment dedup: docs whose char-5-shingle set is
    >= 70% inside ANOTHER doc's set (quote/aggregator/appendix dups
    that Jaccard's union term hides), on a deterministic ~300-doc md5
    panel (containment at a loose threshold over a shared-vocabulary
    corpus is dense by nature — fixed panel keeps the exact stage flat;
    q127 discipline). Super-side-df-ordered prefix filter; brute
    oracle — output identity IS the completeness proof."""
    from traildb_spark.operators.curation import hash_bucket

    docs_all = _load(spark, sf_dir, "documents")
    n_all = docs_all.count()
    mod = max(1, (n_all + 299) // 300)
    docs = docs_all.filter(hash_bucket(F.col("doc_id"), mod, salt="ctpanel:") == 0)
    return dedup.containment_pairs(docs, docs, k=5, threshold=0.7)


def q162_hash_embedding(spark, sf_dir):
    """Model-free doc vectors by the hashing trick: signed token counts
    in md5-bucketed dims — deterministic integer vectors feeding the
    similarity stack without an embeddings table. dim=32."""
    docs = _load(spark, sf_dir, "documents")
    return text.hash_embedding(docs, dim=32)


def q163_burstiness(spark, sf_dir):
    """Fano factor (index of dispersion) of hourly volume per event
    type — Poisson = 1e6 ppm exactly, clocked < 1e6, bursty > 1e6;
    exact integer moments over the zero-filled range."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.burstiness_index(ev, bucket_seconds=3600)


def q164_pnm_decode(spark, sf_dir):
    """REAL netpbm decode: image-kind rows carry P5 (binary, even ids)
    / P2 (ASCII, odd ids) grayscale fixtures with px(y, x) =
    (y*11 + x*17 + id*3) % 256 on a (4 + id%5) x (5 + id%3) canvas —
    gray netpbm is lossless and un-rescaled at maxval 255, so the
    oracle recomputes every stat from the closed form, proving header
    parsing (incl. comments), both sample encodings, and the dispatch."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_pnm

    @F.pandas_udf("binary")
    def pnm_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 4 + i % 5, 5 + i % 3
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 11 + xx * 17 + i * 3) % 256).astype(np.uint8)
            out.append(make_pnm(g, binary=(i % 2 == 0)))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", pnm_payload, cache_name="pnm")
    return multimodal.image_luma_stats(media)


def q165_aiff_decode(spark, sf_dir):
    """AIFF decode: audio-kind rows carry big-endian 16-bit AIFF
    fixtures (80-bit extended rate field) with samples
    s[i] = (i*53 + doc_id*17) % 4001 - 2000, n = 50 + id%40,
    rate = 8000 + 4000*(id%3) — the oracle recomputes every stat from
    the closed form, proving the FORM chunk walk, the f80 rate parse,
    and the shared feature kernel (q69's WAV proof, big-endian
    sibling)."""
    from traildb_spark.operators import multimodal

    @F.pandas_udf("binary")
    def aiff_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n = 50 + i % 40
            rate = 8000 + 4000 * (i % 3)
            s = ((np.arange(n, dtype=np.int64) * 53 + i * 17) % 4001 - 2000).astype(
                "int16"
            )
            out.append(multimodal.make_aiff(s, rate))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "audio", aiff_payload, cache_name="aiff")
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_samples",
        "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"),
        "zcr",
        "peak",
    )


def q166_bmp_decode(spark, sf_dir):
    """BMP decode: image-kind rows carry 8-bit identity-gray-palette
    BI_RGB bitmaps (bottom-up rows, 4-byte stride padding) with
    px(y, x) = (y*13 + x*7 + id*5) % 256 on a (3 + id%6) x (4 + id%4)
    canvas — identity palette makes rounded luma == index, so the
    oracle recomputes every stat from the closed form, proving header
    parse, palette map, stride/flip handling."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_bmp

    @F.pandas_udf("binary")
    def bmp_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 3 + i % 6, 4 + i % 4
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 13 + xx * 7 + i * 5) % 256).astype(np.uint8)
            out.append(make_bmp(g))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", bmp_payload, cache_name="bmp")
    return multimodal.image_luma_stats(media)


def q167_twap(spark, sf_dir):
    """Per-trail time-weighted average of the value column (LOCF
    integral over the trail span): cents integerization, exact
    decimal(38,0) weighted sum, truncating div; single-event trails
    report their own value."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "value")
    return analytics.time_weighted_average(ev)


def q168_ohlc_bars(spark, sf_dir):
    """Hourly OHLC bars of the value column per event type: struct-
    min/max open/close over (time, event_id, cents) — deterministic on
    ties — plus integer high/low; keys x buckets output."""
    ev = _events(spark, sf_dir).select("time", "event_id", "event_type", "value")
    return analytics.ohlc_bars(ev, bucket_seconds=3600)


def q169_trail_value_outliers(spark, sf_dir):
    """Per-trail value anomalies: events > 2 sigma from their OWN
    trail's mean — exact integer k-sigma inequality on cents
    ((n*c - S)^2 > k^2*(n*Q - S^2)); magnitudes reported as doubles
    cast from the exact integers."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "value")
    return analytics.trail_value_outliers(ev, k=2, min_events=5)


def q118_resolve_duplicates(spark, sf_dir):
    """Quality-aware duplicate resolution: SimHash near-dup components
    (q42's pair set) resolved by KEEPING the best quality_score doc per
    cluster (ties -> min doc_id) instead of the arbitrary min-id copy —
    the production "dedup but keep the clean mirror" form. Oracle: q42's
    recursive-CTE components + q31's quality expression + a ROW_NUMBER
    pick, reproduced end-to-end in DuckDB."""
    docs = _load(spark, sf_dir, "documents")
    from traildb_spark.functions.core import md5_60
    pairs = dedup.simhash_pairs(docs, max_hamming=3, token_hasher=md5_60)
    return dedup.resolve_duplicates(
        docs, pairs, score=text.quality_score(F.col("text"))
    )


def q119_recency_scores(spark, sf_dir):
    """Recency-weighted trail engagement: per-uuid exponential decay
    quantized to whole half-life buckets (1 day, t_ref = TIME_HI), summed
    as an EXACT Q40 fixed-point integer — dyadic weights instead of libm
    exp, so the score is bit-identical across engines/partitionings and
    fully oracle-checkable (continuous-decay floats are not)."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    return analytics.recency_scores(ev, t_ref=TIME_HI, half_life=86400)



def q170_cusum_changepoint(spark, sf_dir):
    """Per-event-type CUSUM changepoint over hourly counts: exact
    integer D_i = |n*S_i - i*T| argmax over the zero-filled global
    bucket range (plateau-endpoint candidates, no zero materialization);
    earliest-boundary ties; split rates as events-per-1000-buckets."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.cusum_changepoint(ev, bucket_seconds=3600)



def q171_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-source ascending rank by
    exact whole-bit unigram surprisal, cut into equal-mass head/middle/
    tail buckets ((rank-1)*3 div n) — the classic keep-head-and-middle
    data-selection key, bit-reproducible."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.perplexity_buckets(docs)



def q172_dsir_importance(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): whole-bit log importance
    weight of the English subcorpus (target) over the full corpus (raw)
    under the binary-digit-count unigram model — positive = more
    target-like; exact integers end-to-end."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return curation.dsir_importance(docs, target)


def q173_ab_conversion(spark, sf_dir):
    """Two-proportion z-test between md5-bucket experiment arms: trails
    hash-split 50/50, conversion = any purchase event; z-squared as a
    double over exact-integer terms, rates as exact ppm."""
    from traildb_spark.operators import curation

    ev = _events(spark, sf_dir).select("uuid", "event_type")
    arms = curation.hash_split(ev, {"arm_a": 0.5, "arm_b": 0.5}, id_col="uuid")
    return analytics.ab_conversion_test(
        arms, variant_col="split", target_value="purchase"
    )



def q174_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency slope per source: exact whole-bit OLS of
    log2(freq) on log2(rank) over each source's term table — corpus-
    health signal (natural text fits slope ~ -1)."""
    docs = _load(spark, sf_dir, "documents")
    return text.zipf_slope(docs)


def q175_pagerank(spark, sf_dir):
    """PageRank over the event-transition graph (Q12 fixed-point, 10
    iterations, dangling mass dropped): behavior-flow centrality of
    each event type, bit-reproducible across engines."""
    ev = _events(spark, sf_dir)
    return analytics.pagerank_transitions(
        ev, "event_type", "uuid", "time", "event_id"
    )



def q176_langid_confusion(spark, sf_dir):
    """Language-ID evaluation: confusion matrix of the stopword-overlap
    detector against the labeled lang column — off-table languages
    surface as 'und', the honest dashboard failure mode."""
    docs = _load(spark, sf_dir, "documents")
    return text.langid_confusion(docs)


def q177_rfm_segments(spark, sf_dir):
    """RFM segmentation: exact-quintile recency/frequency/monetary
    scores per trail (two-phase ranks, integer cents) concatenated into
    the classic three-digit segment label."""
    ev = _events(spark, sf_dir).select("uuid", "time", "value")
    return analytics.rfm_segments(ev, t_ref=TIME_HI)



def q178_dedup_sentences(spark, sf_dir):
    """Intra-document sentence dedup (web-pipeline line-dedup step):
    first-occurrence filter inside the sentence array, exact removal
    ppm, text rebuilt — zero shuffles, rows never dropped."""
    docs = _load(spark, sf_dir, "documents")
    return text.dedup_sentences(docs)



def q179_token_stats(spark, sf_dir):
    """Tokenizer fertility per language: whitespace vs BPE-ish token
    totals, chars, and exact derived rates — the per-language budget
    table."""
    docs = _load(spark, sf_dir, "documents")
    return text.token_stats(docs)



def q180_weekly_profile(spark, sf_dir):
    """Day-of-week rhythm per event type: peak day (earliest ties),
    peak ppm, active days, whole-bit entropy — the 7-bin companion of
    the diurnal profile."""
    ev = _events(spark, sf_dir).select("time", "event_type")
    return analytics.weekly_profile(ev)



def q181_sample_exact_by_key(spark, sf_dir):
    """Exactly-k-per-source eval carving: md5-ranked per-key top-k via
    the salted two-phase prune — exact sizes where rate-based
    stratified sampling only hits them in expectation."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents")
    return curation.sample_exact_by_key(
        docs.select("doc_id", "source", "n_chars"), 5, seed="evalk:"
    )



def q182_lsh_recall(spark, sf_dir):
    """ANN-candidate quality report: SRP-LSH near-dup pairs (q38's
    pipeline) scored against the exact cosine pair set (q37's) —
    precision/recall/F1 as exact ppm, one row."""
    emb = _load(spark, sf_dir, "embeddings")
    pred = dedup.embedding_neardup_pairs_portable(
        emb, threshold=0.4, num_planes=24, bands=4
    )
    truth = vectorized.pairwise_cosine_pairs(emb, threshold=0.4)
    return dedup.pair_set_metrics(pred, truth)



def q183_doc_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-5 terms by exact whole-bit
    tf-idf (integer-log idf), ties alphabetical — deterministic
    labeling metadata."""
    docs = _load(spark, sf_dir, "documents")
    return text.doc_keywords(docs, k=5)



def q184_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: top-3 different-label cosine
    neighbors for 10 anchor vectors — one brute topk pass per anchor
    label, corpus never reshuffled."""
    emb = _load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return similarity.hard_negatives(emb, anchors, k=3)



def _au_fixture_payload():
    """AU payload UDF shared by q185/q233: 16-bit BE samples
    s[i] = (i*59 + doc_id*13) % 3601 - 1800, n = 40 + id%50,
    rate = 8000 + 2000*(id%4), with an annotation offset."""
    from traildb_spark.operators import multimodal

    @F.pandas_udf("binary")
    def au_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n = 40 + i % 50
            rate = 8000 + 2000 * (i % 4)
            s = ((np.arange(n, dtype=np.int64) * 59 + i * 13) % 3601 - 1800).astype(
                "int16"
            )
            out.append(multimodal.make_au(s, rate, annotation=b"fx\x00\x00"))
        return pd.Series(out)

    return au_payload


def q185_au_decode(spark, sf_dir):
    """Sun/NeXT .au decode: 16-bit BE fixtures with an annotation
    offset, samples s[i] = (i*59 + doc_id*13) % 3601 - 1800,
    n = 40 + id%50, rate = 8000 + 2000*(id%4) — the oracle recomputes
    every stat from the closed form, proving the header/offset parse
    through the shared feature kernel (q69/q165's third sibling)."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "audio", _au_fixture_payload(),
                         cache_name="au")
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_samples",
        "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"),
        "zcr",
        "peak",
    )



def q186_tga_decode(spark, sf_dir):
    """TGA decode: 8-bit grayscale fixtures alternating uncompressed /
    RLE / bottom-up encodings of the SAME closed form px(y, x) =
    (y*19 + x*5 + id*7) % 256 on a (3 + id%5) x (4 + id%6) canvas —
    identical stats regardless of encoding, proving the RLE packet
    walk and origin flip."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_tga

    @F.pandas_udf("binary")
    def tga_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 3 + i % 5, 4 + i % 6
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 19 + xx * 5 + i * 7) % 256).astype(np.uint8)
            out.append(
                make_tga(g, rle=(i % 2 == 0), top_down=(i % 4 < 2))
            )
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", tga_payload, cache_name="tga")
    return multimodal.image_luma_stats(media)



def q187_ico_decode(spark, sf_dir):
    """ICO favicon decode: classic DIB entries (doubled-height header,
    identity gray palette, AND mask dropped) built from the closed form
    px(y, x) = (y*23 + x*11 + id*3) % 256 on a (4 + id%4) x (4 + id%5)
    canvas — the oracle recomputes every stat from the form, proving
    the directory walk and the synthesized-BMP path."""
    import struct as _struct

    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_bmp

    @F.pandas_udf("binary")
    def ico_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 4 + i % 4, 4 + i % 5
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 23 + xx * 11 + i * 3) % 256).astype(np.uint8)
            bmp = make_bmp(g)
            body = bytearray(bmp[14:])
            _struct.pack_into("<i", body, 8, h * 2)
            and_stride = ((w + 31) // 32) * 4
            d = bytes(body) + b"\x00" * (and_stride * h)
            out.append(
                b"\x00\x00\x01\x00" + _struct.pack("<H", 1)
                + bytes([w % 256, h % 256, 0, 0])
                + _struct.pack("<HHII", 1, 8, len(d), 22) + d
            )
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", ico_payload, cache_name="ico")
    return multimodal.image_luma_stats(media)



def q188_longest_streak(spark, sf_dir):
    """Engagement streaks: longest run of consecutive active days per
    trail via the day − row_number() run anchor; earliest end on ties."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    return analytics.longest_streak(ev)



def q189_peak_concurrency(spark, sf_dir):
    """Peak simultaneous sessions: +1/−1 endpoint sweep over the gap-
    rule session intervals with a two-phase prefix scan (no global
    window); closed intervals, earliest peak time."""
    ev = _events(spark, sf_dir).select("uuid", "time")
    return analytics.peak_concurrency(ev, gap=1800)


def q190_percentiles_by_bucket(spark, sf_dir):
    """p50/p99 of value per (event_type, hour bucket) — the dashboard
    time series form of the sort-free histogram percentile path; exact
    integer nearest-rank selection per cell, no row sort."""
    ev = _events(spark, sf_dir).select("event_type", "time", "value")
    return analytics.percentiles_by_bucket(
        ev, probs=(0.5, 0.99), bucket_seconds=3600, bin_width=10.0
    )


def q191_mad_outliers(spark, sf_dir):
    """Robust per-event-type anomalies: values beyond 5 median-absolute-
    deviations from the key's median — lower-median nearest-rank on the
    cents lattice, broadcast stats, strict integer flag."""
    ev = _events(spark, sf_dir).select("event_type", "uuid", "time", "value")
    return analytics.mad_outliers_by_key(ev, k=5)


def q192_label_separability(spark, sf_dir):
    """Per-label embedding cluster quality: exact Q10-lattice within-
    class scatter, between-centroid numerator, and Fisher-style ppm
    ratio — labels×dims partials only ever shuffle."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.label_separability(emb, q_scale_bits=10)


def q193_interarrival(spark, sf_dir):
    """Per-event-type cadence: p50/p90/p99 of same-type within-trail
    inter-arrival gaps — one lag window, then the sort-free histogram
    lattice at 1-second bins."""
    ev = _events(spark, sf_dir).select("uuid", "time", "event_id", "event_type")
    return analytics.interarrival_percentiles(ev, probs=(0.5, 0.9, 0.99))


def q194_tfidf_cosine(spark, sf_dir):
    """Weighted near-dup pairs: tf·idf cosine ≥ 0.5 on a deterministic
    ~400-doc md5 panel — whole-bit idf weights, cross-multiplied
    decimal lattice threshold, squared-cosine ppm score (q161 panel
    discipline: the all-pairs stage stays flat across SF)."""
    from traildb_spark.operators.curation import hash_bucket

    docs_all = _load(spark, sf_dir, "documents")
    n_all = docs_all.count()
    mod = max(1, (n_all + 399) // 400)
    docs = docs_all.filter(
        hash_bucket(F.col("doc_id"), mod, salt="tfpanel:") == 0
    )
    return dedup.tfidf_cosine_pairs(docs, min_cosine_ppm=500_000)


def q195_pcx_decode(spark, sf_dir):
    """PCX decode: RLE 8-bit fixtures alternating identity-VGA-palette /
    paletteless encodings of the SAME closed form px(y, x) =
    (y*23 + x*3 + id*11) % 256 on a (3 + id%4) x (4 + id%5) canvas —
    identical rounded stats either way, proving the RLE walk, the
    even-bytes_per_line pad, and the palette trailer path."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_pcx

    @F.pandas_udf("binary")
    def pcx_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 3 + i % 4, 4 + i % 5
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 23 + xx * 3 + i * 11) % 256).astype(np.uint8)
            out.append(make_pcx(g, vga_palette=(i % 2 == 0)))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", pcx_payload, cache_name="pcx")
    return multimodal.image_luma_stats(media)


def q196_voc_decode(spark, sf_dir):
    """Creative Voice (.voc) decode: 16-bit type-9 fixtures, odd ids
    split across a type-2 continuation behind a skipped text block —
    same samples either way. s[i] = (i*41 + id*19) % 3801 - 1900,
    n = 45 + id%45, rate = 11025 + 1000*(id%3); the oracle recomputes
    every stat from the closed form (q185's fourth sibling)."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_voc

    @F.pandas_udf("binary")
    def voc_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n = 45 + i % 45
            rate = 11025 + 1000 * (i % 3)
            s = (
                (np.arange(n, dtype=np.int64) * 41 + i * 19) % 3801 - 1900
            ).astype("int16")
            out.append(
                make_voc(s, rate, split=(i % 2 == 1), text=b"fx")
            )
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "audio", voc_payload, cache_name="voc")
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_samples",
        "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"),
        "zcr",
        "peak",
    )


def q197_avi_decode(spark, sf_dir):
    """Uncompressed AVI decode: identity-palette DIB frames with the
    closed form p[f, y*6+x] = (id*5 + f*17 + (y*6+x)*3) % 256 over
    n = 2 + id % 4 frames of 6×5, stride-2 sampling — proving the RIFF
    hdrl/movi walk and the synthesized-BMP frame route through the
    same kernel as q94's Y4M path."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_avi

    @F.pandas_udf("binary")
    def avi_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n, h, w = 2 + i % 4, 5, 6
            base = np.arange(h * w, dtype=np.int64)
            frames = np.stack(
                [((i * 5 + f * 17 + base * 3) % 256).astype(np.uint8).reshape(h, w)
                 for f in range(n)]
            )
            out.append(make_avi(frames, fps=10))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "video", avi_payload, cache_name="avi")
    return multimodal.extract_video_frames(media, every_n=2)


def q198_percentiles_from_counts(spark, sf_dir):
    """Percentiles off pre-aggregated histogram state: value_histogram
    partials → percentiles_from_counts — the live-dashboard consumer of
    the streamed histogram pointer, exercised batch-side at 5.0-wide
    bins (q138's lattice via the from-counts route)."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    per = analytics.value_histogram(ev, bin_width=5.0)
    return analytics.percentiles_from_counts(
        per, probs=(0.5, 0.9, 0.99), bin_width=5.0
    )


def q199_chisq_hour_mix(spark, sf_dir):
    """Independence audit: is the event-type mix the same at every hour
    of day? Per-cell chi-square terms on the exact decimal lattice,
    zero-observed cells first-class (the margins×margins grid is
    lexicon-bounded)."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        ((F.col("time") / 3600).cast("long") % 24).alias("hour"),
    )
    return analytics.contingency_chisq(ev, "event_type", "hour")


def q200_edge_savings(spark, sf_dir):
    """Edge-encoding compressibility per field: how often each field
    repeats its trail predecessor (NULL-safe, the decoder-carry rule) —
    the reference encoder's storage win as a measurable profile; one
    shared-window shuffle."""
    ev = _events(spark, sf_dir)
    return analytics.edge_savings_by_field(
        ev, fields=("event_type", "value", "props")
    )


def q201_ras_decode(spark, sf_dir):
    """Sun raster decode: fixtures cycling RLE/standard × colormap/raw
    over the SAME closed form px(y, x) = (y*29 + x*7 + id*13) % 256 on
    a (4 + id%3) x (3 + id%6) canvas — identical rounded stats across
    all four encodings, proving the byte-run walk, the 0x80 escape,
    the 16-bit row pad, and the equal-RGB colormap planes."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_ras

    @F.pandas_udf("binary")
    def ras_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 4 + i % 3, 3 + i % 6
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 29 + xx * 7 + i * 13) % 256).astype(np.uint8)
            out.append(
                make_ras(g, rle=(i % 2 == 0), colormap=(i % 4 < 2))
            )
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", ras_payload, cache_name="ras")
    return multimodal.image_luma_stats(media)


def q202_media_inventory(spark, sf_dir):
    """Container inventory over a mixed media table: image rows cycle
    tga/pcx/bmp/ras encoders by doc_id % 4 — the magic-byte routing
    report a multimodal ingest runs before choosing decoders (counts
    only; byte totals are encoder-dependent and stay operator-side)."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import (
        make_bmp, make_pcx, make_ras, make_tga,
    )

    @F.pandas_udf("binary")
    def mixed_payload(ids: pd.Series) -> pd.Series:
        makers = [make_tga, make_pcx, make_bmp, make_ras]
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 3 + i % 3, 4 + i % 4
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 7 + xx * 5 + i) % 256).astype(np.uint8)
            out.append(makers[i % 4](g))
        return pd.Series(out)

    media = _media_table(
        spark, sf_dir, "image", mixed_payload, cache_name="mixed"
    )
    inv = multimodal.media_inventory(media.filter(F.col("kind") == "image"))
    return inv.select("container", "n_payloads")


def q203_attribution_decay(spark, sf_dir):
    """Time-decay attribution: purchases split 10000 bp over 1-day
    prefix click/view touches with weights halving per 6h of age —
    pure power-of-two shifts, decimal-lattice floors, remainder to the
    most recent touch (q99's conservation rule with recency bias)."""
    ev = _events(spark, sf_dir)
    return analytics.attribution_decay(
        ev, "purchase", ["click", "view"], half_life=21600, lookback=86400
    )


def q204_qoi_decode(spark, sf_dir):
    """QOI decode: fixtures whose encoder runs the REAL op ladder
    (RUN/INDEX/DIFF/LUMA/RGB chunks) over the closed form
    px(y, x) = (y*13 + x*3 + id*5) % 256 on a (3 + id%5) x (4 + id%4)
    canvas with a run-friendly first column — identical rounded luma
    regardless of which chunk types the encoder picked."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_qoi

    @F.pandas_udf("binary")
    def qoi_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 3 + i % 5, 4 + i % 4
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 13 + xx * 3 + i * 5) % 256).astype(np.uint8)
            out.append(make_qoi(g))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", qoi_payload, cache_name="qoi")
    return multimodal.image_luma_stats(media)


def q205_tiff_decode(spark, sf_dir):
    """Baseline-gray TIFF decode: fixtures cycling PackBits/uncompressed
    × little/big-endian × BlackIsZero/WhiteIsZero with 2-row strips,
    all over the SAME closed form px(y, x) = (y*11 + x*17 + id*7) % 256
    on a (4 + id%4) x (3 + id%5) canvas — identical rounded stats
    across all eight encodings, proving the IFD walk, the strip
    reassembly, the PackBits RLE, and the photometric inversion."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_tiff

    @F.pandas_udf("binary")
    def tiff_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 4 + i % 4, 3 + i % 5
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 11 + xx * 17 + i * 7) % 256).astype(np.uint8)
            out.append(make_tiff(
                g,
                packbits=(i % 2 == 0),
                big_endian=(i % 4 < 2),
                white_is_zero=(i % 8 < 4),
                rows_per_strip=2,
            ))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", tiff_payload, cache_name="tiff")
    return multimodal.image_luma_stats(media)


def q206_midi_decode(spark, sf_dir):
    """SMF MIDI decode into the note table: per-doc fixtures with
    n = 3 + id%7 notes at pitch (id + 5k) % 128, velocity 1 + (id+k)%127,
    onset 240k, duration 120 + (k%4)*60 ticks, spread over 1 + id%2
    tracks — every aggregate (pitch sum/min/max, velocity sum, duration
    mass, span) has a closed form the SQL oracle reproduces, proving
    varint deltas, running status, meta/end-of-track handling, and
    note-on/off pairing."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.multimodal import make_midi

    @F.pandas_udf("binary")
    def midi_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n = 3 + i % 7
            notes = [
                (0, (i + 5 * k) % 128, 1 + (i + k) % 127, 240 * k,
                 120 + (k % 4) * 60)
                for k in range(n)
            ]
            out.append(make_midi(notes, division=480, n_tracks=1 + i % 2))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "audio", midi_payload, cache_name="midi")
    return multimodal.midi_note_stats(
        media.filter(F.col("kind") == "audio")
    ).select(
        "media_id", "division", "n_tracks", "n_notes", "pitch_sum",
        "pitch_min", "pitch_max", "velocity_sum", "dur_sum", "span_ticks",
    )


def q207_field_mi(spark, sf_dir):
    """Whole-bit mutual information between event_type and hour-of-day:
    the feature-dependence score in the binary-digit-count lattice (q82's
    PMI integerization lifted from word bigrams to field pairs), with the
    sign-factored millibits-per-event division both engines agree on."""
    ev = _events(spark, sf_dir).withColumn(
        "hour", F.expr("(time div 3600) % 24").cast("string")
    )
    return analytics.field_mutual_information(ev, "event_type", "hour")


def q208_ordered_pairs(spark, sf_dir):
    """Sequential-pattern support (length-2 PrefixSpan core): trails
    containing src strictly-before dst, exact via the min(src-time) <
    max(dst-time) equivalence — one per-(trail, value) aggregate, the
    pair join on lexicon-bounded per-trail value tables, never events."""
    ev = _events(spark, sf_dir)
    return analytics.ordered_pair_support(ev, "event_type", min_trails=2)


def q209_trail_surprisal(spark, sf_dir):
    """Per-trail Markov surprisal: each prev→cur step costs
    bits(c_prev) − bits(c_pair) whole bits under the corpus's own
    transition model (broadcast, lexicon²-bounded) — the sequence-anomaly
    ranking that complements robot_trails' timing score."""
    ev = _events(spark, sf_dir)
    return analytics.transition_surprisal(
        ev, "event_type", "uuid", "time", "event_id"
    )


def q210_rolling_features(spark, sf_dir):
    """Per-event rolling features (last-5 window over each trail) on the
    cents lattice — the as-of feature-generation pass, one uuid shuffle,
    O(k) window state per trail."""
    ev = _events(spark, sf_dir)
    return analytics.rolling_features(ev, 5, "value", "uuid", "time",
                                      "event_id")


def q211_column_profile(spark, sf_dir):
    """Deequ-style column profile over event_type and props: melt to
    (field, value) rows, ONE map-side-combined aggregate bounded at
    Σ lexicon sizes, modal value with the lexicographic tie rule."""
    ev = _events(spark, sf_dir)
    return analytics.column_profile(ev, ["event_type", "props"])


def q212_flac_decode(spark, sf_dir):
    """FLAC decode (real compressed lossless audio): fixtures cycling
    FIXED order 0-2 / LPC / VERBATIM subframes, 1-2 rice partitions,
    CRC-8/CRC-16-sealed frames, all over the SAME closed form
    s[i] = (i*53 + doc_id*17) % 3001 - 1500, n = 50 + id%60,
    rate = 8000 + 4000*(id%3) — lossless means the oracle recomputes
    every stat from the closed form, whatever encoding the fixture
    picked (q185's contract through a genuinely compressed codec)."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.flac import make_flac

    @F.pandas_udf("binary")
    def flac_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            n = 50 + i % 60
            rate = 8000 + 4000 * (i % 3)
            s = ((np.arange(n, dtype=np.int64) * 53 + i * 17) % 3001
                 - 1500).astype(np.int16)
            out.append(make_flac(
                s, rate, block_size=64,
                order=i % 3,
                partition_order=i % 2,
                lpc=(i % 5 == 0),
                verbatim=(i % 7 == 0),
            ))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "audio", flac_payload,
                         cache_name="flac")
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_samples",
        "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"),
        "zcr",
        "peak",
    )


def q213_label_propagation(spark, sf_dir):
    """Community detection on the transition graph: synchronous LPA,
    5 fixed iterations, symmetrized weights, min-label ties — the
    deterministic (oracle-able) variant; same lexicon-sized driver
    matrix contract as q175's PageRank."""
    ev = _events(spark, sf_dir)
    return analytics.label_propagation(
        ev, "event_type", "uuid", "time", "event_id", iterations=5
    )


def q214_k_anonymity(spark, sf_dir):
    """k-anonymity audit over (event_type, hour-of-day) quasi-
    identifiers: distinct-individual counts per combination, at-risk
    flag below k=30 — the privacy gate next to the PII scrub."""
    from traildb_spark.operators import curation

    ev = _events(spark, sf_dir).withColumn(
        "hour", F.expr("(time div 3600) % 24").cast("string")
    )
    out = curation.k_anonymity(ev, ["event_type", "hour"], k=30)
    return out.select(
        "event_type", "hour", "n_uuids", "n_events",
        F.col("at_risk").cast("int").alias("at_risk"),
    )


def q215_seasonal_anomalies(spark, sf_dir):
    """Seasonally-adjusted anomalies: each (event_type, hour-of-day)
    cell tested against its own per-day baseline with the exact k-sigma
    integer inequality — diurnal rhythm never masquerades as an
    anomaly."""
    ev = _events(spark, sf_dir)
    return analytics.seasonal_anomalies(ev, "event_type", "time", k=3,
                                        period="day")


def q216_webp_decode(spark, sf_dir):
    """WebP-lossless (VP8L) decode: fixtures cycling transform stacks —
    plain literals / subtract-green / predictor mode id%14 /
    color-cache / LZ77 runs — all genuinely entropy-coded (real Huffman
    trees through the code-length code) over the SAME closed form
    px(y, x) = (y*7 + x*19 + id*3) % 256 on a (3 + id%6) x (4 + id%3)
    canvas; lossless, so rounded luma equals the closed form under
    every encoding."""
    from traildb_spark.operators import multimodal
    from traildb_spark.operators.webp import make_webp

    @F.pandas_udf("binary")
    def webp_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            if pd.isna(i):
                out.append(None)
                continue
            i = int(i)
            h, w = 3 + i % 6, 4 + i % 3
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 7 + xx * 19 + i * 3) % 256).astype(np.uint8)
            kw = {}
            if i % 4 == 1:
                kw["subtract_green"] = True
            elif i % 4 == 2:
                kw["predictor_mode"] = i % 14
            elif i % 4 == 3:
                kw["cache_bits"] = 1 + i % 6
                kw["use_backrefs"] = True
            out.append(make_webp(g, **kw))
        return pd.Series(out)

    media = _media_table(spark, sf_dir, "image", webp_payload,
                         cache_name="webp")
    return multimodal.image_luma_stats(media)


def q217_prediction_accuracy(spark, sf_dir):
    """Top-1 next-event accuracy of the corpus Markov model per trail:
    argmax P(dst|src) with struct-min ties, broadcast predictor table,
    exact ppm — q209's evaluation twin."""
    ev = _events(spark, sf_dir)
    return analytics.transition_prediction_accuracy(
        ev, "event_type", "uuid", "time", "event_id"
    )


def q218_forget_report(spark, sf_dir):
    """Right-to-erasure audit: the one-aggregate deletion report
    (requested/present individuals, events removed/kept) for a
    deterministic md5-sampled uuid panel — the privacy bookend to
    q214's k-anonymity gate."""
    from traildb_spark.operators import curation

    ev = _events(spark, sf_dir)
    panel = ev.select("uuid").distinct().filter(
        F.md5(F.concat(F.lit("forget:"), F.col("uuid")))
        < F.lit("18")
    )
    return curation.forget_report(ev, panel)


def q219_state_dwell(spark, sf_dir):
    """Time-in-state attribution: each event owns the interval to its
    trail's next event (LOCF), summed per event_type — where users
    SPEND TIME, not where they click most. One lead window + one
    lexicon-sized aggregate."""
    ev = _events(spark, sf_dir)
    return analytics.state_dwell_times(
        ev, "event_type", "uuid", "time", "event_id"
    )


def q220_pattern_scan(spark, sf_dir):
    """Blocklist audit: exact substring occurrence counts for a
    broadcast pattern table via the replace-length identity — no regex
    engine in the hot path, patterns-sized output."""
    docs = _load(spark, sf_dir, "documents")
    return text.pattern_scan(
        docs, ["table", "scan", "agg", "qu", "slow fast"]
    )


def q221_mixed_script(spark, sf_dir):
    """Homoglyph scan: docs with doc_id % 7 == 0 get their 'a's swapped
    for Cyrillic а (fixture-side translate both engines mirror); the
    operator counts tokens mixing Latin with Cyrillic/Greek codepoint
    ranges — the spoofing / dirty-scrape tell."""
    docs = _load(spark, sf_dir, "documents")
    fixed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.translate(F.col("text"), "a", "а"),
        ).otherwise(F.col("text")).alias("text"),
    )
    return text.mixed_script_tokens(fixed)


def q222_kcenter(spark, sf_dir):
    """Greedy k-center (farthest-point) diverse-subset selection over
    the embeddings table: exact integer Δ² on the floor(v·2^20)
    lattice, min-id ties — any engine picks the identical 5 exemplars."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.kcenter_select(emb, 5)


def q223_benford(spark, sf_dir):
    """Benford first-digit profile of the value column: observed exact
    ppm vs the fixed floored-ppm Benford lattice, all nine digits
    zero-filled — the fabricated-feed screen."""
    ev = _events(spark, sf_dir)
    return analytics.benford_deviation(ev, "value")


def q224_ewma(spark, sf_dir):
    """Exact α=1/2 EWMA per trail over a 32-deep horizon: pure shifts
    + one sign-factored decimal division on the cents lattice —
    bit-identical smoothing in any engine (a float recurrence isn't)."""
    ev = _events(spark, sf_dir)
    return analytics.ewma_features(ev, 32, "value", "uuid", "time",
                                   "event_id")


def q225_json_schema(spark, sf_dir):
    """Semi-structured schema census over props, with deterministic
    corruption injected on event_id % 13 == 0 (strip the leading '{')
    so the __invalid__ row counts real parse failures both engines
    reproduce."""
    ev = _events(spark, sf_dir)
    fixed = ev.select(
        F.when(
            F.col("event_id") % 13 == 0,
            F.substring(F.col("props"), 2, 10_000_000),
        ).otherwise(F.col("props")).alias("props")
    )
    return analytics.json_schema_report(fixed, "props")


def q226_conversion_paths(spark, sf_dir):
    """Top journey shapes into purchase: the last ≤3 click/view touches
    per conversion, oldest→newest, counted per path — attribution's
    per-channel totals re-expanded into sequences."""
    ev = _events(spark, sf_dir)
    return analytics.conversion_paths(
        ev, "purchase", ["click", "view"], n_last=3, lookback=86400
    )


def q227_mmr(spark, sf_dir):
    """Maximal Marginal Relevance top-5 for query vec_id 0 at λ=70%:
    relevance vs redundancy on the floor(v·2^20) dot lattice — the
    diversity-aware retrieval classic, bit-identical in any engine."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.mmr_select(emb, query_id=0, k=5, lambda_pct=70)


def q228_window_cooccurrence(spark, sf_dir):
    """±2-window unordered co-occurrence with whole-bit PMI — the
    word2vec-context statistic; q82's adjacent bigrams are the
    window=1, ordered special case. Zero-shuffle pair derivation
    (one slice-zip per offset)."""
    docs = _load(spark, sf_dir, "documents")
    return text.window_cooccurrence(docs, window=2, min_count=50)


def q229_weighted_sample(spark, sf_dir):
    """Deterministic weight-proportional systematic sampling (weights =
    char counts, k = 100): stride cuts on the exact integer weight
    axis, offsets from the two-phase prefix sum — no floats, no RNG,
    rerun-identical."""
    from traildb_spark.operators import curation

    docs = _load(spark, sf_dir, "documents").withColumn(
        "weight", F.length("text").cast("long")
    )
    return curation.weighted_systematic_sample(docs, k=100, shard_size=100)


def q230_run_lengths(spark, sf_dir):
    """Same-state run-length histogram per event_type — q200's repeat
    ratio expanded to the full distribution (the reference edge
    encoding's exact payoff profile)."""
    ev = _events(spark, sf_dir)
    return analytics.run_length_distribution(
        ev, "event_type", "uuid", "time", "event_id"
    )


def q231_kwic(spark, sf_dir):
    """KWIC concordance for 'table' (±3 tokens, ≤10 hits/doc): the
    corpus-inspection view, one posexplode with the match filter on the
    exploded token."""
    docs = _load(spark, sf_dir, "documents")
    return text.keyword_in_context(docs, "table", window_tokens=3,
                                   max_hits_per_doc=10)


def q232_lorenz(spark, sf_dir):
    """Activity-concentration Lorenz curve at deciles: cumulative event
    share of the bottom i/10 of trails, exact ppm — ranks/cumsums via
    the two-phase range-partition construction, never a global window."""
    ev = _events(spark, sf_dir)
    return analytics.lorenz_points(ev, n_points=10)


def q233_audio_quality(spark, sf_dir):
    """Audio curation gates over the q185 AU fixtures: frame-silence
    profile, clip counts, exact DC offset — every stat recomputable
    from the closed-form samples s[i] = (i*59 + id*13) % 3601 - 1800."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "audio", _au_fixture_payload(),
                         cache_name="au")
    return multimodal.audio_quality_stats(
        media, frame_samples=16, silence_rms=600, clip_level=1700
    )


def q234_image_quality(spark, sf_dir):
    """Image curation gates over the q49/q70 PNG fixtures: exact
    variance numerator, gradient energy, extreme-pixel counts — every
    output recomputable from px(y, x) = (y*17 + x*31 + id) % 256."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "image", _png_fixture_payload(),
                         cache_name="png")
    return multimodal.image_quality_stats(media)


def q235_adoption_curve(spark, sf_dir):
    """Per-event-type adoption: trails first touching each value per
    day + the running cumulative — growth accounting from one
    per-(trail, value) min-time aggregate."""
    ev = _events(spark, sf_dir)
    return analytics.adoption_curve(ev, "event_type", 86400)


def _tdb_fixture(spark, sf_dir):
    """Native-.tdb fixture: the canonical events table exported once per
    (sf, version) to the reference C library's own single-file tar
    package via sources.tdbfile.write_tdb (literal-only spec-valid
    encoding, cross-checked against the reference decoder in
    tests/test_tdbfile.py). uuid = user_id zero-padded to 32 hex
    (deterministic, oracle-reproducible via lpad); event_id rides as a
    string field so the aggregate below can prove integer-exact
    round-trip fidelity."""
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|tdbimport|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    os.makedirs("/tmp/traildb_spark_media_cache", exist_ok=True)
    path = f"/tmp/traildb_spark_media_cache/tdbimport-{key}.tdb"
    if not os.path.exists(path):
        from traildb_spark.sources.tdbfile import write_tdb

        ev = _events(spark, sf_dir).select(
            F.lpad("uuid", 32, "0").alias("uuid"),
            "time",
            "event_type",
            F.col("event_id").cast("string"),
        )
        tmp = path + ".tmp"
        write_tdb(
            (tuple(r) for r in ev.toLocalIterator()),
            ["event_type", "event_id"],
            tmp,
            package=True,
        )
        os.replace(tmp, path)
    return path


def q236_tdb_import(spark, sf_dir):
    """Native TrailDB ingest (reference tdb_open src/tdb.c:298-393 +
    the full decode stack src/tdb_decode.c:227-329): the events table
    exported to a REAL .tdb tar package (fixture above), re-opened with
    TrailDataset.open_tdb — driver parses the TOC, executors decode
    trail byte-ranges — then aggregated per trail. The DuckDB oracle
    computes the same aggregate from the ORIGINAL parquet, so any event
    lost or corrupted anywhere in the encode→package→decode loop breaks
    the hash. This is the migration query: a TrailDB user's artifact in,
    engine DataFrame out."""
    from traildb_spark.dataset import TrailDataset

    path = _tdb_fixture(spark, sf_dir)
    ev = TrailDataset.open_tdb(spark, path).df
    return ev.groupBy("uuid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("time").alias("first_time"),
        F.max("time").alias("last_time"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(F.col("event_id").cast("long")).alias("id_sum"),
    )


def q237_bpe_train(spark, sf_dir):
    """Tokenizer TRAINING: learn BPE merges from the corpus (Sennrich
    2016) — corpus-scale work is one tokenize+count shuffle, the merge
    rounds run on the vocabulary-bounded word table with a 1-row argmax
    per round. FULLY oracle-checked despite being iterative: the DuckDB
    twin unrolls the 8 rounds as CTE pairs and replays the greedy merge
    as a list fold (_bpe_oracle); a pure-Python BPE reference double-
    checks in tests/test_dedup_text.py."""
    docs = _load(spark, sf_dir, "documents")
    return text.bpe_train(docs, num_merges=8)


def q238_quality_classifier(spark, sf_dir):
    """Model-based quality gate SHAPE (fastText/logreg): hash tokens,
    sum integer weights, threshold — the trained-weights path is the
    same plan with a broadcast join. Default weights derive from the
    token hash (md5_60 % 17 − 8), so the oracle re-derives every score
    bit-for-bit."""
    docs = _load(spark, sf_dir, "documents")
    return text.hashed_linear_score(docs)


def q239_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility audit by DETECTED language (q32's langid):
    subwords per word and chars per subword, exact integer ppm via
    `div` (1e6·Σ outruns double's 53 bits long before int64)."""
    docs = _load(spark, sf_dir, "documents")
    return text.tokenizer_fertility(docs)


def q240_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the SimHash near-dup graph (q36's
    edges): degree-oriented wedge join — each triangle counted once at
    its lowest-degree corner, hub fan-out bounded by O(√|E|) per node.
    Oracle: brute pair CTE + canonical a<b<c triangle join."""
    docs = _load(spark, sf_dir, "documents")
    from traildb_spark.functions.core import md5_60

    # hamming ≤ 6 (wider than q36's 3): the radius where the sf
    # fixtures' near-dup graph actually closes triangles
    edges = dedup.simhash_pairs(docs, max_hamming=6, token_hasher=md5_60)
    return analytics.triangle_count(edges)


def q241_simpson_diversity(spark, sf_dir):
    """Per-source lexical concentration (Simpson index over token
    frequencies, exact ppm on a decimal(38,0) lattice): template/clone
    -heavy sources surface as high concentration before any dedup
    runs."""
    docs = _load(spark, sf_dir, "documents")
    return text.simpson_diversity(docs)


def q242_cross_source_contamination(spark, sf_dir):
    """Source-pair 13-gram leakage matrix (mirror/syndication
    detection): distinct (source, gram-hash) reduction first, pair join
    keyed on the uniform 60-bit hash, containment ppm of the smaller
    side — the step BEFORE benchmark decontamination (q47) in a real
    curation audit."""
    docs = _load(spark, sf_dir, "documents")
    return curation.cross_source_contamination(docs, n=13)


def q243_audio_fingerprint_dedup(spark, sf_dir):
    """Acoustic-fingerprint dedup buckets (the audio sibling of q94's
    pHash): decoded PCM → exact integer frame energies → energy-delta
    sign bits → plain fingerprint groupBy — exact-dedup shape, no pair
    join. The oracle recomputes energies and bits from the AU closed
    form s[i] = (i*59 + id*13) % 3601 − 1800."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "audio", _au_fixture_payload(),
                         cache_name="au")
    fp = multimodal.audio_fingerprints(media, frame_samples=16)
    return fp.groupBy("n_frames", "fingerprint").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("media_id").alias("canonical_id"),
    )


def q244_scene_changes(spark, sf_dir):
    """Scene-cut detection over REAL decoded Y4M (q94's fixture,
    p[f, i] = (id*7 + f*13 + i) % 256 on 2+id%4 frames of 8×4): flag
    frames whose |Δ luma_sum|·1000 > 12000·n_px — exact integers, no
    float mean. The keyframe question a video-captioning pipeline asks
    first; the oracle recomputes every frame sum from the closed
    form."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "video", _y4m_fixture_payload(),
                         cache_name="y4m")
    return multimodal.scene_changes(media, min_avg_delta_milli=12_000)


def q245_mixture_plan(spark, sf_dir):
    """Static training-mixture planning: per-source token inventories
    (one tokenize+count pass) against target shares with a 4-epoch
    repetition cap — planned tokens, epochs, and EXPLICIT deficits on
    the exact ppm lattice (floor division end-to-end)."""
    docs = _load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(text.token_count(F.col("text"))).alias("n_tokens")
    )
    targets = {"src0": 300_000, "src1": 250_000, "src2": 200_000,
               "src3": 150_000, "src4": 100_000}
    return curation.plan_mixture(
        counts, targets, budget_tokens=1_000_000, max_epochs_ppm=4_000_000
    )


def q246_sim_topk_sq8(spark, sf_dir):
    """ANN top-k over the SCALAR-QUANTIZED (int8-grid) corpus — the
    memory-compression scale path (FAISS-SQ8 shape) beside LSH (q53)
    and IVF (q54): per-dim [lo,hi] calibration in one aggregation,
    integer-dot candidate scan over 0..255 codes (4x smaller than
    float32), exact quantized-cosine rerank of the 20 survivors. Every
    step integer-or-IEEE-identical, so candidates AND ranks oracle-check
    bit-for-bit."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.sq8_topk(emb, queries, k=5, rerank=20)


def q247_readability(spark, sf_dir):
    """Per-doc Flesch-class readability on the exact milli lattice
    (regexp counts stay JVM-side; BIGINT div end-to-end) — the classic
    pre-LLM quality prior used to bucket curricula."""
    docs = _load(spark, sf_dir, "documents")
    return text.readability_scores(docs)


def q248_markov_stationary(spark, sf_dir):
    """Stationary state mix of the per-trail transition chain: 4 rounds
    of integer power iteration (ppm lattice, dangling self-loops) on the
    lexicon²-bounded edge table — the long-run complement to q59's
    one-step matrix. Oracle unrolls the rounds as CTEs."""
    ev = _events(spark, sf_dir)
    return analytics.markov_stationary(
        ev, "event_type", "uuid", "time", "event_id", iters=4
    )


def q249_lagged_crosscorr(spark, sf_dir):
    """Lead/lag Pearson cross-correlation of click vs purchase hourly
    volumes at lags 0..6 over the DENSE hour grid (missing hours are
    real zeros). Moment sums exact int64; corr_micro is the only double
    step (exact casts + correctly-rounded sqrt/div, bit-stable across
    engines)."""
    ev = _events(spark, sf_dir)
    return analytics.lagged_crosscorr(ev, "click", "purchase", max_lag_hours=6)


def q250_prefix_dedup(spark, sf_dir):
    """Truncation-duplicate groups (same first-12-token prefix): the
    crawl pathology exact hashing misses. Exact-dedup plan shape — one
    groupBy on the 60-bit prefix hash."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.prefix_dup_groups(docs, n_tokens=12)


def q251_template_dedup(spark, sf_dir):
    """Template families by token-length SHAPE signature (digit/short/
    medium/long/punct classes): boilerplate generators produce distinct
    texts with identical shapes. distinct-text counts separate true
    templates from exact clones."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.template_signature_groups(docs)


def q252_ngram_novelty(spark, sf_dir):
    """Per-doc 13-gram novelty vs everything earlier in the corpus
    (arrival order): the curriculum/repeat-downweighting signal between
    exact dedup and corpus-level vocab growth (q123). Grams travel as
    60-bit hashes; novelty is exact ppm."""
    docs = _load(spark, sf_dir, "documents")
    return curation.ngram_novelty(docs, n=13)


def q253_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-users sketch per event type — the third
    sketch family beside count-min (q93) and HLL (q131), deterministic
    by construction (md5_60 order statistics), so estimator AND exact
    calibration column oracle-check bit-for-bit."""
    ev = _events(spark, sf_dir)
    return analytics.kmv_distinct(ev, "uuid", keys=("event_type",), k=64)


def q254_audio_gain(spark, sf_dir):
    """Loudness-normalization audit over REAL decoded AU PCM: exact
    integer RMS floor (isqrt), milli gain to target RMS 20000, integer
    clip test (mixed outcomes across ids). The oracle recomputes
    everything from the closed form s[i] = (i*59 + id*13) % 3601 - 1800."""
    from traildb_spark.operators import multimodal

    media = _media_table(spark, sf_dir, "audio", _au_fixture_payload(),
                         cache_name="au")
    # target 20000 sits just above the fixture's ~1039 RMS x 1800 peak
    # headroom, so the clip flag is exercised BOTH ways across ids
    return multimodal.audio_gain_report(media, target_rms=20000)


def q255_stopword_discovery(spark, sf_dir):
    """Corpus-driven stopword list by DOCUMENT frequency (>= 60% of
    docs): the per-corpus replacement for fixed stopword lists feeding
    the q31/q72 quality gates. Exact ppm."""
    docs = _load(spark, sf_dir, "documents")
    return text.stopword_discovery(docs, min_df_ppm=600_000)


def q256_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: revenue of orders placed before / shipped after a
    date, top-10 by revenue with full deterministic tiebreaks. Both
    filters reach the scans (pushdown) BEFORE the fact-fact join; the
    join shuffles only filtered keys + two money columns."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    cut = F.lit("1998-06-15")
    return (
        li.filter(F.col("l_shipdate") > cut)
        .join(o.filter(F.col("o_orderdate") < cut),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                     4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


def q257_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue where the customer and the line's
    supplier sit in the SAME nation — the classic co-located-join
    probe. Dims broadcast (customer/supplier/nation never shuffle the
    fact); the nation equality is applied as a post-broadcast filter,
    so the only corpus-scale exchange is the lineitem⋈orders key
    shuffle."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = _load(spark, sf_dir, "customer")
    s = _load(spark, sf_dir, "supplier")
    n = _load(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q258_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape by ship month: share of revenue from PROMO
    parts. Part is a broadcast dim; the share divides the two
    ALREADY-ROUNDED sums so the float division is bit-stable across
    engines."""
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    m = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                          .otherwise(F.lit(0.0))), 4).alias("promo_revenue"),
            F.round(F.sum(rev), 4).alias("total_revenue"),
        )
    )
    return m.withColumn(
        "promo_share",
        F.round(F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 4),
    )


def q259_label_confusion(spark, sf_dir):
    """Pairwise label-centroid cosine matrix — which embedding classes
    are entangled with which (the pairwise complement to q192's
    within/between separability). Centroid cosine == SUM-vector cosine,
    so the whole matrix is exact int64 sums + one guarded int→double
    cast per pair."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.label_centroid_cosines(emb, q_scale_bits=10)


def q260_dedup_impact(spark, sf_dir):
    """Per-source dedup cost accounting: docs/tokens removed by exact
    dedup, then by MinHash near-dup among exact survivors (greedy
    lower-id rule — deterministic and SQL-checkable; clustering stays
    q42/q118). The report a curation review reads next to the mixture
    plan (q245)."""
    docs = _load(spark, sf_dir, "documents")
    return curation.dedup_impact_report(docs)


def q261_neardup_audit_sample(spark, sf_dir):
    """Near-dup QA sample — the human-review step of a dedup rollout:
    a deterministic md5 20% sample of LSH CANDIDATE pairs (passing AND
    failing verification), each with its exact Jaccard and verdict.
    The sampled pass rate estimates LSH precision; the failing rows are
    exactly what reviewers need to tune the threshold. Threshold-0 +
    no-prune keeps every banded candidate visible; the sample gate is
    the shared md5_60 family so the same pairs come back in any rerun,
    engine, or audit."""
    from traildb_spark.functions.core import md5_60

    docs = _load(spark, sf_dir, "documents")
    # gate pushed BEFORE the exact verify (id-only predicate): 5x fewer
    # gram recomputes — identical output to filtering afterwards
    gate = lambda a, b: md5_60(  # noqa: E731
        F.concat(a.cast("string"), F.lit(":"), b.cast("string"))
    ) % 100 < 20
    pairs = dedup.minhash_lsh_pairs_portable(
        docs, threshold=0.0, sig_prune=False, max_bucket=256,
        pair_filter=gate,
    )
    return pairs.select(
        "id_a", "id_b", "jaccard",
        (F.col("jaccard") >= 0.5).alias("passes"),
    )


def q262_sim_topk_jl(spark, sf_dir):
    """ANN top-k over Johnson-Lindenstrauss ±1 projections (Achlioptas
    2001) — DIMENSION compression beside SQ8's precision compression
    (q246): 64→16-dim exact integer projections, reduced-space cosine
    candidates, full-lattice exact rerank. Candidates AND ranks
    oracle-checked."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.jl_topk(emb, queries, k=5, rerank=20, out_dim=16)


def q263_ensemble_neardup(spark, sf_dir):
    """High-precision ensemble dedup: pairs flagged by BOTH the lexical
    channel (MinHash-banded Jaccard ≥ 0.5, q44's pipeline) and the
    n-gram containment channel — the two-signal agreement rule a
    production rollout uses when a false removal is costlier than a
    miss. Pure inner join of the two verified pair sets on the
    canonical (id_a, id_b) key; each channel keeps its own candidates
    and verify, so the ensemble costs no new corpus pass."""
    docs = _load(spark, sf_dir, "documents")
    # pair-scale table consumed three times (two id semi-joins + the
    # final join): materialize once or the whole minhash pipeline
    # re-executes per consumer
    lex = dedup._materialize(
        dedup.minhash_lsh_pairs_portable(
            docs, sig_prune=True, max_bucket=256
        ).select("id_a", "id_b", "jaccard")
    )
    # the second channel VERIFIES the first channel's pairs — gram sets
    # are built only for flagged ids (pair-scale, never corpus-pair
    # scale; running the full n-gram pipeline at threshold 0.5 instead
    # costs ~4x: prefix filtering has no teeth at loose thresholds).
    # Grams travel as md5_60 hashes from the Arrow kernel — the
    # interpreted slice+array_join formulation costs ~10s at sf0.1.
    ids = lex.select(F.col("id_a").alias("gid")).union(
        lex.select(F.col("id_b").alias("gid"))
    ).distinct()
    hit = docs.join(ids, docs.doc_id == F.col("gid"), "left_semi")
    grams = hit.select(
        F.col("doc_id").alias("gid"),
        curation.md5_word_ngram_hashes(F.col("text"), 3).alias("g"),
    )
    ga = grams.select(F.col("gid").alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("gid").alias("id_b"), F.col("g").alias("g_b"))
    # |A ∪ B| = |A| + |B| − |A ∩ B|: the md5_word_ngram_hashes arrays are
    # per-doc distinct, so the union size is arithmetic — the former
    # array_distinct(concat(...)) materialized a fresh array per pair
    gram_inter = F.size(
        F.array_intersect(F.col("g_a"), F.col("g_b"))
    ).cast("double")
    gram_j = F.round(
        gram_inter
        / ((F.size("g_a") + F.size("g_b")).cast("double") - gram_inter),
        6,
    )
    return (
        lex.join(ga, "id_a").join(gb, "id_b")
        .withColumn("gram_jaccard", gram_j)
        .filter(F.col("gram_jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard", "gram_jaccard")
    )


def q264_threshold_sweep(spark, sf_dir):
    """Dedup threshold tuning curve: from ONE candidate+verify pass
    (threshold-0, no prune — q261's audit set without the sample gate),
    the pair count surviving each candidate threshold 0.3..0.9 — the
    table a curation review reads to pick the rollout threshold. One
    extra groupBy over the verified pairs; the corpus is scanned
    once."""
    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs_portable(
        docs, threshold=0.0, sig_prune=False, max_bucket=256
    )
    ths = spark.createDataFrame(
        [(t,) for t in (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)],
        "threshold double",
    )
    return (
        pairs.crossJoin(F.broadcast(ths))
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_b").alias("n_docs_removed"),
        )
        .orderBy("threshold")
    )


def q265_sim_topk_jl_sq8(spark, sf_dir):
    """STACKED compression ANN: JL 64→16 dims (q262), then SQ8 on the
    reduced space (q246) — the candidate scan reads 16 BYTES per vector
    (16× less than float32), proving the composition both single-stage
    operators advertise. Candidates AND ranks oracle-checked."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.jl_sq8_topk(emb, queries, k=5, rerank=20, out_dim=16)


def _sq8_index_path(spark, sf_dir):
    """Build-once SQ8 index artifact for this sf_dir (the served form
    of q246's per-run calibration): codes/ (1 byte/dim + norm), full/
    (q20 lattice range-sorted by corpus_id), calibration sidecar with
    staleness fingerprints. Cached like the media fixtures."""
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|sq8index|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    os.makedirs("/tmp/traildb_spark_media_cache", exist_ok=True)
    path = f"/tmp/traildb_spark_media_cache/sq8index-{key}"
    if not os.path.exists(os.path.join(path, similarity.SQ8_META_FILE)):
        emb = _load(spark, sf_dir, "embeddings")
        similarity.save_sq8_index(emb, path)
    return path


def q266_sq8_prebuilt(spark, sf_dir):
    """ANN top-k against the PERSISTED SQ8 artifact (save_sq8_index /
    sq8_topk_prebuilt) — the 100 TB deployment form of q246: codes are
    computed once and served, the probe's candidate stage scans only
    the 1-byte/dim code table, and the rerank reaches full precision
    via a bounded IN-list pushed into the range-sorted full/ layout
    (point reads). Bit-identical to the direct run, so the oracle is
    exactly q246's SQL — candidates AND ranks reproduce from the raw
    embeddings table."""
    path = _sq8_index_path(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.sq8_topk_prebuilt(spark, path, queries, k=5, rerank=20)


def _jl_sq8_index_path(spark, sf_dir):
    """Build-once stacked JL→SQ8 artifact (16 bytes/vector) for this
    sf_dir — the served form of q265, cached like the SQ8 index."""
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|jlsq8index|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    os.makedirs("/tmp/traildb_spark_media_cache", exist_ok=True)
    path = f"/tmp/traildb_spark_media_cache/jlsq8index-{key}"
    if not os.path.exists(os.path.join(path, similarity.SQ8_META_FILE)):
        emb = _load(spark, sf_dir, "embeddings")
        similarity.save_jl_sq8_index(emb, path, out_dim=16)
    return path


def q269_jl_sq8_prebuilt(spark, sf_dir):
    """ANN top-k against the PERSISTED stacked JL→SQ8 artifact
    (save_jl_sq8_index / jl_sq8_topk_prebuilt) — q265's 16-byte-per-
    vector candidate scan served from a build-once code table with the
    staleness-guarded sidecar. Bit-identical to the direct run, so the
    oracle is q265's SQL verbatim."""
    path = _jl_sq8_index_path(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.jl_sq8_topk_prebuilt(spark, path, queries, k=5,
                                           rerank=20)


def _sq8_appended_index_path(spark, sf_dir):
    """Build-once SQ8 artifact exercising the APPEND path: base index
    over the embeddings table, then append_sq8_index with clones of
    vec_id 5..24 under ids +1,000,000 — clones are inside the frozen
    grid's envelope by construction, so the appended artifact is
    bit-identical to a rebuild on the union (the append parity law,
    test_append_sq8_index_parity_and_refusal)."""
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|sq8append|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    os.makedirs("/tmp/traildb_spark_media_cache", exist_ok=True)
    path = f"/tmp/traildb_spark_media_cache/sq8append-{key}"
    # cache validity requires the APPENDED state, not just the base
    # sidecar: a run interrupted between save and append would otherwise
    # pin a delta-less artifact in /tmp forever (ADVICE r9)
    if not _appended_cache_ok(
            os.path.join(path, similarity.SQ8_META_FILE)):
        import shutil
        shutil.rmtree(path, ignore_errors=True)
        emb = _load(spark, sf_dir, "embeddings")
        similarity.save_sq8_index(emb, path)
        delta = emb.filter(
            (F.col("vec_id") >= 5) & (F.col("vec_id") < 25)
        ).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
        similarity.append_sq8_index(delta, path)
    return path


def _appended_cache_ok(sidecar_path) -> bool:
    """True iff a cached append-exercising artifact is COMPLETE: its
    sidecar exists and records at least one committed append (the
    sidecar rewrite is the append's last step, so appends>=1 implies
    the delta's files and fingerprints are all in place)."""
    import json
    import os

    if not os.path.exists(sidecar_path):
        return False
    try:
        with open(sidecar_path) as fh:
            return int(json.load(fh).get("appends", 0)) >= 1
    except (OSError, ValueError):
        return False


def q270_sq8_append(spark, sf_dir):
    """Incremental index maintenance: probe an SQ8 artifact that grew by
    APPEND (append_sq8_index — the reference's tdb_cons_append
    build-amortization, src/tdb_cons.c:574-657) instead of a rebuild.
    The delta encodes on the FROZEN calibration grid; in-envelope deltas
    (clones here) leave the union's per-dim min/max unchanged, so the
    oracle is q246's SQL over embeddings UNION ALL the clones — the
    hash match certifies the appended artifact is bit-identical to a
    from-scratch build on the union, candidates and ranks included."""
    path = _sq8_appended_index_path(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.sq8_topk_prebuilt(spark, path, queries, k=5, rerank=20)


def _mh_appended_index_path(spark, sf_dir):
    """Build-once MinHash artifact exercising the APPEND path: base
    index over doc_id % 4 == 0, then append_minhash_index with
    doc_id % 4 == 2 — the union is exactly the even-doc_id corpus, and
    the fixed hash family makes append ≡ rebuild unconditionally."""
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|mhappend|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    os.makedirs("/tmp/traildb_spark_media_cache", exist_ok=True)
    path = f"/tmp/traildb_spark_media_cache/mhappend-{key}"
    # same appended-state gate as _sq8_appended_index_path: never pin a
    # half-built (append-less) artifact in the /tmp cache
    if not _appended_cache_ok(os.path.join(path, dedup.MINHASH_META_FILE)):
        import shutil
        shutil.rmtree(path, ignore_errors=True)
        docs = _load(spark, sf_dir, "documents")
        dedup.save_minhash_index(
            docs.filter(F.col("doc_id") % 4 == 0), path,
            shingle_k=5, num_hashes=16, bands=4)
        dedup.append_minhash_index(
            docs.filter(F.col("doc_id") % 4 == 2), path)
    return path


def q271_minhash_append(spark, sf_dir):
    """Incremental MinHash-index maintenance: q116's daily-crawl dedup
    served by a persisted signature artifact that GREW BY APPEND
    (append_minhash_index — base over doc_id%4==0, appended delta
    doc_id%4==2; the reference's tdb_cons_append build-amortization,
    src/tdb_cons.c:574-657). The portable hash family is fixed, so the
    appended artifact is unconditionally bit-identical to a rebuild on
    the union — which is exactly the even-doc_id corpus, so the oracle
    is the q116 cross-corpus SQL at threshold 0.25 (at 16 hashes / 4
    bands the sig-prune cutoff self-disables there, matching the
    pruneless prebuilt probe)."""
    path = _mh_appended_index_path(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.fuzzy_dedup_against_prebuilt(
        spark, path, new, threshold=0.25)


def _sq8_compacted_index_path(spark, sf_dir):
    """Build-once COMPACTED SQ8 artifact: q270's appended artifact
    re-laid-out by compact_code_index (new generation dirs, sidecar
    repointed). Compaction is a pure re-layout on the frozen grid, so
    probes are bit-identical to the appended artifact's — q272's full
    oracle (q270's SQL) certifies that end to end."""
    import json
    import os
    import shutil

    src = _sq8_appended_index_path(spark, sf_dir)
    path = src + "-compacted"
    sidecar = os.path.join(path, similarity.SQ8_META_FILE)
    ok = False
    if os.path.exists(sidecar):
        try:
            with open(sidecar) as fh:
                ok = int(json.load(fh).get("compactions", 0)) >= 1
        except (OSError, ValueError):
            ok = False
    if not ok:
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(src, path)
        similarity.compact_code_index(spark, path)
    return path


def q272_sq8_compact(spark, sf_dir):
    """Index-layout compaction: q270's appended SQ8 artifact after
    compact_code_index (generation-dir re-layout, sidecar-as-pointer —
    the reference's build-amortization family, src/tdb_cons.c:574-657).
    The re-layout is bit-neutral (frozen grid, no recalibration), so
    the oracle is exactly q270's SQL: the hash match certifies the
    compacted artifact serves results identical to a from-scratch
    build on the union."""
    path = _sq8_compacted_index_path(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.sq8_topk_prebuilt(spark, path, queries, k=5, rerank=20)


def _mh_compacted_index_path(spark, sf_dir):
    """Build-once COMPACTED MinHash artifact — q271's appended artifact
    through compact_minhash_index, cached like its source."""
    import json
    import os
    import shutil

    src = _mh_appended_index_path(spark, sf_dir)
    path = src + "-compacted"
    sidecar = os.path.join(path, dedup.MINHASH_META_FILE)
    ok = False
    if os.path.exists(sidecar):
        try:
            with open(sidecar) as fh:
                ok = int(json.load(fh).get("compactions", 0)) >= 1
        except (OSError, ValueError):
            ok = False
    if not ok:
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(src, path)
        dedup.compact_minhash_index(spark, path)
    return path


def q273_minhash_compact(spark, sf_dir):
    """MinHash-index compaction: q271's appended artifact after
    compact_minhash_index — pure re-layout (fixed hash family, params
    in the sidecar), so the oracle is exactly q271's SQL and the hash
    match is the compaction-parity certificate."""
    path = _mh_compacted_index_path(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.fuzzy_dedup_against_prebuilt(
        spark, path, new, threshold=0.25)


def _zdb_path(spark, sf_dir):
    """Build-once finalized dataset WITH the z-ordered auxiliary index
    (TrailDataset.build_index = the reference's optional index artifact,
    tdbcli/tdb_index.c:721-779): events in canonical form plus an
    hour-of-day column so the index covers a 2-column conjunctive
    filter; small parquet blocks so z-order pruning has row groups to
    skip. Cached like the media fixtures."""
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|zdb|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    os.makedirs("/tmp/traildb_spark_media_cache", exist_ok=True)
    path = f"/tmp/traildb_spark_media_cache/zdb-{key}"
    if not os.path.exists(os.path.join(path, "_traildb_meta.json")):
        ev = _events(spark, sf_dir).select(
            "uuid", "time", "event_type",
            (F.expr("time div 3600") % 24).cast("string").alias("hod"),
        )
        TrailDataset.from_dataframe(ev).finalize(path, mode="overwrite")
        TrailDataset.build_index(
            spark, path, ["event_type", "hod"],
            parquet_block_bytes=64 * 1024,
        )
    return path


def q267_zindex_routing(spark, sf_dir):
    """CNF filter served END-TO-END by the z-ordered auxiliary index
    (the reference's `tdb index` + auto-discovery loop,
    tdbcli/tdb_index.c:637-662): open() discovers <db>/_zindex, the
    router sends the covered 2-column conjunctive filter there (plan-
    audited in test_plans.py::test_q267_routes_through_zindex), and the
    rows hash-match the full-scan oracle computed from the RAW parquet
    — the reference's index/no-index differential
    (tests/tdbcli/test_tdbcli.py:72-78) as a driver-checked query."""
    from traildb_spark.operators.filters import parse_filter

    path = _zdb_path(spark, sf_dir)
    ds = TrailDataset.open(spark, path).with_filter(
        parse_filter("event_type=click event_type=view & hod=12")
    )
    df = ds.df
    return df.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("uuid").alias("n_trails"),
        F.sum("time").alias("sum_time"),
    )


def q268_streaming_dedup_against(spark, sf_dir):
    """Streaming incremental dedup vs a static corpus
    (streaming_dedup_against: corpus Bloom prefilter + exact re-check +
    cross-batch accepted-fingerprint state, exactly-once pointer
    protocol). 'New' docs (doc_id % 5 != 0) stream in three ascending-id
    micro-batches against the 'existing' corpus (doc_id % 5 == 0); with
    ascending batches the accepted row per fingerprint is the GLOBAL
    min-id row, so the drained result is fully SQL-expressible:
    fp ∉ corpus, doc_id = min per fp — the q65 batch law + keep-first.
    The state dir is cache-keyed per sf_dir: a rerun drains zero new
    files and reads back the identical committed state (the replay
    no-op is part of what the hash match certifies)."""
    import hashlib
    import os

    from traildb_spark.streaming.ingest import (
        dedup_accepted_rows,
        streaming_dedup_against,
    )

    key = hashlib.md5(
        f"{sf_dir}|sdedup|v{_MEDIA_CACHE_VERSION}".encode()
    ).hexdigest()[:12]
    base = f"/tmp/traildb_spark_media_cache/sdedup-{key}"
    src, out, ckpt = f"{base}/src", f"{base}/state", f"{base}/ckpt"
    docs = _load(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    if not os.path.exists(src):
        os.makedirs(base, exist_ok=True)
        new = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
        hi = new.agg(F.max("doc_id")).collect()[0][0]
        cuts = [hi // 3, 2 * hi // 3, hi]
        lo = -1
        # FileStreamSource drains oldest-mtime-first; batch order is
        # pinned by SETTING each batch's file mtimes 1000s apart (a fixed
        # epoch, deterministic by construction) rather than hoping
        # back-to-back writes land on distinct filesystem timestamps.
        seen: set[str] = set()
        for i, c in enumerate(cuts):
            (new.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= c))
             .coalesce(1).write.mode("append").parquet(src))
            lo = c
            stamp = 1_600_000_000 + 1000 * i
            for f in os.listdir(src):
                if f not in seen and not f.startswith(("_", ".")):
                    os.utime(os.path.join(src, f), (stamp, stamp))
                    seen.add(f)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming_dedup_against(stream, existing, out, ckpt,
                                text_col="text", id_col="doc_id")
    q.awaitTermination(300)
    acc = dedup_accepted_rows(spark, out, ckpt)
    return acc.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("fp"),
        F.col("doc_id"),
    )


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CNF filter + projection on sf0.001 (reference §3.1 dump
    lifecycle)."""
    return q01_cnf_filter_dump(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_cnf_filter_dump": q01_cnf_filter_dump,
        "q02_negation_empty": q02_negation_empty,
        "q03_trail_lengths": q03_trail_lengths,
        "q04_info": q04_info,
        "q05_lexicon_sizes": q05_lexicon_sizes,
        "q06_sessions": q06_sessions,
        "q07_only_diff": q07_only_diff,
        "q08_merge_schema_union": q08_merge_schema_union,
        "q09_uuid_whitelist": q09_uuid_whitelist,
        "q10_multi_cursor": q10_multi_cursor,
        "q11_trail_ids": q11_trail_ids,
        "q12_edge_semantics": q12_edge_semantics,
        "q13_session_windows": q13_session_windows,
        "q14_trail_boundaries": q14_trail_boundaries,
        "q15_trail_overrides": q15_trail_overrides,
        "q20_pricing_summary": q20_pricing_summary,
        "q21_revenue_by_nation": q21_revenue_by_nation,
        "q22_top_customers": q22_top_customers,
        "q23_props_extract": q23_props_extract,
        "q24_asof_join": q24_asof_join,
        "q25_rollup": q25_rollup,
        "q26_range_join": q26_range_join,
        "q30_fingerprints": q30_fingerprints,
        "q31_quality": q31_quality,
        "q32_langid": q32_langid,
        "q33_dedup_exact": q33_dedup_exact,
        "q34_ngram_jaccard": q34_ngram_jaccard,
        "q35_minhash_lsh": q35_minhash_lsh,
        "q36_simhash": q36_simhash,
        "q37_emb_neardup": q37_emb_neardup,
        "q38_emb_neardup_lsh": q38_emb_neardup_lsh,
        "q39_sim_topk": q39_sim_topk,
        "q40_sim_topk_lsh": q40_sim_topk_lsh,
        "q41_sim_topk_ivf": q41_sim_topk_ivf,
        "q42_dedup_clusters": q42_dedup_clusters,
        "q43_curation_pipeline": q43_curation_pipeline,
        "q44_minhash_portable": q44_minhash_portable,
        "q45_boilerplate_removal": q45_boilerplate_removal,
        "q46_hash_split": q46_hash_split,
        "q47_decontaminate": q47_decontaminate,
        "q48_source_quota": q48_source_quota,
        "q49_media_metadata": q49_media_metadata,
        "q50_pack_sequences": q50_pack_sequences,
        "q51_repetition": q51_repetition,
        "q52_emb_neardup_portable": q52_emb_neardup_portable,
        "q53_sim_topk_portable": q53_sim_topk_portable,
        "q54_sim_topk_ivf_portable": q54_sim_topk_ivf_portable,
        "q55_stratified_sample": q55_stratified_sample,
        "q56_top_terms": q56_top_terms,
        "q57_pii_scrub": q57_pii_scrub,
        "q58_value_freqs": q58_value_freqs,
        "q59_transitions": q59_transitions,
        "q60_funnel": q60_funnel,
        "q61_retention": q61_retention,
        "q62_percentiles": q62_percentiles,
        "q63_funnel_within": q63_funnel_within,
        "q64_cube": q64_cube,
        "q65_dedup_incremental": q65_dedup_incremental,
        "q66_set_ops": q66_set_ops,
        "q67_mix_corpus": q67_mix_corpus,
        "q68_make_dump_roundtrip": q68_make_dump_roundtrip,
        "q69_audio_features": q69_audio_features,
        "q70_image_resize": q70_image_resize,
        "q71_semantic_dedup": q71_semantic_dedup,
        "q72_gopher_quality": q72_gopher_quality,
        "q73_decontaminate_semantic": q73_decontaminate_semantic,
        "q74_duplicated_spans": q74_duplicated_spans,
        "q75_unigram_surprisal": q75_unigram_surprisal,
        "q76_bloom_dedup": q76_bloom_dedup,
        "q77_video_frames": q77_video_frames,
        "q78_chunk_documents": q78_chunk_documents,
        "q79_event_paths": q79_event_paths,
        "q80_attribution": q80_attribution,
        "q81_lexicon_dump": q81_lexicon_dump,
        "q82_cooccurrence_pmi": q82_cooccurrence_pmi,
        "q83_quality_prune": q83_quality_prune,
        "q84_activity_histogram": q84_activity_histogram,
        "q85_inverted_index": q85_inverted_index,
        "q86_remove_spans": q86_remove_spans,
        "q87_sample_exact": q87_sample_exact,
        "q88_session_basket": q88_session_basket,
        "q89_clean_text": q89_clean_text,
        "q90_burst_windows": q90_burst_windows,
        "q91_length_deciles": q91_length_deciles,
        "q92_dataset_diff": q92_dataset_diff,
        "q93_countmin": q93_countmin,
        "q94_video_decode": q94_video_decode,
        "q95_pattern_match": q95_pattern_match,
        "q96_time_to_convert": q96_time_to_convert,
        "q97_dup_by_source": q97_dup_by_source,
        "q98_rolling_active": q98_rolling_active,
        "q99_attribution_linear": q99_attribution_linear,
        "q100_cluster_sizes": q100_cluster_sizes,
        "q101_cohort_revenue": q101_cohort_revenue,
        "q102_gap_histogram": q102_gap_histogram,
        "q103_surprisal_mix": q103_surprisal_mix,
        "q104_jpeg_decode": q104_jpeg_decode,
        "q105_gif_decode": q105_gif_decode,
        "q106_bm25": q106_bm25,
        "q107_bigram_surprisal": q107_bigram_surprisal,
        "q108_trail_overrides_table": q108_trail_overrides_table,
        "q109_y4m_chroma": q109_y4m_chroma,
        "q110_token_heavy_hitters": q110_token_heavy_hitters,
        "q111_sequence_match": q111_sequence_match,
        "q112_make_patch": q112_make_patch,
        "q113_temperature_mix": q113_temperature_mix,
        "q114_trigram_backoff": q114_trigram_backoff,
        "q115_sessions_chunked": q115_sessions_chunked,
        "q116_fuzzy_dedup_against": q116_fuzzy_dedup_against,
        "q117_emb_neardup_against": q117_emb_neardup_against,
        "q118_resolve_duplicates": q118_resolve_duplicates,
        "q119_recency_scores": q119_recency_scores,
        "q120_distribution_drift": q120_distribution_drift,
        "q121_embedding_gram": q121_embedding_gram,
        "q122_source_divergence": q122_source_divergence,
        "q123_vocab_growth": q123_vocab_growth,
        "q124_rolling_median": q124_rolling_median,
        "q125_source_overlap": q125_source_overlap,
        "q126_event_trend": q126_event_trend,
        "q127_trail_similarity": q127_trail_similarity,
        "q128_volume_anomalies": q128_volume_anomalies,
        "q129_split_sentences": q129_split_sentences,
        "q130_join_skew_report": q130_join_skew_report,
        "q131_hll_distinct": q131_hll_distinct,
        "q132_volume_correlation": q132_volume_correlation,
        "q133_winnow_fingerprints": q133_winnow_fingerprints,
        "q134_winnow_similarity": q134_winnow_similarity,
        "q135_cdf_drift": q135_cdf_drift,
        "q136_trail_vectors": q136_trail_vectors,
        "q137_props_extract": q137_props_extract,
        "q138_histogram_percentiles": q138_histogram_percentiles,
        "q139_hll_by_key": q139_hll_by_key,
        "q140_upsample_corpus": q140_upsample_corpus,
        "q141_contamination_report": q141_contamination_report,
        "q142_leakage_safe_split": q142_leakage_safe_split,
        "q143_embedding_outliers": q143_embedding_outliers,
        "q144_conversion_rates": q144_conversion_rates,
        "q145_trail_entropy": q145_trail_entropy,
        "q146_session_funnel": q146_session_funnel,
        "q147_transition_entropy": q147_transition_entropy,
        "q148_corpus_card": q148_corpus_card,
        "q149_dup_source_flow": q149_dup_source_flow,
        "q150_entry_exit": q150_entry_exit,
        "q151_edit_distance": q151_edit_distance,
        "q152_survival_table": q152_survival_table,
        "q153_diurnal_profile": q153_diurnal_profile,
        "q154_source_balance": q154_source_balance,
        "q155_volume_autocorrelation": q155_volume_autocorrelation,
        "q156_robot_trails": q156_robot_trails,
        "q157_curriculum_order": q157_curriculum_order,
        "q158_lexical_richness": q158_lexical_richness,
        "q159_trail_seq_distance": q159_trail_seq_distance,
        "q160_ngram_coverage": q160_ngram_coverage,
        "q161_containment": q161_containment,
        "q162_hash_embedding": q162_hash_embedding,
        "q163_burstiness": q163_burstiness,
        "q164_pnm_decode": q164_pnm_decode,
        "q165_aiff_decode": q165_aiff_decode,
        "q166_bmp_decode": q166_bmp_decode,
        "q167_twap": q167_twap,
        "q168_ohlc_bars": q168_ohlc_bars,
        "q169_trail_value_outliers": q169_trail_value_outliers,
        "q170_cusum_changepoint": q170_cusum_changepoint,
        "q171_perplexity_buckets": q171_perplexity_buckets,
        "q172_dsir_importance": q172_dsir_importance,
        "q173_ab_conversion": q173_ab_conversion,
        "q174_zipf_slope": q174_zipf_slope,
        "q175_pagerank": q175_pagerank,
        "q176_langid_confusion": q176_langid_confusion,
        "q177_rfm_segments": q177_rfm_segments,
        "q178_dedup_sentences": q178_dedup_sentences,
        "q179_token_stats": q179_token_stats,
        "q180_weekly_profile": q180_weekly_profile,
        "q181_sample_exact_by_key": q181_sample_exact_by_key,
        "q182_lsh_recall": q182_lsh_recall,
        "q183_doc_keywords": q183_doc_keywords,
        "q184_hard_negatives": q184_hard_negatives,
        "q185_au_decode": q185_au_decode,
        "q186_tga_decode": q186_tga_decode,
        "q187_ico_decode": q187_ico_decode,
        "q188_longest_streak": q188_longest_streak,
        "q189_peak_concurrency": q189_peak_concurrency,
        "q190_percentiles_by_bucket": q190_percentiles_by_bucket,
        "q191_mad_outliers": q191_mad_outliers,
        "q192_label_separability": q192_label_separability,
        "q193_interarrival": q193_interarrival,
        "q194_tfidf_cosine": q194_tfidf_cosine,
        "q195_pcx_decode": q195_pcx_decode,
        "q196_voc_decode": q196_voc_decode,
        "q197_avi_decode": q197_avi_decode,
        "q198_percentiles_from_counts": q198_percentiles_from_counts,
        "q199_chisq_hour_mix": q199_chisq_hour_mix,
        "q200_edge_savings": q200_edge_savings,
        "q201_ras_decode": q201_ras_decode,
        "q202_media_inventory": q202_media_inventory,
        "q203_attribution_decay": q203_attribution_decay,
        "q204_qoi_decode": q204_qoi_decode,
        "q205_tiff_decode": q205_tiff_decode,
        "q206_midi_decode": q206_midi_decode,
        "q207_field_mi": q207_field_mi,
        "q208_ordered_pairs": q208_ordered_pairs,
        "q209_trail_surprisal": q209_trail_surprisal,
        "q210_rolling_features": q210_rolling_features,
        "q211_column_profile": q211_column_profile,
        "q212_flac_decode": q212_flac_decode,
        "q213_label_propagation": q213_label_propagation,
        "q214_k_anonymity": q214_k_anonymity,
        "q215_seasonal_anomalies": q215_seasonal_anomalies,
        "q216_webp_decode": q216_webp_decode,
        "q217_prediction_accuracy": q217_prediction_accuracy,
        "q218_forget_report": q218_forget_report,
        "q219_state_dwell": q219_state_dwell,
        "q220_pattern_scan": q220_pattern_scan,
        "q221_mixed_script": q221_mixed_script,
        "q222_kcenter": q222_kcenter,
        "q223_benford": q223_benford,
        "q224_ewma": q224_ewma,
        "q225_json_schema": q225_json_schema,
        "q226_conversion_paths": q226_conversion_paths,
        "q227_mmr": q227_mmr,
        "q228_window_cooccurrence": q228_window_cooccurrence,
        "q229_weighted_sample": q229_weighted_sample,
        "q230_run_lengths": q230_run_lengths,
        "q231_kwic": q231_kwic,
        "q232_lorenz": q232_lorenz,
        "q233_audio_quality": q233_audio_quality,
        "q234_image_quality": q234_image_quality,
        "q235_adoption_curve": q235_adoption_curve,
        "q236_tdb_import": q236_tdb_import,
        "q237_bpe_train": q237_bpe_train,
        "q238_quality_classifier": q238_quality_classifier,
        "q239_tokenizer_fertility": q239_tokenizer_fertility,
        "q240_triangle_count": q240_triangle_count,
        "q241_simpson_diversity": q241_simpson_diversity,
        "q242_cross_source_contamination": q242_cross_source_contamination,
        "q243_audio_fingerprint_dedup": q243_audio_fingerprint_dedup,
        "q244_scene_changes": q244_scene_changes,
        "q245_mixture_plan": q245_mixture_plan,
        "q246_sim_topk_sq8": q246_sim_topk_sq8,
        "q247_readability": q247_readability,
        "q248_markov_stationary": q248_markov_stationary,
        "q249_lagged_crosscorr": q249_lagged_crosscorr,
        "q250_prefix_dedup": q250_prefix_dedup,
        "q251_template_dedup": q251_template_dedup,
        "q252_ngram_novelty": q252_ngram_novelty,
        "q253_kmv_distinct": q253_kmv_distinct,
        "q254_audio_gain": q254_audio_gain,
        "q255_stopword_discovery": q255_stopword_discovery,
        "q256_shipping_priority": q256_shipping_priority,
        "q257_local_supplier_volume": q257_local_supplier_volume,
        "q258_promo_revenue": q258_promo_revenue,
        "q259_label_confusion": q259_label_confusion,
        "q260_dedup_impact": q260_dedup_impact,
        "q261_neardup_audit_sample": q261_neardup_audit_sample,
        "q262_sim_topk_jl": q262_sim_topk_jl,
        "q263_ensemble_neardup": q263_ensemble_neardup,
        "q264_threshold_sweep": q264_threshold_sweep,
        "q265_sim_topk_jl_sq8": q265_sim_topk_jl_sq8,
        "q266_sq8_prebuilt": q266_sq8_prebuilt,
        "q267_zindex_routing": q267_zindex_routing,
        "q268_streaming_dedup_against": q268_streaming_dedup_against,
        "q269_jl_sq8_prebuilt": q269_jl_sq8_prebuilt,
        "q270_sq8_append": q270_sq8_append,
        "q271_minhash_append": q271_minhash_append,
        "q272_sq8_compact": q272_sq8_compact,
        "q273_minhash_compact": q273_minhash_compact,
    }


def _srp_neardup_oracle(
    num_planes: int,
    bands: int,
    threshold: float,
    max_bucket: int | None = None,
) -> str:
    """SQL for the portable SRP near-dup: the ±1 hyperplanes inline as
    VALUES literals (the same matrix dedup._srp_planes hands Spark).
    Parameterized so q52 (16 planes / 4 bands) and q38 (24 planes / 4 bands, i.e. 6 bits per band) share it."""
    from traildb_spark.operators.dedup import _srp_planes

    planes = _srp_planes(num_planes, 64)
    bits = num_planes // bands
    mask = (1 << bits) - 1
    values = ", ".join(
        f"({p}, [{', '.join(str(int(x)) for x in row)}])"
        for p, row in enumerate(planes)
    )
    # quantized-integer cosine: int sums are exact (order-free), the final
    # sqrt·mul·div chain is correctly-rounded IEEE — matches the Spark-side
    # numpy kernel bit-for-bit (dedup.quantized_cosine_udf)
    qdot = "list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, 64)])"
    qna = "sqrt(list_sum([a.qv[i] * a.qv[i] for i in generate_series(1, 64)]))"
    qnb = "sqrt(list_sum([b.qv[i] * b.qv[i] for i in generate_series(1, 64)]))"
    cos = f"{qdot} / ({qna} * {qnb})"
    return f"""
        WITH q AS (
          SELECT vec_id,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                  for i in generate_series(1, 64)] AS qv
          FROM embeddings),
        planes(pid, h) AS (VALUES {values}),
        dots AS (
          SELECT vec_id, pid,
                 list_sum([qv[i] * h[i] for i in generate_series(1, 64)]) AS d
          FROM q, planes),
        codes AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN d >= 0 THEN 1 << pid ELSE 0 END) AS BIGINT) AS code
          FROM dots GROUP BY vec_id),
        banded AS (
          SELECT vec_id, b, (code >> (b * {bits})) & {mask} AS bh
          FROM codes, generate_series(0, {bands - 1}) AS t(b){_qualify_cap(max_bucket, "b", "bh")}),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
          FROM banded a JOIN banded b2
            ON a.b = b2.b AND a.bh = b2.bh AND a.vec_id < b2.vec_id)
        SELECT c.id_a, c.id_b, round({cos}, 6) AS cos
        FROM cand c
        JOIN q a ON c.id_a = a.vec_id
        JOIN q b ON c.id_b = b.vec_id
        WHERE round({cos}, 6) >= {threshold}
    """


def _srp_against_oracle(
    num_planes: int,
    bands: int,
    threshold: float,
    max_bucket: int | None = None,
) -> str:
    """Cross-corpus twin of _srp_neardup_oracle: corpus = even vec_ids,
    new batch = odd; candidates from the (band, bh) join of the two
    banded code tables; quantized-cosine verify; BEST match per new
    vector (max cos, ties -> smallest corpus id). Mirrors
    dedup.embedding_neardup_against exactly."""
    from traildb_spark.operators.dedup import _srp_planes

    planes = _srp_planes(num_planes, 64)
    bits = num_planes // bands
    mask = (1 << bits) - 1
    values = ", ".join(
        f"({p}, [{', '.join(str(int(x)) for x in row)}])"
        for p, row in enumerate(planes)
    )
    qdot = "list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, 64)])"
    qna = "sqrt(list_sum([a.qv[i] * a.qv[i] for i in generate_series(1, 64)]))"
    qnb = "sqrt(list_sum([b.qv[i] * b.qv[i] for i in generate_series(1, 64)]))"
    cos = f"{qdot} / ({qna} * {qnb})"
    return f"""
        WITH q AS (
          SELECT vec_id, vec_id % 2 AS side,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                  for i in generate_series(1, 64)] AS qv
          FROM embeddings),
        planes(pid, h) AS (VALUES {values}),
        dots AS (
          SELECT vec_id, side, pid,
                 list_sum([qv[i] * h[i] for i in generate_series(1, 64)]) AS d
          FROM q, planes),
        codes AS (
          SELECT vec_id, side,
                 CAST(SUM(CASE WHEN d >= 0 THEN 1 << pid ELSE 0 END) AS BIGINT) AS code
          FROM dots GROUP BY vec_id, side),
        banded AS (
          SELECT vec_id, side, b, (code >> (b * {bits})) & {mask} AS bh
          FROM codes, generate_series(0, {bands - 1}) AS t(b){_qualify_cap(max_bucket, "side", "b", "bh")}),
        cand AS (
          SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS corpus_id
          FROM banded n JOIN banded c
            ON n.b = c.b AND n.bh = c.bh AND n.side = 1 AND c.side = 0),
        pairs AS (
          SELECT cd.new_id, cd.corpus_id, round({cos}, 6) AS cos
          FROM cand cd
          JOIN q a ON cd.new_id = a.vec_id
          JOIN q b ON cd.corpus_id = b.vec_id
          WHERE round({cos}, 6) >= {threshold}),
        ranked AS (
          SELECT new_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY new_id
                                    ORDER BY cos DESC, corpus_id ASC) AS rn
          FROM pairs)
        SELECT new_id, corpus_id, cos FROM ranked WHERE rn = 1
    """


def _srp_topk_oracle(num_planes: int, max_hamming: int, k: int) -> str:
    """Portable sign-LSH ANN top-k: integer SRP codes, hamming-ball
    candidate probe, quantized-integer cosine ranking. Parameterized so
    q53 (8 planes, ball 4) and q40 (12 planes, ball 3) share it."""
    from traildb_spark.operators.dedup import _srp_planes

    planes = _srp_planes(num_planes, 64)
    values = ", ".join(
        f"({p}, [{', '.join(str(int(x)) for x in row)}])"
        for p, row in enumerate(planes)
    )
    qdot = "list_sum([c.qv[i] * q.qv[i] for i in generate_series(1, 64)])"
    qnc = "sqrt(list_sum([c.qv[i] * c.qv[i] for i in generate_series(1, 64)]))"
    qnq = "sqrt(list_sum([q.qv[i] * q.qv[i] for i in generate_series(1, 64)]))"
    cos = f"{qdot} / ({qnc} * {qnq})"
    return f"""
        WITH qz AS (
          SELECT vec_id,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                  for i in generate_series(1, 64)] AS qv
          FROM embeddings),
        planes(pid, h) AS (VALUES {values}),
        codes AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN list_sum([qv[i] * h[i] for i in generate_series(1, 64)]) >= 0
                          THEN 1 << pid ELSE 0 END) AS BIGINT) AS code
          FROM qz, planes GROUP BY vec_id),
        ranked AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 round({cos}, 6) AS cos,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY round({cos}, 6) DESC, c.vec_id ASC) AS rank
          FROM qz q
          JOIN codes qc ON q.vec_id = qc.vec_id
          JOIN codes cc ON bit_count(xor(qc.code, cc.code)) <= {max_hamming}
          JOIN qz c ON c.vec_id = cc.vec_id
          WHERE q.vec_id < 5)
        SELECT query_id, corpus_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


# PII patterns duplicated for the SQL side (RE2-safe; backslashes doubled
# for SQL string literals where needed)
# canonical PII patterns — interpolated into the q57 oracle so the SQL
# can never drift from text.scrub_pii's definitions
from traildb_spark.operators.text import PII_PATTERNS as _PII

_PII_EMAIL = _PII[0][1]
_PII_IPV4 = _PII[1][1]
_PII_NUM = _PII[2][1]


def _ivf_topk_oracle(num_centroids: int, nprobe: int, k: int) -> str:
    """Portable IVF ANN top-k: centroids = num_centroids smallest
    md5-keyed corpus vectors, assignment/probe by rounded
    quantized-integer cosine argmax (matches dedup.quantized_cosine_udf
    bit-for-bit). Parameterized so q54 (8 cells / probe 2) and q41
    (16 / 4) share it."""

    def qcos(a: str, b: str) -> str:
        dot = f"list_sum([{a}.qv[i] * {b}.qv[i] for i in generate_series(1, 64)])"
        na = f"sqrt(list_sum([{a}.qv[i] * {a}.qv[i] for i in generate_series(1, 64)]))"
        nb = f"sqrt(list_sum([{b}.qv[i] * {b}.qv[i] for i in generate_series(1, 64)]))"
        return f"{dot} / ({na} * {nb})"

    cos_ec = qcos("e", "c")
    cos_qc = qcos("q", "c")
    cos_vq = qcos("v", "q")
    return f"""
        WITH qz AS (
          SELECT vec_id,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                  for i in generate_series(1, 64)] AS qv
          FROM embeddings),
        cents AS (
          SELECT vec_id AS cid, qv
          FROM qz
          ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                   vec_id
          LIMIT {num_centroids}),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY round({cos_ec}, 6) DESC, c.cid ASC) AS rn
            FROM qz e CROSS JOIN cents c)
          WHERE rn = 1),
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY round({cos_qc}, 6) DESC, c.cid ASC) AS rn
            FROM qz q CROSS JOIN cents c WHERE q.vec_id < 5)
          WHERE rn <= {nprobe}),
        ranked AS (
          SELECT p.query_id, a.vec_id AS corpus_id,
                 round({cos_vq}, 6) AS cos,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY round({cos_vq}, 6) DESC, a.vec_id ASC) AS rank
          FROM probes p
          JOIN assign a ON p.cid = a.cid
          JOIN qz v ON v.vec_id = a.vec_id
          JOIN qz q ON q.vec_id = p.query_id)
        SELECT query_id, corpus_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _qualify_cap(max_bucket, *keys) -> str:
    """DuckDB twin of dedup._cap_band_buckets: drop (band, bh) buckets
    larger than max_bucket before the candidate join. QUALIFY runs after
    the window, exactly like the Spark window-count filter."""
    if max_bucket is None:
        return ""
    cols = ", ".join(keys)
    return (
        f"\n          QUALIFY count(*) OVER (PARTITION BY {cols})"
        f" <= {max_bucket}"
    )


def _bpe_oracle(num_merges: int) -> str:
    """DuckDB twin of text.bpe_train: one CTE pair per UNROLLED merge
    round (the q175 pagerank-unrolling pattern — recursive CTEs dedup
    the working table, so rounds are spelled out). The greedy
    left-to-right pair merge is a list fold: state = list of merged
    symbols, step appends the next char-list element or replaces the
    tail when (tail, next) equals the round's best pair — greedy
    non-overlap holds because a merged token l||r can never equal l
    (r is never empty). Argmax tie rule mirrored via
    row_number() OVER (ORDER BY total DESC, l, r)."""
    parts = [f"""
        WITH wc AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest({_TOKENS}) AS tok FROM documents)
          GROUP BY tok),
        w0 AS (
          SELECT regexp_extract_all(tok, '.') AS sym, cnt FROM wc)"""]
    for r in range(num_merges):
        parts.append(f"""
        p{r} AS (
          SELECT pr.l AS l, pr.r AS r, SUM(cnt) AS total
          FROM (SELECT unnest([{{'l': sym[i], 'r': sym[i+1]}}
                        for i in generate_series(1, len(sym) - 1)]) AS pr,
                       cnt
                FROM w{r})
          GROUP BY pr.l, pr.r),
        b{r} AS (
          SELECT l, r, total FROM p{r}
          QUALIFY row_number() OVER (ORDER BY total DESC, l, r) = 1),
        w{r + 1} AS (
          SELECT CASE WHEN b.total >= 2 THEN
                   list_reduce([[s] for s in sym],
                     (acc, x) -> CASE
                       WHEN len(acc) > 0 AND acc[len(acc)] = b.l
                            AND x[1] = b.r
                       THEN acc[1:len(acc)-1] || [b.l || b.r]
                       ELSE acc || x END)
                 ELSE sym END AS sym, cnt
          FROM w{r} CROSS JOIN b{r} b)""")
    unions = "\n          UNION ALL ".join(
        f'SELECT {r} AS round, l AS "left", r AS "right",'
        f" CAST(total AS BIGINT) AS pair_count FROM b{r} WHERE total >= 2"
        for r in range(num_merges)
    )
    return ",".join(parts) + f"\n        {unions}"


def _jl_topk_oracle(out_dim: int, rerank: int, k: int) -> str:
    """JL ±1-projection ANN top-k: q10 integer projections onto the
    literal Rademacher planes, reduced-space cosine-micro candidates
    (sign-factored // so DuckDB floors match Spark's truncation on the
    sign-factored absolute value), full-q20-lattice exact rerank."""
    from traildb_spark.operators.dedup import _srp_planes

    planes = _srp_planes(out_dim, 64)
    values = ", ".join(
        f"({p}, [{', '.join(str(int(x)) for x in row)}])"
        for p, row in enumerate(planes)
    )
    qcos = (
        "round(list_sum([cv.qv[i] * qv.qv[i] for i in generate_series(1, 64)])"
        " / (sqrt(list_sum([cv.qv[i] * cv.qv[i] for i in generate_series(1, 64)]))"
        " * sqrt(list_sum([qv.qv[i] * qv.qv[i] for i in generate_series(1, 64)]))), 6)"
    )
    return f"""
        WITH qz AS (
          SELECT vec_id,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                  for i in generate_series(1, 64)] AS qv,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT)
                  for i in generate_series(1, 64)] AS q10
          FROM embeddings),
        planes(pid, h) AS (VALUES {values}),
        red AS (
          SELECT vec_id,
                 list(CAST(list_sum([q10[i] * h[i] for i in generate_series(1, 64)])
                      AS BIGINT) ORDER BY pid) AS rv
          FROM qz, planes GROUP BY vec_id),
        n2 AS (
          SELECT vec_id,
                 CAST(list_sum([rv[i] * rv[i] for i in generate_series(1, {out_dim})])
                      AS BIGINT) AS n2
          FROM red),
        scored AS (
          SELECT rq.vec_id AS query_id, rc.vec_id AS corpus_id,
                 CAST(list_sum([rq.rv[i] * rc.rv[i]
                      for i in generate_series(1, {out_dim})]) AS BIGINT) AS red_dot,
                 nq.n2 AS n2q, nc.n2 AS n2c
          FROM red rq JOIN n2 nq ON nq.vec_id = rq.vec_id
          CROSS JOIN red rc JOIN n2 nc ON nc.vec_id = rc.vec_id
          WHERE rq.vec_id < 5),
        cand AS (
          SELECT query_id, corpus_id, approx_cos_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY approx_cos_micro DESC NULLS LAST,
                                             corpus_id ASC) AS crank
          FROM (
            SELECT query_id, corpus_id,
                   CASE WHEN n2c > 0 AND n2q > 0 THEN
                     CASE WHEN red_dot >= 0
                          THEN (1000000 * red_dot)
                               // CAST(floor(sqrt(CAST(n2c AS DOUBLE)
                                    * CAST(n2q AS DOUBLE))) AS BIGINT)
                          ELSE -((1000000 * -red_dot)
                               // CAST(floor(sqrt(CAST(n2c AS DOUBLE)
                                    * CAST(n2q AS DOUBLE))) AS BIGINT))
                     END
                   END AS approx_cos_micro
            FROM scored)),
        reranked AS (
          SELECT cd.query_id, cd.corpus_id,
                 CAST(cd.approx_cos_micro AS BIGINT) AS approx_cos_micro,
                 {qcos} AS cos
          FROM cand cd
          JOIN qz cv ON cv.vec_id = cd.corpus_id
          JOIN qz qv ON qv.vec_id = cd.query_id
          WHERE cd.crank <= {rerank})
        SELECT query_id, corpus_id, approx_cos_micro, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, corpus_id ASC) AS INT) AS rank
        FROM reranked
        QUALIFY rank <= {k}
    """


def _jl_sq8_oracle(out_dim: int, rerank: int, k: int) -> str:
    """Stacked JL→SQ8 ANN: q10 integer projections onto the literal
    Rademacher planes, per-reduced-dim [lo,hi] grid, 0..255 codes,
    code-space cosine-micro candidates (codes are non-negative so no
    sign factoring), full-q20 exact rerank."""
    from traildb_spark.operators.dedup import _srp_planes

    planes = _srp_planes(out_dim, 64)
    values = ", ".join(
        f"({p}, [{', '.join(str(int(x)) for x in row)}])"
        for p, row in enumerate(planes)
    )
    qcos = (
        "round(list_sum([cv.qv[i] * qv.qv[i] for i in generate_series(1, 64)])"
        " / (sqrt(list_sum([cv.qv[i] * cv.qv[i] for i in generate_series(1, 64)]))"
        " * sqrt(list_sum([qv.qv[i] * qv.qv[i] for i in generate_series(1, 64)]))), 6)"
    )
    return f"""
        WITH qz AS (
          SELECT vec_id,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                  for i in generate_series(1, 64)] AS qv,
                 [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT)
                  for i in generate_series(1, 64)] AS q10
          FROM embeddings),
        planes(pid, h) AS (VALUES {values}),
        red AS (
          SELECT vec_id,
                 list(CAST(list_sum([q10[i] * h[i] for i in generate_series(1, 64)])
                      AS BIGINT) ORDER BY pid) AS rv
          FROM qz, planes GROUP BY vec_id),
        dims AS (
          SELECT i, min(CAST(rv[i] AS DOUBLE)) AS lo,
                    max(CAST(rv[i] AS DOUBLE)) AS hi
          FROM red, generate_series(1, {out_dim}) AS t(i) GROUP BY i),
        codes AS (
          SELECT r.vec_id,
                 list(CAST(CASE WHEN d.hi = d.lo THEN 0
                      ELSE greatest(0, least(255,
                        floor((CAST(r.rv[d.i] AS DOUBLE) - d.lo) * 255.0
                              / (d.hi - d.lo))))
                      END AS BIGINT) ORDER BY d.i) AS code
          FROM red r, dims d GROUP BY r.vec_id),
        n2 AS (
          SELECT vec_id,
                 CAST(list_sum([code[i] * code[i]
                      for i in generate_series(1, {out_dim})]) AS BIGINT) AS n2
          FROM codes),
        scored AS (
          SELECT cq.vec_id AS query_id, cc.vec_id AS corpus_id,
                 CAST(list_sum([cq.code[i] * cc.code[i]
                      for i in generate_series(1, {out_dim})]) AS BIGINT) AS code_dot,
                 nq.n2 AS n2q, nc.n2 AS n2c
          FROM codes cq JOIN n2 nq ON nq.vec_id = cq.vec_id
          CROSS JOIN codes cc JOIN n2 nc ON nc.vec_id = cc.vec_id
          WHERE cq.vec_id < 5),
        cand AS (
          SELECT query_id, corpus_id, approx_cos_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY approx_cos_micro DESC NULLS LAST,
                                             corpus_id ASC) AS crank
          FROM (
            SELECT query_id, corpus_id,
                   CASE WHEN n2c > 0 AND n2q > 0
                        THEN (1000000 * code_dot)
                             // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE)))
                                     AS BIGINT)
                   END AS approx_cos_micro
            FROM scored)),
        reranked AS (
          SELECT cd.query_id, cd.corpus_id,
                 CAST(cd.approx_cos_micro AS BIGINT) AS approx_cos_micro,
                 {qcos} AS cos
          FROM cand cd
          JOIN qz cv ON cv.vec_id = cd.corpus_id
          JOIN qz qv ON qv.vec_id = cd.query_id
          WHERE cd.crank <= {rerank})
        SELECT query_id, corpus_id, approx_cos_micro, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, corpus_id ASC) AS INT) AS rank
        FROM reranked
        QUALIFY rank <= {k}
    """


def _minhash_portable_oracle(
    shingle_k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket: int | None = None,
) -> str:
    """Portable MinHash+LSH SQL: md5-prefix shingle hashes, rotate-XOR
    permutations, md5 band keys, exact Jaccard verify — the DuckDB twin of
    dedup.minhash_lsh_pairs_portable. Parameterized so q44 (5-char
    shingles) and q35 (7-char) share it."""
    from traildb_spark.operators.dedup import _portable_perms

    rows_per_band = num_hashes // bands
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> xor((h % {1 << (60 - r)}) * {1 << r}"
        f" + h // {1 << (60 - r)}, {c})))"
        for (r, c) in _portable_perms(num_hashes)
    )
    jac = (
        "round(CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat(ga.hs, gb.hs))) AS DOUBLE), 6)"
    )
    # stage-1 prune mirrored from the Spark pipeline: signature agreement
    # >= ceil((t - 2.5σ) * num_hashes) exact-match positions — applied, as
    # in Spark, only when the cutoff exceeds the rows-per-band agreement
    # floor that banding already certifies for every candidate
    import math as _math

    min_agree = int(
        _math.ceil((threshold - 2.5 * (0.25 / num_hashes) ** 0.5) * num_hashes)
    )
    if min_agree > rows_per_band:
        agree_pred = (
            f"len([i for i in generate_series(1, {num_hashes})"
            f" if ga.sig[i] = gb.sig[i]]) >= {min_agree} AND "
        )
    else:
        agree_pred = ""
    return f"""
        WITH t AS (
          SELECT doc_id, {_NORM_TEXT} AS nt FROM documents),
        g AS (
          SELECT doc_id,
                 list_sort(list_distinct(
                   [CAST(('0x' || substr(md5(substr(nt, i, {shingle_k})), 1, 15)) AS BIGINT)
                    for i in generate_series(1, greatest(length(nt) - {shingle_k - 1}, 1))])) AS hs
          FROM t),
        s AS (
          SELECT doc_id, hs, [{sig_items}] AS sig FROM g WHERE len(hs) > 0),
        banded AS (
          SELECT doc_id, b,
                 md5(array_to_string(sig[b * {rows_per_band} + 1 : b * {rows_per_band} + {rows_per_band}], ',')) AS bh
          FROM s, generate_series(0, {bands - 1}) AS bt(b){_qualify_cap(max_bucket, "b", "bh")}),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM banded a JOIN banded b2
            ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id)
        SELECT c.id_a, c.id_b, {jac} AS jaccard
        FROM cand c
        JOIN s ga ON c.id_a = ga.doc_id
        JOIN s gb ON c.id_b = gb.doc_id
        WHERE {agree_pred}{jac} >= {threshold}
    """


def _fuzzy_against_oracle(
    shingle_k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket: int | None = None,
) -> str:
    """Cross-corpus twin of _minhash_portable_oracle: corpus = even
    doc_ids, new batch = odd; candidates from the (band, bh) join of the
    two banded tables; exact Jaccard verify; BEST match per new doc (max
    jaccard, ties -> smallest corpus id). Mirrors
    dedup.fuzzy_dedup_against exactly, including the sig-prune rule
    (skipped when the cutoff does not exceed the rows-per-band floor)."""
    from traildb_spark.operators.dedup import _portable_perms, _sig_min_agree

    rows_per_band = num_hashes // bands
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> xor((h % {1 << (60 - r)}) * {1 << r}"
        f" + h // {1 << (60 - r)}, {c})))"
        for (r, c) in _portable_perms(num_hashes)
    )
    jac = (
        "round(CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat(ga.hs, gb.hs))) AS DOUBLE), 6)"
    )
    min_agree = _sig_min_agree(threshold, num_hashes)
    if min_agree > rows_per_band:
        agree_pred = (
            f"len([i for i in generate_series(1, {num_hashes})"
            f" if ga.sig[i] = gb.sig[i]]) >= {min_agree} AND "
        )
    else:
        agree_pred = ""
    return f"""
        WITH t AS (
          SELECT doc_id, doc_id % 2 AS side, {_NORM_TEXT} AS nt FROM documents),
        g AS (
          SELECT doc_id, side,
                 list_sort(list_distinct(
                   [CAST(('0x' || substr(md5(substr(nt, i, {shingle_k})), 1, 15)) AS BIGINT)
                    for i in generate_series(1, greatest(length(nt) - {shingle_k - 1}, 1))])) AS hs
          FROM t),
        s AS (
          SELECT doc_id, side, hs, [{sig_items}] AS sig FROM g WHERE len(hs) > 0),
        banded AS (
          SELECT doc_id, side, b,
                 md5(array_to_string(sig[b * {rows_per_band} + 1 : b * {rows_per_band} + {rows_per_band}], ',')) AS bh
          FROM s, generate_series(0, {bands - 1}) AS bt(b){_qualify_cap(max_bucket, "side", "b", "bh")}),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
          FROM banded n JOIN banded c
            ON n.b = c.b AND n.bh = c.bh AND n.side = 1 AND c.side = 0),
        pairs AS (
          SELECT cd.new_id, cd.corpus_id, {jac} AS jaccard
          FROM cand cd
          JOIN s ga ON cd.new_id = ga.doc_id
          JOIN s gb ON cd.corpus_id = gb.doc_id
          WHERE {agree_pred}{jac} >= {threshold}),
        ranked AS (
          SELECT new_id, corpus_id, jaccard,
                 row_number() OVER (PARTITION BY new_id
                                    ORDER BY jaccard DESC, corpus_id ASC) AS rn
          FROM pairs)
        SELECT new_id, corpus_id, jaccard FROM ranked WHERE rn = 1
    """


def oracle_sql() -> dict[str, str]:
    from traildb_spark.operators.text import GOPHER_STOPWORDS

    _gopher_stops = ",".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    # the CANONICAL marker sets — a one-sided edit can't desync the oracle
    from traildb_spark.operators.text import LANG_MARKERS

    langs = {k: list(v) for k, v in sorted(LANG_MARKERS.items())}
    def hits(lang):
        lst = ", ".join(f"'{w}'" for w in langs[lang])
        return f"len(list_filter({_TOKENS}, t -> list_contains([{lst}], t)))"

    lang_case = (
        "CASE "
        f"WHEN {hits('de')} > 0 AND {hits('de')} >= {hits('en')} AND {hits('de')} >= {hits('es')} AND {hits('de')} >= {hits('fr')} THEN 'de' "
        f"WHEN {hits('en')} > 0 AND {hits('en')} >= {hits('es')} AND {hits('en')} >= {hits('fr')} THEN 'en' "
        f"WHEN {hits('es')} > 0 AND {hits('es')} >= {hits('fr')} THEN 'es' "
        f"WHEN {hits('fr')} > 0 THEN 'fr' "
        "ELSE 'und' END"
    )

    grams3 = (
        "list_distinct([array_to_string(w[i:i+2], ' ') "
        "for i in generate_series(1, greatest(len(w) - 2, 1))])"
    )

    cos_ab = f"{_sql_dot('a.embedding','b.embedding')} / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')})"
    cos_cq = f"{_sql_dot('c.embedding','q.embedding')} / ({_sql_norm('c.embedding')} * {_sql_norm('q.embedding')})"

    # exact integer squared distance on floor(v·2^20)-quantized vectors
    # (q222's portable k-center lattice)
    kc_dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "[ (p.q[i] - s.q[i]) * (p.q[i] - s.q[i]) "
        "for i in generate_series(1, len(p.q)) ]), (x, y) -> x + y)"
    )

    mm_dot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "[ c.q[i] * s.q[i] for i in generate_series(1, len(c.q)) ]), "
        "(x, y) -> x + y)"
    )

    def _mmr_round(r: int, lam: int = 70) -> str:
        prev = f"s{r - 1}"
        return f"""
            d{r} AS (SELECT c.vec_id, MAX(c.rel) AS rel,
                            MAX({mm_dot}) AS ms
                     FROM cand c CROSS JOIN {prev} s
                     WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
                     GROUP BY c.vec_id),
            p{r} AS (SELECT vec_id,
                            {lam} * rel - {100 - lam} * ms AS score
                     FROM d{r} ORDER BY score DESC, vec_id LIMIT 1),
            s{r} AS (SELECT * FROM {prev}
                     UNION ALL
                     SELECT qe.vec_id, qe.q FROM qe JOIN p{r}
                       ON qe.vec_id = p{r}.vec_id)"""

    def _kc_round(r: int) -> str:
        prev = f"sel{r - 1}"
        return f"""
            d{r} AS (SELECT p.vec_id, MIN({kc_dist}) AS dmin
                     FROM qe p CROSS JOIN {prev} s
                     WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
                     GROUP BY p.vec_id),
            p{r} AS (SELECT vec_id, dmin FROM d{r}
                     ORDER BY dmin DESC, vec_id LIMIT 1),
            sel{r} AS (SELECT * FROM {prev}
                       UNION ALL
                       SELECT qe.* FROM qe JOIN p{r}
                         ON qe.vec_id = p{r}.vec_id)"""

    _q75_sql = f"""
            -- self-information in whole bits via binary-digit counts:
            -- bits(w) = len(bin(total)) - len(bin(count_w))
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            t AS (SELECT doc_id, unnest(ws) AS term FROM w),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
            vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
            tot AS (SELECT sum(cnt) AS total FROM vocab),
            s AS (
              SELECT tf.doc_id,
                     sum(tf.tf * (length(bin(CAST(tot.total AS BIGINT)))
                                  - length(bin(CAST(vocab.cnt AS BIGINT))))) AS surprisal_bits,
                     sum(tf.tf) AS n_tokens
              FROM tf JOIN vocab USING (term) CROSS JOIN tot
              GROUP BY tf.doc_id)
            SELECT d.doc_id,
                   COALESCE(s.n_tokens, 0) AS n_tokens,
                   COALESCE(s.surprisal_bits, 0) AS surprisal_bits,
                   CASE WHEN COALESCE(s.n_tokens, 0) = 0 THEN 0
                        ELSE 1000 * s.surprisal_bits // s.n_tokens END AS millibits_per_token
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
        """

    _q42_sql = f"""
            WITH RECURSIVE
            t AS (
              SELECT doc_id, {_TOKENS} AS w FROM documents),
            hh AS (
              SELECT doc_id,
                     [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) for x in w] AS hs
              FROM t),
            sh AS (
              SELECT doc_id,
                     list_reduce(list_prepend(0::BIGINT,
                       [CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > len(hs)
                             THEN (1::BIGINT << b) ELSE 0::BIGINT END
                        for b in generate_series(0, 59)]),
                       (x, y) -> x + y) AS code
              FROM hh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.code, b.code)) <= 3),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
            cc(id, comp) AS (
                SELECT src, src FROM edges
              UNION
                SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src),
            labels AS (
              SELECT id, MIN(comp) AS component FROM cc GROUP BY id)
            SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS component,
                   d.doc_id = COALESCE(l.component, d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
        """

    sql = {
        "q01_cnf_filter_dump": f"""
            SELECT uuid, "time", event_type FROM ({_E})
            WHERE event_type IN ('click', 'view')
              AND "time" >= {TIME_LO} AND "time" < {TIME_HI}
        """,
        "q68_make_dump_roundtrip": f"""
            SELECT uuid, "time", event_type, props FROM ({_E})
        """,
        "q69_audio_features": """
            -- recompute the WAV fixture's PCM from first principles:
            -- s[i] = (i*37 + doc_id*11) % 2048 - 1024, n = 64 + id%64,
            -- rate = 8000 + 4000*(id%5); rms/zcr/peak over that sequence
            WITH a AS (
              SELECT doc_id,
                     64 + CAST(doc_id % 64 AS BIGINT) AS n,
                     CAST(8000 + 4000 * (doc_id % 5) AS INT) AS rate
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n, rate,
                     [ (i*37 + doc_id*11) % 2048 - 1024
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            )
            SELECT doc_id AS media_id,
                   rate AS sample_rate,
                   1 AS channels,
                   n AS n_samples,
                   n * 1000 // rate AS duration_ms,
                   ROUND(sqrt(CAST(list_sum(list_transform(xs, x -> x*x)) AS DOUBLE) / n), 6) AS rms,
                   CAST(len(list_filter(generate_series(2, n), i -> xs[i-1] * xs[i] < 0)) AS BIGINT) AS zcr,
                   CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
            FROM s
        """,
        "q73_decontaminate_semantic": """
            -- keep corpus vectors below cosine 0.4 against EVERY
            -- benchmark vector (every 50th id), quantized-integer math
            WITH qz AS (
              SELECT vec_id,
                     [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                      for i in generate_series(1, 64)] AS qv
              FROM embeddings),
            hits AS (
              SELECT DISTINCT c.vec_id
              FROM qz c JOIN qz b ON b.vec_id % 50 = 0
              WHERE round(
                      list_sum([c.qv[i] * b.qv[i] for i in generate_series(1, 64)])
                      / (sqrt(list_sum([c.qv[i] * c.qv[i] for i in generate_series(1, 64)]))
                         * sqrt(list_sum([b.qv[i] * b.qv[i] for i in generate_series(1, 64)]))), 6) >= 0.4)
            SELECT e.vec_id FROM embeddings e
            LEFT JOIN hits h ON e.vec_id = h.vec_id
            WHERE h.vec_id IS NULL
        """,
        "q72_gopher_quality": f"""
            WITH t AS (
              SELECT doc_id, text, {_TOKENS} AS ws,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                l -> trim(l)), l -> l <> '') AS ls
              FROM documents),
            m AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     CASE WHEN len(ws) > 0
                          THEN CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE) / len(ws)
                          ELSE 0.0 END AS mean_wlen,
                     CASE WHEN len(ws) > 0
                          THEN CAST(len(list_filter(ws, t -> contains(t, '#')))
                                    + len(list_filter(ws, t -> contains(t, '...'))) AS DOUBLE) / len(ws)
                          ELSE 0.0 END AS symbol_ratio,
                     CASE WHEN len(ls) > 0
                          THEN CAST(len(list_filter(ls, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS DOUBLE) / len(ls)
                          ELSE 0.0 END AS bullet_frac,
                     CASE WHEN len(ls) > 0
                          THEN CAST(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE) / len(ls)
                          ELSE 0.0 END AS ellipsis_frac,
                     CASE WHEN len(ws) > 0
                          THEN CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(ws)
                          ELSE 0.0 END AS alpha_frac,
                     len(list_filter([{_gopher_stops}],
                                     s -> list_contains(ws, s))) AS stop_hits
              FROM t)
            SELECT doc_id,
                   CAST(n_words AS INT) AS n_words,
                   round(mean_wlen, 6) AS mean_word_len,
                   round(symbol_ratio, 6) AS symbol_word_ratio,
                   round(bullet_frac, 6) AS bullet_line_frac,
                   round(ellipsis_frac, 6) AS ellipsis_line_frac,
                   round(alpha_frac, 6) AS alpha_word_frac,
                   CAST(stop_hits AS INT) AS n_stopword_kinds,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
                    AND symbol_ratio < 0.1
                    AND bullet_frac < 0.9
                    AND ellipsis_frac < 0.3
                    AND alpha_frac > 0.8
                    AND stop_hits >= 2) AS passes_gopher
            FROM m
        """,
        "q74_duplicated_spans": f"""
            -- window POSITION duplicated iff its 15-word gram occurs in
            -- >= 2 distinct docs; permille = exact integer division
            WITH w AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     [CAST(('0x' || substr(md5(array_to_string(ws[i:i+14], ' ')), 1, 15)) AS BIGINT)
                      for i in generate_series(1, greatest(len(ws) - 14, 1))] AS gs
              FROM w),
            e AS (SELECT doc_id, unnest(gs) AS g FROM g),
            dup AS (
              SELECT g FROM (SELECT DISTINCT doc_id, g FROM e)
              GROUP BY g HAVING count(*) >= 2),
            dw AS (
              SELECT doc_id, count(*) AS dup_windows FROM e
              WHERE g IN (SELECT g FROM dup) GROUP BY doc_id),
            tw AS (SELECT doc_id, count(*) AS total_windows FROM e GROUP BY doc_id)
            SELECT tw.doc_id,
                   tw.total_windows,
                   COALESCE(dw.dup_windows, 0) AS dup_windows,
                   1000 * COALESCE(dw.dup_windows, 0) // tw.total_windows AS dup_permille
            FROM tw LEFT JOIN dw ON tw.doc_id = dw.doc_id
        """,
        "q75_unigram_surprisal": _q75_sql,
        "q82_cooccurrence_pmi": f"""
            WITH w AS (SELECT {_TOKENS} AS ws FROM documents),
            uni AS (
              SELECT t.w, COUNT(*) AS cnt
              FROM (SELECT unnest(ws) AS w FROM w) t GROUP BY 1),
            big AS (
              SELECT ws[i] AS w1, ws[i + 1] AS w2
              FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM w WHERE len(ws) >= 2)),
            bc AS (
              SELECT w1, w2, COUNT(*) AS pair_count FROM big
              GROUP BY 1, 2 HAVING COUNT(*) >= 3),
            tot AS (SELECT COUNT(*) AS n FROM big)
            SELECT bc.w1, bc.w2, bc.pair_count,
                   CAST(length(bin(bc.pair_count)) + length(bin(tot.n))
                        - length(bin(u1.cnt)) - length(bin(u2.cnt))
                        AS BIGINT) AS pmi_bits
            FROM bc
            JOIN uni u1 ON bc.w1 = u1.w
            JOIN uni u2 ON bc.w2 = u2.w
            CROSS JOIN tot
        """,
        "q83_quality_prune": f"""
            WITH t AS (
              SELECT doc_id, source, {_NORM_TEXT} AS nt,
                     CAST(len({_TOKENS}) AS DOUBLE) AS n_tokens
              FROM documents),
            m AS (
              SELECT doc_id, source,
                     CAST(length(nt) AS DOUBLE) AS n_chars,
                     CAST(length(regexp_replace(nt, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
                     CAST(length(regexp_replace(nt, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                     n_tokens
              FROM t),
            s AS (
              SELECT doc_id, source,
                     round(((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                      + (CASE WHEN n_tokens > 0 AND n_alpha / n_tokens >= 2.0 AND n_alpha / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 1.0 WHEN n_chars = 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS q
              FROM m)
            SELECT doc_id, source, q FROM s
            ORDER BY q DESC, doc_id ASC LIMIT 100
        """,
        "q84_activity_histogram": f"""
            SELECT ("time" // 86400 + 4) % 7 AS dow,
                   ("time" % 86400) // 3600 AS hour,
                   event_type AS value,
                   COUNT(*) AS events
            FROM ({_E}) GROUP BY 1, 2, 3
        """,
        "q85_inverted_index": f"""
            WITH w AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents WHERE doc_id < 50),
            p AS (
              SELECT doc_id, ws[i] AS term, i AS pos
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws))) AS i
                    FROM w WHERE len(ws) > 0))
            SELECT term, doc_id,
                   COUNT(*) AS tf,
                   MIN(pos) AS first_pos,
                   string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
            FROM p GROUP BY term, doc_id
        """,
        "q95_pattern_match": f"""
            WITH e AS ({_E}),
            t AS (
              SELECT uuid, event_type,
                     last_value(CASE WHEN event_type = 'view'
                                     THEN "time" END IGNORE NULLS) OVER w AS lf,
                     last_value(CASE WHEN event_type = 'error'
                                     THEN "time" END IGNORE NULLS) OVER w AS lw
              FROM e
              WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT uuid, COUNT(*) AS n_then,
                   SUM(CASE WHEN lf IS NOT NULL AND (lw IS NULL OR lw < lf)
                            THEN 1 ELSE 0 END) AS n_matched
            FROM t WHERE event_type = 'purchase'
            GROUP BY uuid
        """,
        "q96_time_to_convert": f"""
            WITH e AS ({_E}),
            s AS (
              SELECT uuid,
                     MIN(CASE WHEN event_type = 'signup' THEN "time" END) AS st
              FROM e GROUP BY uuid),
            c AS (
              SELECT s.uuid, s.st,
                     MIN(CASE WHEN e.event_type = 'purchase' AND e."time" > s.st
                              THEN e."time" END) AS et
              FROM s JOIN e ON s.uuid = e.uuid
              WHERE s.st IS NOT NULL
              GROUP BY s.uuid, s.st)
            SELECT CASE WHEN et IS NULL THEN -1
                        ELSE (et - st) // 86400 END AS bucket,
                   COUNT(*) AS trails
            FROM c GROUP BY 1
        """,
        "q97_dup_by_source": f"""
            WITH f AS (
              SELECT doc_id, source, md5({_NORM_TEXT}) AS fp FROM documents),
            g AS (SELECT fp, COUNT(*) AS n FROM f GROUP BY fp)
            SELECT f.source,
                   COUNT(*) AS n_docs,
                   SUM(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS n_dup_docs,
                   1000 * SUM(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) // COUNT(*)
                     AS dup_permille
            FROM f JOIN g USING (fp)
            GROUP BY f.source
        """,
        "q102_gap_histogram": f"""
            WITH e AS ({_E}),
            g AS (
              SELECT lag(event_type) OVER w AS value,
                     "time" - lag("time") OVER w AS gap
              FROM e
              WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id))
            SELECT value,
                   CAST(CASE WHEN gap <= 0 THEN 0
                             ELSE length(bin(gap)) END AS BIGINT) AS gap_bucket,
                   COUNT(*) AS n_gaps
            FROM g WHERE gap IS NOT NULL
            GROUP BY 1, 2
        """,
        "q103_surprisal_mix": """
            WITH s AS ({_q75}),
            f AS (SELECT millibits_per_token AS v, COUNT(*) AS c FROM s GROUP BY 1),
            cum AS (
              SELECT v,
                     COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
                     (SELECT SUM(c) FROM f) AS n
              FROM f)
            SELECT d.source,
                   CAST(floor(5 * cum.before / cum.n) AS BIGINT) AS bucket,
                   COUNT(*) AS n_docs
            FROM s
            JOIN cum ON s.millibits_per_token = cum.v
            JOIN documents d ON s.doc_id = d.doc_id
            GROUP BY 1, 2
        """.format(_q75=_q75_sql),
        "q104_jpeg_decode": """
            -- block-flat JPEG q100 decode is exact: tile (by, bx) of the
            -- (1 + id%2) x (1 + id%3) block grid holds
            -- (by*31 + bx*17 + id) % 256; each tile contributes 64 equal
            -- pixels, so sum/min/max come straight from the tile list
            WITH a AS (
              SELECT doc_id,
                     1 + CAST(doc_id % 3 AS INT) AS wb,
                     1 + CAST(doc_id % 2 AS INT) AS hb
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, wb, hb,
                     [ ((k // wb) * 31 + (k % wb) * 17 + doc_id) % 256
                       for k in generate_series(0, hb * wb - 1) ] AS tiles
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(8 * wb AS INT) AS width,
                   CAST(8 * hb AS INT) AS height,
                   CAST(64 * list_sum(tiles) AS BIGINT) AS luma_sum,
                   CAST(list_min(tiles) AS INT) AS luma_min,
                   CAST(list_max(tiles) AS INT) AS luma_max
            FROM t
        """,
        "q105_gif_decode": """
            -- GIF decode is lossless and the palette is gray, so pixel
            -- luma == pal[(y*5 + x*3 + id) % 16] with
            -- pal[j] = (id*7 + j*13) % 256 on a (5+id%4) x (6+id%5)
            -- canvas; sum/min/max come straight from the pixel list
            WITH a AS (
              SELECT doc_id,
                     6 + CAST(doc_id % 5 AS INT) AS w,
                     5 + CAST(doc_id % 4 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ (doc_id * 7 + (((k // w) * 5 + (k % w) * 3 + doc_id) % 16) * 13) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q106_bm25": f"""
            -- whole-bit idf + integer-rational BM25 (k1=1.2, b=0.75):
            -- contrib = (idf_bits*22000*tf) // (10000*tf + 3000 + 9*r),
            -- r = (1000*dl*N) // L — all int64, bit-portable
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            t AS (SELECT doc_id, unnest(ws) AS term FROM w),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
            qd AS (
              SELECT DISTINCT doc_id AS query_id, unnest(list_slice(ws, 1, 5)) AS term
              FROM w WHERE doc_id % 97 = 0),
            sc AS (
              SELECT qd.query_id, tf.doc_id,
                     CAST(SUM(
                       ((length(bin(CAST(st.n_docs AS BIGINT)))
                         - length(bin(CAST(dft.df AS BIGINT)))) * 22000 * tf.tf)
                       // (10000 * tf.tf + 3000
                           + 9 * ((1000 * dl.dl * st.n_docs) // st.total_len))
                     ) AS BIGINT) AS score
              FROM tf
              JOIN qd USING (term)
              JOIN dft USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN st
              GROUP BY 1, 2),
            r AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id
                     ) AS rank
              FROM sc)
            SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 10
        """,
        "q107_bigram_surprisal": f"""
            -- bits(w2|w1) = len(bin(ctx_count)) - len(bin(bigram_count))
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            b AS (
              SELECT doc_id,
                     unnest([ws[i] || ' ' || ws[i+1]
                             for i in generate_series(1, len(ws) - 1)]) AS bg
              FROM w WHERE len(ws) >= 2),
            tf AS (SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY 1, 2),
            model AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
            ctx AS (
              SELECT split_part(bg, ' ', 1) AS w1,
                     CAST(sum(cnt) AS BIGINT) AS ctx_cnt
              FROM model GROUP BY 1),
            s AS (
              SELECT tf.doc_id,
                     CAST(sum(tf.tf * (length(bin(ctx.ctx_cnt))
                                       - length(bin(model.cnt)))) AS BIGINT) AS sb,
                     CAST(sum(tf.tf) AS BIGINT) AS nb
              FROM tf
              JOIN model USING (bg)
              JOIN ctx ON split_part(tf.bg, ' ', 1) = ctx.w1
              GROUP BY 1)
            SELECT d.doc_id,
                   COALESCE(s.nb, 0) AS n_bigrams,
                   COALESCE(s.sb, 0) AS surprisal_bits,
                   CASE WHEN COALESCE(s.nb, 0) = 0 THEN 0
                        ELSE 1000 * s.sb // s.nb END AS millibits_per_bigram
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
        """,
        "q108_trail_overrides_table": f"""
            -- per-trail override semantics in closed form: last uuid
            -- char '0' -> click/view only; '1' -> props <> '' AND
            -- event_type <> 'error'; otherwise the db time-range filter
            SELECT uuid, "time", event_id, event_type, props
            FROM ({_E})
            WHERE CASE
              WHEN uuid LIKE '%0' THEN event_type IN ('click', 'view')
              WHEN uuid LIKE '%1' THEN props <> '' AND event_type <> 'error'
              ELSE "time" >= {TIME_LO} AND "time" < {TIME_HI}
            END
        """,
        "q109_y4m_chroma": """
            -- closed form of the C420 fixture: 8x4 luma ramp
            -- y[f,i] = (id*7 + f*13 + i) % 256, 4x2 chroma ramps
            -- cb[f,j] = (id*3 + f*5 + j*11) % 256 and
            -- cr[f,j] = (id*13 + f*7 + j*17) % 256, n = 2 + id % 4,
            -- stride-2 frame sample
            WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
            f AS (
              SELECT doc_id,
                     unnest(generate_series(0, (2 + doc_id % 4) - 1, 2)) AS frame_idx
              FROM v),
            yp AS (
              SELECT doc_id, frame_idx,
                     SUM((doc_id * 7 + frame_idx * 13 + i) % 256) AS ysum
              FROM f, (SELECT unnest(generate_series(0, 31)) AS i)
              GROUP BY doc_id, frame_idx),
            cp AS (
              SELECT doc_id, frame_idx,
                     SUM((doc_id * 3 + frame_idx * 5 + j * 11) % 256) AS cbsum,
                     SUM((doc_id * 13 + frame_idx * 7 + j * 17) % 256) AS crsum
              FROM f, (SELECT unnest(generate_series(0, 7)) AS j)
              GROUP BY doc_id, frame_idx)
            SELECT yp.doc_id AS media_id,
                   CAST(yp.frame_idx AS INTEGER) AS frame_idx,
                   CAST(8 AS INTEGER) AS width,
                   CAST(4 AS INTEGER) AS height,
                   CAST(2 + yp.doc_id % 4 AS INTEGER) AS n_frames,
                   'C420' AS colorspace,
                   CAST(yp.ysum AS BIGINT) AS luma_sum,
                   CAST(cp.cbsum AS BIGINT) AS cb_sum,
                   CAST(cp.crsum AS BIGINT) AS cr_sum
            FROM yp JOIN cp
              ON yp.doc_id = cp.doc_id AND yp.frame_idx = cp.frame_idx
        """,
        "q110_token_heavy_hitters": f"""
            -- the exact frequent set the MG pipeline certifies: every
            -- token with count * (k+1) > N, k = 200
            WITH t AS (
              SELECT unnest({_TOKENS}) AS token FROM documents),
            c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
            s AS (SELECT SUM(n) AS total FROM c)
            SELECT c.token, c.n
            FROM c, s
            WHERE c.n * 201 > s.total
        """,
        "q111_sequence_match": f"""
            -- trail sequence as ' v1 v2 ... vn ' ordered by (time,
            -- event_id); same RE2 pattern as the Spark side
            WITH e AS ({_E}),
            seqs AS (
              SELECT uuid,
                     ' ' || string_agg(event_type, ' '
                           ORDER BY "time", event_id) || ' ' AS seq
              FROM e GROUP BY uuid)
            SELECT uuid, seq FROM seqs
            WHERE regexp_matches(seq, ' view ((click|view) )*purchase ')
        """,
        "q112_make_patch": f"""
            -- the CDC patch turning a into b, multiset semantics
            WITH a AS (
              SELECT uuid, "time", event_id, event_type FROM ({_E})),
            b AS (
              SELECT uuid, "time", event_id,
                     CASE WHEN event_id % 89 = 0 THEN 'patched'
                          ELSE event_type END AS event_type
              FROM a WHERE event_id % 97 <> 0)
            SELECT *, '-' AS __op FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
            UNION ALL
            SELECT *, '+' AS __op FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
        """,
        "q113_temperature_mix": """
            -- alpha=1/2 mixture, TOTAL=60: integer isqrt(n*10^12)
            -- weights (floor(sqrt(double)) corrected to exact isqrt),
            -- largest-remainder apportionment (remainder desc, source
            -- asc), md5(doc_id) rank selection per source
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 4 = 0 THEN source
                          ELSE 'web' END AS source
              FROM documents),
            c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
            s0 AS (
              SELECT source, n,
                     CAST(FLOOR(SQRT(CAST(n AS DOUBLE) * 1000000000000))
                          AS BIGINT) AS r
              FROM c),
            w AS (
              SELECT source, n,
                     CASE
                       WHEN (r + 1) * (r + 1) <= n * 1000000000000 THEN r + 1
                       WHEN r * r > n * 1000000000000 THEN r - 1
                       ELSE r END AS w
              FROM s0),
            tot AS (SELECT SUM(w) AS wsum FROM w),
            base AS (
              SELECT source, n, (60 * w) // wsum AS fl,
                     (60 * w) % wsum AS rem
              FROM w, tot),
            fl_sum AS (SELECT SUM(fl) AS sfl FROM base),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                        AS rr
              FROM base),
            alloc AS (
              SELECT source,
                     fl + CASE WHEN rr <= 60 - sfl THEN 1 ELSE 0 END AS q
              FROM ranked, fl_sum),
            sel AS (
              SELECT d.doc_id, d.source,
                     ROW_NUMBER() OVER (
                       PARTITION BY d.source
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                     ) AS rn
              FROM d)
            SELECT sel.doc_id, sel.source
            FROM sel JOIN alloc ON sel.source = alloc.source
            WHERE sel.rn <= alloc.q
        """,
        "q114_trigram_backoff": f"""
            -- stupid backoff vs a held-out model (even ids train, odd
            -- score): tri -> (w2,w3) -> w3 -> unknown; 1322 mb/level
            WITH mw AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents
              WHERE doc_id % 2 = 0),
            uni AS (
              SELECT w, COUNT(*) AS c1 FROM (
                SELECT unnest(ws) AS w FROM mw) GROUP BY w),
            big AS (
              SELECT b, COUNT(*) AS c2 FROM (
                SELECT unnest([ws[i] || ' ' || ws[i+1]
                               for i in generate_series(1, len(ws) - 1)]) AS b
                FROM mw WHERE len(ws) >= 2) GROUP BY b),
            tri AS (
              SELECT t, COUNT(*) AS c3 FROM (
                SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in generate_series(1, len(ws) - 2)]) AS t
                FROM mw WHERE len(ws) >= 3) GROUP BY t),
            tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
            sw AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents
              WHERE doc_id % 2 = 1),
            stf AS (
              SELECT doc_id, t, COUNT(*) AS tf FROM (
                SELECT doc_id,
                       unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in generate_series(1, len(ws) - 2)]) AS t
                FROM sw WHERE len(ws) >= 3) GROUP BY doc_id, t),
            scored AS (
              SELECT stf.doc_id,
                     CAST(SUM(stf.tf * CASE
                       WHEN tri.c3 IS NOT NULL THEN
                         1000 * (length(bin(b12.c2)) - length(bin(tri.c3)))
                       WHEN b23.c2 IS NOT NULL THEN
                         1322 + 1000 * (length(bin(u2.c1)) - length(bin(b23.c2)))
                       WHEN u3.c1 IS NOT NULL THEN
                         2644 + 1000 * (length(bin(tot.n)) - length(bin(u3.c1)))
                       ELSE 2644 + 1000 * (length(bin(tot.n)) - 1)
                     END) AS BIGINT) AS smb,
                     CAST(SUM(stf.tf) AS BIGINT) AS nt
              FROM stf
              LEFT JOIN tri ON stf.t = tri.t
              LEFT JOIN big b12
                ON split_part(stf.t, ' ', 1) || ' '
                   || split_part(stf.t, ' ', 2) = b12.b
              LEFT JOIN big b23
                ON split_part(stf.t, ' ', 2) || ' '
                   || split_part(stf.t, ' ', 3) = b23.b
              LEFT JOIN uni u2 ON split_part(stf.t, ' ', 2) = u2.w
              LEFT JOIN uni u3 ON split_part(stf.t, ' ', 3) = u3.w
              CROSS JOIN tot
              GROUP BY stf.doc_id)
            SELECT d.doc_id,
                   COALESCE(s.nt, 0) AS n_trigrams,
                   COALESCE(s.smb, 0) AS surprisal_millibits,
                   CASE WHEN COALESCE(s.nt, 0) = 0 THEN 0
                        ELSE s.smb // s.nt END AS millibits_per_trigram
            FROM documents d
            LEFT JOIN scored s ON d.doc_id = s.doc_id
            WHERE d.doc_id % 2 = 1
        """,
        # identical semantics to q06 — the chunked cursor fold must equal
        # the window formulation on the same data
        "q115_sessions_chunked": f"""
            WITH m AS (
              SELECT uuid,
                     CASE WHEN "time" - lag("time") OVER (PARTITION BY uuid ORDER BY "time") > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM ({_E}))
            SELECT uuid, CAST(SUM(is_new) + 1 AS BIGINT) AS num_sessions,
                   COUNT(*) AS num_events
            FROM m GROUP BY uuid
        """,
        "q116_fuzzy_dedup_against": _fuzzy_against_oracle(5, 16, 4, 0.5, max_bucket=256),
        # dyadic bucketed decay: integer-exact, so SUM is order-free and
        # engine-portable (no libm exp/pow anywhere)
        "q119_recency_scores": f"""
            WITH w AS (
              SELECT uuid, "time",
                     GREATEST(CAST(floor(({TIME_HI} - "time") / 86400.0) AS BIGINT), 0) AS b
              FROM ({_E}))
            SELECT uuid,
                   CAST(SUM(CASE WHEN b <= 40 THEN (1::BIGINT << (40 - b))
                            ELSE 0 END) AS BIGINT) AS score_q,
                   COUNT(*) AS n_events,
                   MAX("time") AS last_seen
            FROM w GROUP BY uuid
        """,
        "q117_emb_neardup_against": _srp_against_oracle(16, 4, 0.4, max_bucket=256),
        # whole-doc md5 sets per source through the q125 pair recipe
        "q149_dup_source_flow": f"""
            WITH d0 AS (
              SELECT source, text FROM documents
              UNION ALL
              SELECT 'mirror-' || source, text FROM documents),
            sf AS (
              SELECT DISTINCT source AS id, md5({_NORM_TEXT}) AS f
              FROM d0),
            keep AS (SELECT f FROM sf GROUP BY f HAVING COUNT(*) <= 16),
            sfk AS (SELECT sf.id, sf.f FROM sf JOIN keep USING (f)),
            tot AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_f FROM sfk GROUP BY id),
            sh AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM sfk a JOIN sfk b ON a.f = b.f AND a.id < b.id
              GROUP BY 1, 2)
            SELECT sh.id_a AS source_a, sh.id_b AS source_b,
                   ta.n_f AS docs_a, tb.n_f AS docs_b,
                   sh.shared AS shared_docs,
                   sh.shared * 1000000
                     // (ta.n_f + tb.n_f - sh.shared) AS jaccard_ppm
            FROM sh
            JOIN tot ta ON ta.id = sh.id_a
            JOIN tot tb ON tb.id = sh.id_b
        """,
        # exact k-sigma on cents per trail; HUGEINT products; the
        # magnitudes cast to DOUBLE from exact integers (deterministic)
        # CUSUM argmax over the materialized zero-filled range (the
        # operator's plateau-endpoint candidate set is provably the same
        # argmax); HUGEINT products; stat cast to DOUBLE from the exact int
        "q170_cusum_changepoint": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, "time" // 3600 AS b,
                     CAST(count(*) AS BIGINT) AS y
              FROM e GROUP BY 1, 2),
            rng AS (SELECT min(b) AS lo, max(b) AS hi,
                           CAST(max(b) - min(b) + 1 AS BIGINT) AS n FROM per),
            grid AS (
              SELECT k.key, t.i
              FROM (SELECT DISTINCT key FROM per) k
              CROSS JOIN (SELECT unnest(generate_series(1, n)) AS i
                          FROM rng) t),
            cum AS (
              SELECT g.key, g.i,
                     CAST(COALESCE(SUM(p.y) OVER (
                       PARTITION BY g.key ORDER BY g.i), 0) AS BIGINT) AS s
              FROM grid g
              LEFT JOIN per p ON p.key = g.key
                AND p.b - (SELECT lo FROM rng) + 1 = g.i),
            tot AS (SELECT key, max(s) AS t FROM cum GROUP BY key),
            scored AS (
              SELECT c.key, c.i, c.s, tot.t,
                     abs(CAST((SELECT n FROM rng) AS HUGEINT) * c.s
                         - CAST(c.i AS HUGEINT) * tot.t) AS d
              FROM cum c JOIN tot USING (key)),
            pick AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY key ORDER BY d DESC, i ASC) AS r
              FROM scored)
            SELECT p.key,
                   (SELECT n FROM rng) AS n_buckets,
                   p.t AS n_events,
                   CASE WHEN (SELECT n FROM rng) > 1
                        THEN (SELECT lo FROM rng) + p.i - 1 END AS cp_bucket,
                   CASE WHEN (SELECT n FROM rng) > 1 THEN p.i END AS cp_index,
                   CASE WHEN (SELECT n FROM rng) > 1
                        THEN CAST(p.d AS DOUBLE) END AS cusum_stat,
                   CASE WHEN (SELECT n FROM rng) > 1
                        THEN 1000 * p.s // p.i END AS rate_before_ppm_mille,
                   CASE WHEN (SELECT n FROM rng) > 1
                         AND (SELECT n FROM rng) > p.i
                        THEN 1000 * (p.t - p.s)
                             // ((SELECT n FROM rng) - p.i) END
                     AS rate_after_ppm_mille
            FROM pick p WHERE p.r = 1
        """,
        # q75's whole-bit surprisal + per-source ascending rank +
        # equal-mass integer tertile cut
        "q171_perplexity_buckets": f"""
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            t AS (SELECT doc_id, unnest(ws) AS term FROM w),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
            tot AS (SELECT sum(cnt) AS total FROM vocab),
            s AS (
              SELECT tf.doc_id,
                     sum(tf.tf * (length(bin(CAST(tot.total AS BIGINT)))
                                  - length(bin(CAST(vocab.cnt AS BIGINT)))))
                       AS sb,
                     sum(tf.tf) AS nt
              FROM tf JOIN vocab USING (term) CROSS JOIN tot
              GROUP BY tf.doc_id),
            mb AS (
              SELECT d.doc_id, d.source,
                     CASE WHEN COALESCE(s.nt, 0) = 0 THEN 0
                          ELSE 1000 * s.sb // s.nt END AS millibits_per_token
              FROM documents d LEFT JOIN s USING (doc_id)),
            r AS (
              SELECT *,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY millibits_per_token, doc_id) AS BIGINT)
                       AS rank_in_group,
                     CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n_in_group
              FROM mb)
            SELECT doc_id, source, millibits_per_token, rank_in_group,
                   n_in_group,
                   CASE (rank_in_group - 1) * 3 // n_in_group
                        WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM r
        """,
        # whole-bit DSIR: raw-vocab left join to the target counts,
        # count-0 smoothing = the one-digit binary; sign-factored //
        "q172_dsir_importance": f"""
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            t AS (SELECT doc_id, unnest(ws) AS term FROM w),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            vr AS (SELECT term, sum(tf) AS cnt_r FROM tf GROUP BY term),
            tt AS (
              SELECT unnest(ws) AS term
              FROM (SELECT {_TOKENS} AS ws FROM documents WHERE lang = 'en')),
            vt AS (SELECT term, count(*) AS cnt_t FROM tt GROUP BY term),
            v AS (
              SELECT vr.term, vr.cnt_r, COALESCE(vt.cnt_t, 0) AS cnt_t
              FROM vr LEFT JOIN vt USING (term)),
            totr AS (SELECT sum(cnt_r) AS total_r FROM v),
            tott AS (SELECT count(*) AS total_t FROM tt),
            s AS (
              SELECT tf.doc_id,
                     sum(tf.tf * (
                       (length(bin(CAST(totr.total_r AS BIGINT)))
                        - length(bin(CAST(v.cnt_r AS BIGINT))))
                       - (length(bin(CAST(tott.total_t AS BIGINT)))
                          - length(bin(CAST(v.cnt_t AS BIGINT))))))
                       AS wb,
                     sum(tf.tf) AS nt
              FROM tf JOIN v USING (term) CROSS JOIN totr CROSS JOIN tott
              GROUP BY tf.doc_id)
            SELECT d.doc_id,
                   COALESCE(s.nt, 0) AS n_tokens,
                   COALESCE(s.wb, 0) AS weight_bits,
                   CASE WHEN COALESCE(s.nt, 0) = 0 THEN 0
                        WHEN s.wb >= 0 THEN 1000 * s.wb // s.nt
                        ELSE -((1000 * -s.wb) // s.nt) END
                     AS milliweight_per_token
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        # md5-bucket arms; pooled z-squared with the FIXED double
        # evaluation order ((dd*dd)*N) / (((n_a*n_b)*s)*(N-s))
        "q173_ab_conversion": f"""
            WITH e AS ({_E}),
            arm AS (
              SELECT uuid,
                     CASE WHEN CAST(('0x' || substr(md5(uuid), 1, 15))
                               AS BIGINT) % 10000 < 5000
                          THEN 'arm_a' ELSE 'arm_b' END AS variant,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS conv
              FROM e),
            pt AS (
              SELECT uuid, min(variant) AS variant,
                     CAST(max(conv) AS BIGINT) AS conv
              FROM arm GROUP BY uuid),
            pv AS (
              SELECT variant, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(conv) AS BIGINT) AS s
              FROM pt GROUP BY variant)
            SELECT a.variant AS variant_a, b.variant AS variant_b,
                   a.n AS n_a, a.s AS conv_a, b.n AS n_b, b.s AS conv_b,
                   1000000 * a.s // a.n AS rate_a_ppm,
                   1000000 * b.s // b.n AS rate_b_ppm,
                   CASE WHEN a.s + b.s > 0 AND a.s + b.s < a.n + b.n THEN
                     (CAST(CAST(a.s AS HUGEINT) * b.n
                           - CAST(b.s AS HUGEINT) * a.n AS DOUBLE)
                      * CAST(CAST(a.s AS HUGEINT) * b.n
                             - CAST(b.s AS HUGEINT) * a.n AS DOUBLE)
                      * CAST(a.n + b.n AS DOUBLE))
                     / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)
                        * CAST(a.s + b.s AS DOUBLE)
                        * CAST(a.n + b.n - a.s - b.s AS DOUBLE))
                   END AS z2,
                   CASE WHEN a.s + b.s > 0 AND a.s + b.s < a.n + b.n THEN
                     (CAST(CAST(a.s AS HUGEINT) * b.n
                           - CAST(b.s AS HUGEINT) * a.n AS DOUBLE)
                      * CAST(CAST(a.s AS HUGEINT) * b.n
                             - CAST(b.s AS HUGEINT) * a.n AS DOUBLE)
                      * CAST(a.n + b.n AS DOUBLE))
                     / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)
                        * CAST(a.s + b.s AS DOUBLE)
                        * CAST(a.n + b.n - a.s - b.s AS DOUBLE))
                     > 3.841458820694124
                   END AS significant_95
            FROM pv a JOIN pv b ON a.variant < b.variant
        """,
        # exact whole-bit Zipf OLS; rank = row_number(freq desc, term)
        "q174_zipf_slope": f"""
            WITH t AS (
              SELECT source AS grp, unnest({_TOKENS}) AS term
              FROM documents),
            tf AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS freq
                   FROM t GROUP BY 1, 2),
            rk AS (
              SELECT grp, freq,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY grp ORDER BY freq DESC, term) AS BIGINT)
                       AS rank
              FROM tf),
            m AS (
              SELECT grp,
                     CAST(count(*) AS HUGEINT) AS n,
                     CAST(sum(length(bin(rank))) AS HUGEINT) AS sx,
                     CAST(sum(length(bin(freq))) AS HUGEINT) AS sy,
                     CAST(sum(CAST(length(bin(rank)) AS HUGEINT)
                              * length(bin(freq))) AS HUGEINT) AS sxy,
                     CAST(sum(CAST(length(bin(rank)) AS HUGEINT)
                              * length(bin(rank))) AS HUGEINT) AS sxx
              FROM rk GROUP BY grp)
            SELECT grp AS source, CAST(n AS BIGINT) AS n_terms,
                   CASE WHEN n * sxx - sx * sx > 0
                        THEN CAST(n * sxy - sx * sy AS BIGINT) END
                     AS slope_num,
                   CASE WHEN n * sxx - sx * sx > 0
                        THEN CAST(n * sxx - sx * sx AS BIGINT) END
                     AS slope_den,
                   CASE WHEN n * sxx - sx * sx > 0 THEN
                     CASE WHEN n * sxy - sx * sy >= 0
                          THEN CAST(((n * sxy - sx * sy) * 1000000)
                                    // (n * sxx - sx * sx) AS BIGINT)
                          ELSE -CAST(((sx * sy - n * sxy) * 1000000)
                                     // (n * sxx - sx * sx) AS BIGINT)
                     END END AS slope_ppm
            FROM m
        """,
        # Q12 fixed-point PageRank, 10 unrolled iterations mirroring the
        # operator's integer recurrence (per-edge truncating div on
        # non-negative operands -> // == div)
        "q175_pagerank": f"""
            WITH l AS (
              SELECT event_type,
                     lag(event_type) OVER (PARTITION BY uuid
                                           ORDER BY "time", event_id) AS prev
              FROM ({_E})),
            edges AS (
              SELECT prev AS src, event_type AS dst,
                     CAST(COUNT(*) AS HUGEINT) AS w
              FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges)),
            cnt AS (
              SELECT CAST(count(*) AS HUGEINT) AS n,
                     CAST(1000000000000 AS HUGEINT) // count(*) AS r0,
                     15 * CAST(1000000000000 AS HUGEINT)
                       // (100 * count(*)) AS b
              FROM nodes),
            outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
            it0 AS (SELECT node, (SELECT r0 FROM cnt) AS r FROM nodes),
            it1 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it0 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it2 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it1 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it3 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it2 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it4 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it3 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it5 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it4 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it6 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it5 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it7 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it6 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it8 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it7 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it9 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it8 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node),
            it10 AS (
              SELECT n.node,
                     (SELECT b FROM cnt)
                     + 85 * COALESCE(c.contrib, 0) // 100 AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((p.r * e.w) // o.tw) AS contrib
                FROM it9 p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst) c ON c.node = n.node)
            SELECT node AS event_type, CAST(r AS BIGINT) AS rank_q12,
                   CAST((SELECT n FROM cnt) AS BIGINT) AS n_nodes
            FROM it10
        """,
        # q32's stopword-overlap CASE reused against the label column
        "q176_langid_confusion": f"""
            SELECT lang_actual, lang_detected,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   lang_actual = lang_detected AS is_match
            FROM (SELECT lang AS lang_actual, {lang_case} AS lang_detected
                  FROM documents)
            GROUP BY 1, 2
        """,
        # exact quintiles: 5 - (rank-1)*5 // n, rank desc ties by uuid
        "q177_rfm_segments": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid, max("time") AS last_time,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS monetary_cents
              FROM e GROUP BY uuid),
            n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM per),
            rk AS (
              SELECT *,
                     CAST(ROW_NUMBER() OVER (
                       ORDER BY last_time DESC, uuid) AS BIGINT) AS rr,
                     CAST(ROW_NUMBER() OVER (
                       ORDER BY n_events DESC, uuid) AS BIGINT) AS rf,
                     CAST(ROW_NUMBER() OVER (
                       ORDER BY monetary_cents DESC, uuid) AS BIGINT) AS rm
              FROM per)
            SELECT uuid, {TIME_HI} - last_time AS recency_seconds,
                   n_events, monetary_cents,
                   5 - (rr - 1) * 5 // nn AS r_score,
                   5 - (rf - 1) * 5 // nn AS f_score,
                   5 - (rm - 1) * 5 // nn AS m_score,
                   CAST(5 - (rr - 1) * 5 // nn AS VARCHAR)
                   || CAST(5 - (rf - 1) * 5 // nn AS VARCHAR)
                   || CAST(5 - (rm - 1) * 5 // nn AS VARCHAR) AS segment
            FROM rk CROSS JOIN n
        """,
        # first-occurrence sentence filter by list_position, q129's
        # segmentation
        "q178_dedup_sentences": f"""
            WITH s AS (
              SELECT doc_id,
                     list_filter([trim(x) for x in
                                  string_split_regex({_NORM_TEXT}, '[.!?]+')],
                                 x -> x <> '') AS ss
              FROM documents),
            u AS (
              SELECT doc_id, ss,
                     [ss[i] for i in generate_series(1, len(ss))
                      if list_position(ss, ss[i]) = i] AS uu
              FROM s)
            SELECT doc_id,
                   CAST(len(ss) AS BIGINT) AS n_sentences,
                   CAST(len(uu) AS BIGINT) AS n_unique,
                   CAST(CASE WHEN len(ss) = 0 THEN 0 ELSE
                     1000000 * (len(ss) - len(uu)) // len(ss) END AS BIGINT)
                     AS removed_ppm,
                   array_to_string(uu, '. ') AS text_deduped
            FROM u
        """,
        # whitespace tokens of the NORMALIZED text vs BPE-ish regex over
        # the RAW text; exact truncating rates
        "q179_token_stats": f"""
            WITH per AS (
              SELECT lang,
                     CAST(len({_TOKENS}) AS BIGINT) AS ws,
                     CAST(len(regexp_extract_all(text, '{_BPE_RE}'))
                          AS BIGINT) AS bpe,
                     CAST(length({_NORM_TEXT}) AS BIGINT) AS ch
              FROM documents),
            m AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
                     CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
                     CAST(sum(ch) AS BIGINT) AS n_chars
              FROM per GROUP BY lang)
            SELECT lang, n_docs, n_ws_tokens, n_bpe_tokens, n_chars,
                   CASE WHEN n_ws_tokens > 0
                        THEN 1000000 * n_bpe_tokens // n_ws_tokens END
                     AS fertility_ppm,
                   CASE WHEN n_ws_tokens > 0
                        THEN 1000 * n_chars // n_ws_tokens END
                     AS chars_per_token_milli,
                   1000 * n_ws_tokens // n_docs AS tokens_per_doc_milli
            FROM m
        """,
        # q153's fold on day-of-week bins (epoch day 0 = Thursday -> +3)
        "q180_weekly_profile": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, (("time" // 86400) + 3) % 7 AS hour,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM e GROUP BY 1, 2),
            agg AS (
              SELECT key, CAST(SUM(c) AS BIGINT) AS n_events,
                     min(struct_pack(nc := -c, h := hour)) AS pk,
                     CAST(COUNT(*) AS BIGINT) AS days_active,
                     CAST(SUM(c * length(bin(c))) AS BIGINT) AS cb
              FROM per GROUP BY key)
            SELECT key, n_events, CAST(pk.h AS BIGINT) AS peak_dow,
                   (-pk.nc) * 1000000 // n_events AS peak_ppm,
                   days_active,
                   1000 * (n_events * length(bin(n_events)) - cb)
                     // n_events AS entropy_millibits
            FROM agg
        """,
        # per-key md5 rank <= k
        "q181_sample_exact_by_key": """
            SELECT doc_id, source, n_chars
            FROM (
              SELECT doc_id, source, n_chars,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('evalk:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS r
              FROM documents)
            WHERE r <= 5
        """,
        # q38's SRP pipeline and q37's exact pairs as CTEs; canonical
        # unordered pairs; exact ppm ratios (f1 = 2c/(p+t))
        "q182_lsh_recall": f"""
            WITH pred0 AS (SELECT * FROM ({_srp_neardup_oracle(24, 4, 0.4)})),
            truth0 AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE round({cos_ab}, 6) >= 0.4),
            p AS (SELECT DISTINCT least(id_a, id_b) AS a,
                         greatest(id_a, id_b) AS b FROM pred0),
            t AS (SELECT DISTINCT least(id_a, id_b) AS a,
                         greatest(id_a, id_b) AS b FROM truth0),
            np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM p),
            nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM t),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common
                   FROM p JOIN t USING (a, b))
            SELECT n_pred, n_truth, n_common,
                   CASE WHEN n_pred > 0
                        THEN 1000000 * n_common // n_pred END
                     AS precision_ppm,
                   CASE WHEN n_truth > 0
                        THEN 1000000 * n_common // n_truth END
                     AS recall_ppm,
                   CASE WHEN n_pred + n_truth > 0
                        THEN 2000000 * n_common // (n_pred + n_truth) END
                     AS f1_ppm
            FROM np CROSS JOIN nt CROSS JOIN nc
        """,
        # whole-bit tf-idf per doc, rank (score desc, term)
        "q183_doc_keywords": f"""
            WITH t AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM t GROUP BY 1, 2),
            dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY term),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            sc AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     CAST(length(bin(nd.n)) - length(bin(dfq.df)) AS BIGINT)
                       AS idf_bits
              FROM tf JOIN dfq USING (term) CROSS JOIN nd)
            SELECT doc_id, term, tf, idf_bits,
                   tf * idf_bits AS score, rank
            FROM (SELECT *, CAST(ROW_NUMBER() OVER (
                    PARTITION BY doc_id
                    ORDER BY tf * idf_bits DESC, term) AS INT) AS rank
                  FROM sc)
            WHERE rank <= 5
        """,
        # per-anchor top-3 among DIFFERENT-label vectors (q39's scoring
        # with the label exclusion)
        "q184_hard_negatives": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round({cos_cq}, 6) AS cos,
                     q.label AS query_label, c.label AS corpus_label
              FROM embeddings c
              JOIN embeddings q ON q.vec_id < 10 AND c.label <> q.label)
            SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS rank,
                   query_label, corpus_label
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, corpus_id) AS rnk
                  FROM scored)
            WHERE rnk <= 3
        """,
        "q185_au_decode": """
            -- AU 16-bit BE PCM is lossless: s[i] = (i*59 + id*13) % 3601
            -- - 1800, n = 40 + id%50, rate = 8000 + 2000*(id%4)
            WITH a AS (
              SELECT doc_id,
                     40 + CAST(doc_id % 50 AS BIGINT) AS n,
                     CAST(8000 + 2000 * (doc_id % 4) AS INT) AS rate
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n, rate,
                     [ (i*59 + doc_id*13) % 3601 - 1800
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            )
            SELECT doc_id AS media_id,
                   rate AS sample_rate,
                   1 AS channels,
                   n AS n_samples,
                   n * 1000 // rate AS duration_ms,
                   ROUND(sqrt(CAST(list_sum(list_transform(xs, x -> x*x)) AS DOUBLE) / n), 6) AS rms,
                   CAST(len(list_filter(generate_series(2, n), i -> xs[i-1] * xs[i] < 0)) AS BIGINT) AS zcr,
                   CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
            FROM s
        """,
        # day - row_number() run anchor; struct-min (-len, end) tie rule
        "q188_longest_streak": f"""
            WITH e AS ({_E}),
            days AS (SELECT DISTINCT uuid, "time" // 86400 AS d FROM e),
            runs AS (
              SELECT uuid, CAST(count(*) AS BIGINT) AS len, max(d) AS "end"
              FROM (SELECT uuid, d,
                           d - ROW_NUMBER() OVER (
                             PARTITION BY uuid ORDER BY d) AS anchor
                    FROM days)
              GROUP BY uuid, anchor)
            SELECT uuid,
                   CAST(sum(len) AS BIGINT) AS active_buckets,
                   CAST(-(min(struct_pack(nl := -len, e := "end")).nl)
                        AS BIGINT) AS longest_streak,
                   min(struct_pack(nl := -len, e := "end")).e
                     AS streak_end_bucket
            FROM runs GROUP BY uuid
        """,
        # gap-rule sessions -> [start, end] intervals -> +1/-1 sweep;
        # starts before ends at equal t (closed intervals)
        "q189_peak_concurrency": f"""
            WITH e AS ({_E}),
            m AS (
              SELECT uuid, "time" AS t,
                     CASE WHEN "time" - lag("time") OVER (
                       PARTITION BY uuid ORDER BY "time") > 1800
                       THEN 1 ELSE 0 END AS is_new
              FROM e),
            sid AS (
              SELECT uuid, t,
                     SUM(is_new) OVER (PARTITION BY uuid ORDER BY t
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM m),
            sess AS (
              SELECT uuid, session_id, min(t) AS s, max(t) AS en
              FROM sid GROUP BY uuid, session_id),
            pts AS (
              SELECT s AS t, 1 AS d FROM sess
              UNION ALL SELECT en AS t, -1 AS d FROM sess),
            run AS (
              SELECT t, SUM(d) OVER (ORDER BY t, d DESC
                ROWS UNBOUNDED PRECEDING) AS r
              FROM pts),
            pk AS (SELECT max(r) AS p FROM run)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM sess) AS n_sessions,
                   CAST(pk.p AS BIGINT) AS peak_concurrency,
                   (SELECT min(t) FROM run WHERE r = pk.p) AS peak_time
            FROM pk
        """,
        # tfpanel md5 panel; whole-bit idf weights (q183), df cap 1000,
        # HUGEINT cross-multiplied cos² lattice at t = 0.5 (t² = 2.5e11)
        "q194_tfidf_cosine": f"""
            WITH pm AS (
              SELECT greatest(1, (COUNT(*) + 399) // 400) AS m
              FROM documents),
            d AS (
              SELECT doc_id, text FROM documents CROSS JOIN pm
              WHERE CAST(('0x' || substr(md5('tfpanel:' || doc_id), 1, 15))
                         AS BIGINT) % pm.m = 0),
            t AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM d),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM t GROUP BY 1, 2),
            dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY term HAVING count(*) <= 1000),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
            w AS (
              SELECT tf.doc_id, tf.term,
                     tf.tf * (length(bin(nd.n)) - length(bin(dfq.df))) AS w
              FROM tf JOIN dfq USING (term) CROSS JOIN nd
              WHERE tf.tf * (length(bin(nd.n)) - length(bin(dfq.df))) > 0),
            nrm AS (SELECT doc_id, CAST(SUM(w * w) AS HUGEINT) AS n2
                    FROM w GROUP BY doc_id),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(SUM(a.w * b.w) AS HUGEINT) AS dot
              FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT p.id_a, p.id_b, CAST(p.dot AS BIGINT) AS dot,
                   CAST(na.n2 AS BIGINT) AS norm_a,
                   CAST(nb.n2 AS BIGINT) AS norm_b,
                   CAST((p.dot * p.dot * 1000000) // (na.n2 * nb.n2)
                        AS BIGINT) AS cos2_ppm
            FROM p
            JOIN nrm na ON na.doc_id = p.id_a
            JOIN nrm nb ON nb.doc_id = p.id_b
            WHERE p.dot * p.dot * 1000000000000
                  >= CAST(250000000000 AS HUGEINT) * na.n2 * nb.n2
        """,
        # lag over (uuid, key) with event_id tiebreak; q138's lattice on
        # 1-second gap bins (floor(gap/1) = gap for integer seconds)
        "q193_interarrival": f"""
            WITH e AS ({_E}),
            g AS (
              SELECT event_type AS key,
                     "time" - lag("time") OVER (
                       PARTITION BY uuid, event_type
                       ORDER BY "time", event_id) AS gap
              FROM e),
            pb AS (
              SELECT key, gap AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
            c AS (
              SELECT key, bin,
                     CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY bin)
                          AS HUGEINT) AS cum,
                     CAST(SUM(cnt) OVER (PARTITION BY key) AS HUGEINT) AS tot
              FROM pb)
            SELECT key, CAST(MAX(tot) AS BIGINT) AS n_values,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) AS p50_bin,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) * CAST(1.0 AS DOUBLE) AS p50,
                   MIN(CASE WHEN cum * 1000000 >= 900000 * tot THEN bin END) AS p90_bin,
                   MIN(CASE WHEN cum * 1000000 >= 900000 * tot THEN bin END) * CAST(1.0 AS DOUBLE) AS p90,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) AS p99_bin,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) * CAST(1.0 AS DOUBLE) AS p99
            FROM c GROUP BY key
        """,
        # q121's Q10 unnest; W = n·T − Σ S², B = Σ (N·S_l − n·S)², all
        # HUGEINT; fisher = B·1e6 // (N²·W), NULL at W = 0
        "q192_label_separability": """
            WITH q AS (
              SELECT CAST(label AS BIGINT) AS label, vec_id,
                     unnest(generate_series(1, len(embedding))) AS di,
                     unnest([CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)
                             for x in embedding]) AS qx
              FROM embeddings WHERE label IS NOT NULL),
            ld AS (
              SELECT label, di, CAST(SUM(qx) AS HUGEINT) AS s
              FROM q GROUP BY 1, 2),
            lt AS (
              SELECT label, CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n,
                     CAST(SUM(qx * qx) AS HUGEINT) AS t
              FROM q GROUP BY 1),
            g AS (SELECT di, CAST(SUM(s) AS HUGEINT) AS gs
                  FROM ld GROUP BY di),
            tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn FROM lt),
            w AS (
              SELECT lt.label, lt.n,
                     lt.n * lt.t - (SELECT SUM(ld.s * ld.s) FROM ld
                                    WHERE ld.label = lt.label) AS wl
              FROM lt),
            b AS (
              SELECT ld.label,
                     SUM((tot.nn * ld.s - lt.n * g.gs)
                         * (tot.nn * ld.s - lt.n * g.gs)) AS bl
              FROM ld JOIN lt ON lt.label = ld.label
              JOIN g ON g.di = ld.di CROSS JOIN tot
              GROUP BY ld.label)
            SELECT w.label, CAST(w.n AS BIGINT) AS n_vecs,
                   CAST(w.wl AS DECIMAL(38,0)) AS within_lattice,
                   CAST(b.bl AS DECIMAL(38,0)) AS between_num,
                   CASE WHEN w.wl > 0 THEN
                     CAST((b.bl * 1000000)
                          // ((SELECT nn FROM tot) * (SELECT nn FROM tot)
                              * w.wl) AS BIGINT)
                   ELSE NULL END AS fisher_ppm
            FROM w JOIN b ON w.label = b.label
        """,
        # lower-median / MAD by the 2·cum >= tot nearest-rank rule on the
        # cents lattice; strict |c - med| > k·mad integer flag
        "q191_mad_outliers": f"""
            WITH e AS ({_E}),
            b AS (
              SELECT event_type AS key, uuid, "time",
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM e WHERE value IS NOT NULL),
            h AS (SELECT key, c, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM b GROUP BY 1, 2),
            cu AS (
              SELECT key, c,
                     SUM(cnt) OVER (PARTITION BY key ORDER BY c) AS cum,
                     SUM(cnt) OVER (PARTITION BY key) AS tot
              FROM h),
            med AS (
              SELECT key, MIN(CASE WHEN 2 * cum >= tot THEN c END) AS med
              FROM cu GROUP BY key),
            ad AS (
              SELECT h.key, abs(h.c - med.med) AS d,
                     CAST(SUM(h.cnt) AS BIGINT) AS cnt
              FROM h JOIN med ON h.key = med.key GROUP BY 1, 2),
            cu2 AS (
              SELECT key, d,
                     SUM(cnt) OVER (PARTITION BY key ORDER BY d) AS cum,
                     SUM(cnt) OVER (PARTITION BY key) AS tot
              FROM ad),
            mad AS (
              SELECT key, MIN(CASE WHEN 2 * cum >= tot THEN d END) AS mad
              FROM cu2 GROUP BY key)
            SELECT b.key, b.uuid, b."time", b.c AS cents,
                   med.med AS med_cents, mad.mad AS mad_cents
            FROM b JOIN med ON b.key = med.key
            JOIN mad ON b.key = mad.key
            WHERE abs(b.c - med.med) > 5 * mad.mad
        """,
        # q138's integer nearest-rank lattice per (key, hour bucket);
        # truncating `div` == `//` for non-negative epoch times
        "q190_percentiles_by_bucket": f"""
            WITH e AS ({_E}),
            pb AS (
              SELECT event_type AS key, "time" // 3600 AS bucket,
                     CAST(floor(value / 10.0) AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM e WHERE value IS NOT NULL GROUP BY 1, 2, 3),
            c AS (
              SELECT key, bucket, bin,
                     CAST(SUM(cnt) OVER (PARTITION BY key, bucket
                          ORDER BY bin) AS HUGEINT) AS cum,
                     CAST(SUM(cnt) OVER (PARTITION BY key, bucket)
                          AS HUGEINT) AS tot
              FROM pb)
            SELECT key, bucket, CAST(MAX(tot) AS BIGINT) AS n_values,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) AS p50_bin,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) * CAST(10.0 AS DOUBLE) AS p50,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) AS p99_bin,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) * CAST(10.0 AS DOUBLE) AS p99
            FROM c GROUP BY key, bucket
        """,
        "q169_trail_value_outliers": f"""
            WITH e AS ({_E}),
            b AS (
              SELECT uuid, "time", event_id AS tb,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM e),
            st AS (
              SELECT uuid, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(c) AS BIGINT) AS s,
                     SUM(CAST(c AS HUGEINT) * c) AS q
              FROM b GROUP BY uuid HAVING COUNT(*) >= 5)
            SELECT b.uuid, b."time", b.tb AS event_id, b.c AS cents,
                   CAST((CAST(st.n AS HUGEINT) * b.c - st.s)
                        * (CAST(st.n AS HUGEINT) * b.c - st.s) AS DOUBLE)
                     AS dev_num,
                   CAST(4 * (CAST(st.n AS HUGEINT) * st.q
                             - CAST(st.s AS HUGEINT) * st.s) AS DOUBLE)
                     AS bound_num
            FROM b JOIN st ON b.uuid = st.uuid
            WHERE (CAST(st.n AS HUGEINT) * b.c - st.s)
                  * (CAST(st.n AS HUGEINT) * b.c - st.s)
                  > 4 * (CAST(st.n AS HUGEINT) * st.q
                         - CAST(st.s AS HUGEINT) * st.s)
        """,
        # LOCF integral: lead-gap per (time, event_id) window; cents
        # via one round(value*100); HUGEINT weighted sum; span-0 trails
        # report their own (struct-max) value
        "q167_twap": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid, "time" AS t, event_id AS tb,
                     CAST(round(value * 100) AS BIGINT) AS c,
                     lead("time") OVER (
                       PARTITION BY uuid ORDER BY "time", event_id) - "time"
                       AS gap
              FROM e),
            agg AS (
              SELECT uuid, CAST(COUNT(*) AS BIGINT) AS n_events,
                     min(t) AS first_t, max(t) AS last_t,
                     COALESCE(SUM(CAST(c AS HUGEINT) * gap), 0) AS ws,
                     max(struct_pack(t := t, tb := tb, c := c)) AS lastc
              FROM per GROUP BY uuid)
            SELECT uuid, n_events,
                   CAST(last_t - first_t AS BIGINT) AS span_seconds,
                   CASE WHEN last_t > first_t THEN
                     CAST(CASE WHEN ws >= 0
                          THEN ws // CAST(last_t - first_t AS HUGEINT)
                          ELSE -((-ws) // CAST(last_t - first_t AS HUGEINT))
                          END AS BIGINT)
                   ELSE lastc.c END AS twap_cents
            FROM agg
        """,
        # struct-min/max open/close on (t, event_id, cents)
        "q168_ohlc_bars": f"""
            WITH e AS ({_E}),
            b AS (
              SELECT event_type AS key, "time" // 3600 AS bucket,
                     "time" AS t, event_id AS tb,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM e)
            SELECT key, bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
                   min(struct_pack(t := t, tb := tb, c := c)).c AS open_cents,
                   max(c) AS high_cents,
                   min(c) AS low_cents,
                   max(struct_pack(t := t, tb := tb, c := c)).c AS close_cents
            FROM b GROUP BY key, bucket
        """,
        "q187_ico_decode": """
            -- identity gray palette DIB inside the icon: rounded luma ==
            -- (y*23 + x*11 + id*3) % 256 on a (4 + id%4) x (4 + id%5)
            -- canvas
            WITH a AS (
              SELECT doc_id,
                     4 + CAST(doc_id % 5 AS INT) AS w,
                     4 + CAST(doc_id % 4 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 23 + (k % w) * 11 + doc_id * 3) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        # one lag window per field, NULL-safe predecessor equality
        # (IS NOT DISTINCT FROM == eqNullSafe); fields unioned
        "q200_edge_savings": f"""
            WITH e AS ({_E}),
            l AS (
              SELECT
                CASE WHEN lag("time") OVER w IS NOT NULL
                     THEN 1 ELSE 0 END AS cmp,
                CASE WHEN lag("time") OVER w IS NOT NULL
                          AND event_type IS NOT DISTINCT FROM
                              lag(event_type) OVER w
                     THEN 1 ELSE 0 END AS r_et,
                CASE WHEN lag("time") OVER w IS NOT NULL
                          AND value IS NOT DISTINCT FROM lag(value) OVER w
                     THEN 1 ELSE 0 END AS r_v,
                CASE WHEN lag("time") OVER w IS NOT NULL
                          AND props IS NOT DISTINCT FROM lag(props) OVER w
                     THEN 1 ELSE 0 END AS r_p
              FROM e
              WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id)),
            a AS (
              SELECT CAST(SUM(cmp) AS BIGINT) AS n,
                     CAST(SUM(r_et) AS BIGINT) AS et,
                     CAST(SUM(r_v) AS BIGINT) AS v,
                     CAST(SUM(r_p) AS BIGINT) AS p
              FROM l)
            SELECT 'event_type' AS field, n AS n_comparisons,
                   et AS n_repeats,
                   CASE WHEN n > 0 THEN et * 1000000 // n END AS repeat_ppm
            FROM a
            UNION ALL
            SELECT 'value', n, v,
                   CASE WHEN n > 0 THEN v * 1000000 // n END FROM a
            UNION ALL
            SELECT 'props', n, p,
                   CASE WHEN n > 0 THEN p * 1000000 // n END FROM a
        """,
        # margins×margins grid with zero-fill; dev = N·O − R·C, chi2 =
        # dev²·1e6 // (N·R·C), all HUGEINT
        "q199_chisq_hour_mix": f"""
            WITH e AS ({_E}),
            b AS (
              SELECT event_type AS a, ("time" // 3600) % 24 AS hb
              FROM e WHERE event_type IS NOT NULL),
            obs AS (SELECT a, hb, CAST(COUNT(*) AS BIGINT) AS o
                    FROM b GROUP BY 1, 2),
            ra AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS r FROM b GROUP BY a),
            cb AS (SELECT hb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY hb),
            nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM b)
            SELECT ra.a, cb.hb AS b,
                   COALESCE(obs.o, 0) AS observed,
                   ra.r AS row_total, cb.c AS col_total,
                   CAST(nn.n * COALESCE(obs.o, 0) - CAST(ra.r AS HUGEINT) * cb.c
                        AS BIGINT) AS dev_num,
                   CAST(((nn.n * COALESCE(obs.o, 0)
                          - CAST(ra.r AS HUGEINT) * cb.c)
                         * (nn.n * COALESCE(obs.o, 0)
                            - CAST(ra.r AS HUGEINT) * cb.c) * 1000000)
                        // (nn.n * ra.r * cb.c) AS BIGINT) AS chi2_cell_ppm
            FROM ra CROSS JOIN cb CROSS JOIN nn
            LEFT JOIN obs ON obs.a = ra.a AND obs.hb = cb.hb
        """,
        # q138's lattice at bin_width 5.0 — NULL values excluded before
        # binning, same nearest-rank rule
        "q198_percentiles_from_counts": f"""
            WITH e AS ({_E}),
            pb AS (
              SELECT event_type AS key,
                     CAST(floor(value / 5.0) AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM e WHERE value IS NOT NULL GROUP BY 1, 2),
            c AS (
              SELECT key, bin,
                     CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY bin)
                          AS HUGEINT) AS cum,
                     CAST(SUM(cnt) OVER (PARTITION BY key) AS HUGEINT) AS tot
              FROM pb)
            SELECT key, CAST(MAX(tot) AS BIGINT) AS n_values,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) AS p50_bin,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) * CAST(5.0 AS DOUBLE) AS p50,
                   MIN(CASE WHEN cum * 1000000 >= 900000 * tot THEN bin END) AS p90_bin,
                   MIN(CASE WHEN cum * 1000000 >= 900000 * tot THEN bin END) * CAST(5.0 AS DOUBLE) AS p90,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) AS p99_bin,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) * CAST(5.0 AS DOUBLE) AS p99
            FROM c GROUP BY key
        """,
        "q196_voc_decode": """
            -- VOC 16-bit PCM is lossless (split or not): s[i] =
            -- (i*41 + id*19) % 3801 - 1900, n = 45 + id%45,
            -- rate = 11025 + 1000*(id%3)
            WITH a AS (
              SELECT doc_id,
                     45 + CAST(doc_id % 45 AS BIGINT) AS n,
                     CAST(11025 + 1000 * (doc_id % 3) AS INT) AS rate
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n, rate,
                     [ (i*41 + doc_id*19) % 3801 - 1900
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            )
            SELECT doc_id AS media_id,
                   rate AS sample_rate,
                   1 AS channels,
                   n AS n_samples,
                   n * 1000 // rate AS duration_ms,
                   ROUND(sqrt(CAST(list_sum(list_transform(xs, x -> x*x)) AS DOUBLE) / n), 6) AS rms,
                   CAST(len(list_filter(generate_series(2, n), i -> xs[i-1] * xs[i] < 0)) AS BIGINT) AS zcr,
                   CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
            FROM s
        """,
        "q202_media_inventory": """
            -- container = cycle(tga,pcx,bmp,ras)[doc_id % 4] on image rows
            SELECT ['tga', 'pcx', 'bmp', 'ras'][CAST(doc_id % 4 AS INT) + 1]
                     AS container,
                   CAST(COUNT(*) AS BIGINT) AS n_payloads
            FROM documents WHERE doc_id % 3 = 0
            GROUP BY 1
        """,
        "q201_ras_decode": """
            -- identity colormap or raw indices: rounded luma ==
            -- (y*29 + x*7 + id*13) % 256 on (4+id%3) x (3+id%6)
            WITH a AS (
              SELECT doc_id,
                     3 + CAST(doc_id % 6 AS INT) AS w,
                     4 + CAST(doc_id % 3 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 29 + (k % w) * 7 + doc_id * 13) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q195_pcx_decode": """
            -- identity VGA palette (or paletteless raw indices): rounded
            -- luma == (y*23 + x*3 + id*11) % 256 on (3+id%4) x (4+id%5)
            WITH a AS (
              SELECT doc_id,
                     4 + CAST(doc_id % 5 AS INT) AS w,
                     3 + CAST(doc_id % 4 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 23 + (k % w) * 3 + doc_id * 11) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q186_tga_decode": """
            -- 8-bit gray TGA is a raw sample dump regardless of RLE /
            -- origin: luma == (y*19 + x*5 + id*7) % 256 on a
            -- (3 + id%5) x (4 + id%6) canvas
            WITH a AS (
              SELECT doc_id,
                     4 + CAST(doc_id % 6 AS INT) AS w,
                     3 + CAST(doc_id % 5 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 19 + (k % w) * 5 + doc_id * 7) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q166_bmp_decode": """
            -- identity gray palette: rounded luma == palette index ==
            -- (y*13 + x*7 + id*5) % 256 on a (3+id%6) x (4+id%4) canvas
            WITH a AS (
              SELECT doc_id,
                     4 + CAST(doc_id % 4 AS INT) AS w,
                     3 + CAST(doc_id % 6 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 13 + (k % w) * 7 + doc_id * 5) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q165_aiff_decode": """
            -- AIFF 16-bit PCM is lossless: s[i] = (i*53 + id*17) % 4001
            -- - 2000, n = 50 + id%40, rate = 8000 + 4000*(id%3)
            WITH a AS (
              SELECT doc_id,
                     50 + CAST(doc_id % 40 AS BIGINT) AS n,
                     CAST(8000 + 4000 * (doc_id % 3) AS INT) AS rate
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n, rate,
                     [ (i*53 + doc_id*17) % 4001 - 2000
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            )
            SELECT doc_id AS media_id,
                   rate AS sample_rate,
                   1 AS channels,
                   n AS n_samples,
                   n * 1000 // rate AS duration_ms,
                   ROUND(sqrt(CAST(list_sum(list_transform(xs, x -> x*x)) AS DOUBLE) / n), 6) AS rms,
                   CAST(len(list_filter(generate_series(2, n), i -> xs[i-1] * xs[i] < 0)) AS BIGINT) AS zcr,
                   CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
            FROM s
        """,
        "q164_pnm_decode": """
            -- gray netpbm at maxval 255 is a raw sample dump: luma ==
            -- (y*11 + x*17 + id*3) % 256 on a (4+id%5) x (5+id%3) canvas
            WITH a AS (
              SELECT doc_id,
                     5 + CAST(doc_id % 3 AS INT) AS w,
                     4 + CAST(doc_id % 5 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 11 + (k % w) * 17 + doc_id * 3) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        # Fano factor over zero-filled hourly buckets; HUGEINT
        # products, non-negative numerator so // == truncating div
        "q163_burstiness": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, "time" // 3600 AS b,
                     CAST(COUNT(*) AS BIGINT) AS y
              FROM e GROUP BY 1, 2),
            rng AS (
              SELECT CAST(MAX(b) - MIN(b) + 1 AS BIGINT) AS n FROM per),
            st AS (
              SELECT key, CAST(SUM(y) AS BIGINT) AS s,
                     SUM(CAST(y AS HUGEINT) * y) AS q
              FROM per GROUP BY key)
            SELECT key, rng.n AS n_buckets, st.s AS n_events,
                   CAST((CAST(rng.n AS HUGEINT) * st.q
                         - CAST(st.s AS HUGEINT) * st.s) * 1000000
                        // (CAST(rng.n AS HUGEINT) * st.s) AS BIGINT)
                     AS fano_ppm
            FROM st CROSS JOIN rng
        """,
        # md5-60 bucket + parity sign; grid + list(ORDER BY) dense
        # layout (the trail_vectors mirror)
        "q162_hash_embedding": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS}) AS w FROM documents),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv
              FROM tok),
            per AS (
              SELECT doc_id, hv % 32 AS b,
                     CAST(SUM(CASE WHEN (hv // 32) % 2 = 0 THEN 1 ELSE -1 END)
                          AS BIGINT) AS v
              FROM h GROUP BY doc_id, hv % 32),
            grid AS (
              SELECT d.doc_id, gs.i
              FROM (SELECT DISTINCT doc_id FROM per) d
              CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) gs),
            vec AS (
              SELECT grid.doc_id,
                     list(COALESCE(per.v, 0) ORDER BY grid.i) AS vector
              FROM grid LEFT JOIN per
                ON per.doc_id = grid.doc_id AND per.b = grid.i
              GROUP BY grid.doc_id)
            SELECT doc_id, vector FROM vec
        """,
        # brute all-pairs on the portable md5-60 shingle sets; the
        # Spark side prunes with the df-ordered prefix filter but both
        # verify exactly, so outputs are identical
        "q161_containment": f"""
            WITH pm AS (
              SELECT GREATEST(1, (COUNT(*) + 299) // 300) AS m
              FROM documents),
            t AS (
              SELECT doc_id, {_NORM_TEXT} AS nt
              FROM documents CROSS JOIN pm
              WHERE CAST(('0x' || substr(md5('ctpanel:' || doc_id), 1, 15))
                         AS BIGINT) % pm.m = 0),
            g AS MATERIALIZED (
              SELECT doc_id,
                     list_sort(list_distinct(
                       [CAST(('0x' || substr(md5(substr(nt, i, 5)), 1, 15)) AS BIGINT)
                        for i in generate_series(1, greatest(length(nt) - 4, 1))])) AS hs
              FROM t),
            sz AS (SELECT doc_id, hs, len(hs) AS n FROM g WHERE len(hs) > 0),
            pairs AS MATERIALIZED (
              SELECT a.doc_id AS sub_id, b.doc_id AS super_id,
                     CAST(a.n AS INT) AS sub_grams,
                     round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                           / CAST(a.n AS DOUBLE), 6) AS containment
              FROM sz a JOIN sz b ON a.doc_id <> b.doc_id)
            SELECT sub_id, super_id, sub_grams, containment
            FROM pairs WHERE containment >= 0.7
        """,
        # q46 md5 bucket split (buckets=10000, hi=9000); distinct
        # 3-gram sets; left-join membership; truncating div
        "q160_ngram_coverage": f"""
            WITH sp AS (
              SELECT *, CASE WHEN CAST(('0x' || substr(md5('cov:' || doc_id),
                                        1, 15)) AS BIGINT) % 10000 < 9000
                             THEN 'train' ELSE 'val' END AS split
              FROM documents),
            toks AS (
              SELECT split, string_split({_NORM_TEXT}, ' ') AS w FROM sp),
            tg AS (
              SELECT DISTINCT unnest({grams3}) AS g FROM toks
              WHERE split = 'train'),
            pg AS (
              SELECT DISTINCT unnest({grams3}) AS g FROM toks
              WHERE split = 'val')
            SELECT CAST(COUNT(*) AS BIGINT) AS probe_grams,
                   CAST(COALESCE(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 END), 0)
                        AS BIGINT) AS covered_grams,
                   CAST(COALESCE(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 END), 0)
                        * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
            FROM pg LEFT JOIN tg ON pg.g = tg.g
        """,
        # single-byte ASCII lexicon map (chr(33+r-1) — DuckDB
        # levenshtein is BYTE-level, Spark's char-level; ASCII keeps
        # them identical); string_agg rendering in (time, event_id)
        # order; native levenshtein on the md5 panel
        "q159_trail_seq_distance": f"""
            WITH e0 AS ({_E}),
            pm AS (
              SELECT GREATEST(3, (COUNT(DISTINCT uuid) + 39) // 40) AS m
              FROM e0),
            e AS (
              SELECT e0.* FROM e0 CROSS JOIN pm
              WHERE CAST(('0x' || substr(md5('seqpanel:' || uuid), 1, 15))
                         AS BIGINT) % pm.m = 0),
            lex AS (
              SELECT v, chr(33 + CAST(row_number() OVER (ORDER BY v)
                                      AS INT) - 1) AS ch
              FROM (SELECT DISTINCT event_type AS v FROM e)),
            seqs AS (
              SELECT uuid,
                     string_agg(ch, '' ORDER BY "time", event_id) AS seq
              FROM e JOIN lex ON e.event_type = lex.v
              GROUP BY uuid),
            pairs AS MATERIALIZED (
              SELECT a.uuid AS uuid_a, b.uuid AS uuid_b,
                     CAST(length(a.seq) AS INT) AS len_a,
                     CAST(length(b.seq) AS INT) AS len_b,
                     CAST(levenshtein(a.seq, b.seq) AS INT) AS seq_distance
              FROM seqs a JOIN seqs b ON a.uuid < b.uuid)
            SELECT uuid_a, uuid_b, len_a, len_b, seq_distance,
                   CAST((GREATEST(len_a, len_b) - seq_distance) * 1000000
                        // GREATEST(len_a, len_b) AS BIGINT)
                     AS similarity_ppm
            FROM pairs
            WHERE (GREATEST(len_a, len_b) - seq_distance) * 1000000
                  // GREATEST(len_a, len_b) >= 420000
        """,
        # (source, token) counts; hapax = count==1 within source;
        # truncating div on non-negative operands
        "q158_lexical_richness": f"""
            WITH tok AS (
              SELECT source AS key, unnest({_TOKENS}) AS w FROM documents),
            per AS (
              SELECT key, w, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY key, w)
            SELECT key, CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_hapax,
                   CAST(COUNT(*) * 1000000 // CAST(SUM(c) AS BIGINT)
                        AS BIGINT) AS ttr_ppm,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                        // COUNT(*) AS BIGINT) AS hapax_ppm
            FROM per GROUP BY key
        """,
        # q31's quality expr; rank within source by (quality DESC, id);
        # gi = alphabetical source index; sparse position (r-1)*G + gi
        "q157_curriculum_order": f"""
            WITH t AS (
              SELECT doc_id, source, {_NORM_TEXT} AS nt,
                     CAST(len({_TOKENS}) AS DOUBLE) AS n_tokens
              FROM documents),
            m AS (
              SELECT doc_id, source,
                     CAST(length(nt) AS DOUBLE) AS n_chars,
                     CAST(length(regexp_replace(nt, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
                     CAST(length(regexp_replace(nt, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                     n_tokens
              FROM t),
            q AS (
              SELECT doc_id, source,
                     round(((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                      + (CASE WHEN n_tokens > 0 AND n_alpha / n_tokens >= 2.0 AND n_alpha / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 1.0 WHEN n_chars = 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
              FROM m),
            gi AS (
              SELECT source, row_number() OVER (ORDER BY source) - 1 AS g,
                     (SELECT COUNT(DISTINCT source) FROM documents) AS ng
              FROM (SELECT DISTINCT source FROM documents)),
            r AS (
              SELECT doc_id, source, quality,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY quality DESC, doc_id)
                       AS BIGINT) AS rank_in_group
              FROM q)
            SELECT r.doc_id, r.source, r.quality, r.rank_in_group,
                   (r.rank_in_group - 1) * gi.ng + gi.g AS position
            FROM r JOIN gi ON r.source = gi.source
        """,
        # lag gaps per trail ((time, event_id) tiebreak); HUGEINT
        # products; non-negative numerator so // == truncating div;
        # sum_gap = 0 -> NULL cv2
        "q156_robot_trails": f"""
            WITH e AS ({_E}),
            gaps AS (
              SELECT uuid,
                     "time" - lag("time") OVER (
                       PARTITION BY uuid ORDER BY "time", event_id) AS g
              FROM e),
            per AS (
              SELECT uuid, CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(COUNT(g) AS BIGINT) AS n_gaps,
                     CAST(COALESCE(SUM(g), 0) AS BIGINT) AS sum_gap,
                     COALESCE(SUM(CAST(g AS HUGEINT) * g), 0) AS q
              FROM gaps GROUP BY uuid)
            SELECT uuid, n_events,
                   sum_gap // greatest(n_gaps, 1) AS mean_gap,
                   CASE WHEN sum_gap > 0 THEN
                     CAST(1000000 * (CAST(n_gaps AS HUGEINT) * q
                                     - CAST(sum_gap AS HUGEINT) * sum_gap)
                          // (CAST(sum_gap AS HUGEINT) * sum_gap) AS BIGINT)
                   END AS cv2_ppm,
                   (n_events >= 10 AND cv2_ppm IS NOT NULL
                    AND cv2_ppm <= 10000) AS is_robot
            FROM per
        """,
        # self-lag form of q132: sub-range moments on [lo, hi-k] /
        # [lo+k, hi] (zero-filled, so conditional sums over observed
        # buckets), HUGEINT products, 3-IEEE-op finale
        "q155_volume_autocorrelation": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, "time" // 3600 AS b,
                     CAST(COUNT(*) AS BIGINT) AS y
              FROM e GROUP BY 1, 2),
            rng AS (
              SELECT CAST(MIN(b) AS BIGINT) AS lo, CAST(MAX(b) AS BIGINT) AS hi
              FROM per),
            lags AS (SELECT CAST(unnest([1, 2, 3, 6, 12, 24]) AS BIGINT) AS k),
            st AS (
              SELECT key, k,
                     COALESCE(SUM(CASE WHEN b <= hi - k THEN y END), 0) AS sx,
                     COALESCE(SUM(CASE WHEN b <= hi - k
                              THEN CAST(y AS HUGEINT) * y END), 0) AS qx,
                     COALESCE(SUM(CASE WHEN b >= lo + k THEN y END), 0) AS sy,
                     COALESCE(SUM(CASE WHEN b >= lo + k
                              THEN CAST(y AS HUGEINT) * y END), 0) AS qy
              FROM per CROSS JOIN rng CROSS JOIN lags
              GROUP BY key, k),
            xy AS (
              SELECT a.key, l.k,
                     CAST(SUM(CAST(a.y AS HUGEINT) * c.y) AS HUGEINT) AS sxy
              FROM per a CROSS JOIN lags l
              JOIN per c ON c.key = a.key AND c.b = a.b + l.k
              GROUP BY 1, 2),
            m AS (
              SELECT st.key, st.k, rng.hi - rng.lo + 1 - st.k AS n,
                     (rng.hi - rng.lo + 1 - st.k) * COALESCE(xy.sxy, 0)
                       - CAST(st.sx AS HUGEINT) * st.sy AS num,
                     (rng.hi - rng.lo + 1 - st.k) * st.qx
                       - CAST(st.sx AS HUGEINT) * st.sx AS dx,
                     (rng.hi - rng.lo + 1 - st.k) * st.qy
                       - CAST(st.sy AS HUGEINT) * st.sy AS dy
              FROM st
              LEFT JOIN xy ON xy.key = st.key AND xy.k = st.k
              CROSS JOIN rng
              WHERE rng.hi - rng.lo + 1 - st.k >= 2)
            SELECT key, k AS lag, CAST(n AS BIGINT) AS n_buckets,
                   CASE WHEN dx > 0 AND dy > 0 THEN
                     round(CAST(num AS DOUBLE)
                           / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6)
                   END AS autocorr
            FROM m
        """,
        # rank-formula Gini over per-source masses; HUGEINT products
        # mirror Spark's decimal(38,0); non-negative numerator so // ==
        # truncating div
        "q154_source_balance": """
            WITH per AS (
              SELECT source AS key, CAST(COUNT(*) AS BIGINT) AS nd,
                     CAST(SUM(length(text)) AS BIGINT) AS nc
              FROM documents GROUP BY source),
            ranked AS (
              SELECT key, nd, nc,
                     row_number() OVER (ORDER BY nd, key) AS rd,
                     row_number() OVER (ORDER BY nc, key) AS rc
              FROM per),
            agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
                     CAST(SUM(nd) AS BIGINT) AS total_docs,
                     CAST(SUM(nc) AS BIGINT) AS total_chars,
                     SUM(CAST(rd AS HUGEINT) * CAST(nd AS HUGEINT)) AS sd,
                     SUM(CAST(rc AS HUGEINT) * CAST(nc AS HUGEINT)) AS sc,
                     CAST(MAX(nd) AS BIGINT) AS maxd
              FROM ranked)
            SELECT n_sources, total_docs, total_chars,
                   CAST((2 * sd - (CAST(n_sources AS HUGEINT) + 1)
                         * CAST(total_docs AS HUGEINT)) * 1000000
                        // (CAST(n_sources AS HUGEINT)
                            * CAST(total_docs AS HUGEINT)) AS BIGINT)
                     AS gini_docs_ppm,
                   CAST((2 * sc - (CAST(n_sources AS HUGEINT) + 1)
                         * CAST(total_chars AS HUGEINT)) * 1000000
                        // (CAST(n_sources AS HUGEINT)
                            * CAST(total_chars AS HUGEINT)) AS BIGINT)
                     AS gini_chars_ppm,
                   CAST(CAST(maxd AS HUGEINT) * 1000000
                        // CAST(total_docs AS HUGEINT) AS BIGINT)
                     AS top_share_ppm
            FROM agg
        """,
        # 24-bin diurnal histogram per type; struct-min (-c, hour) peak
        # (earliest hour on ties); whole-bit entropy, truncating div
        "q153_diurnal_profile": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, ("time" // 3600) % 24 AS hour,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM e GROUP BY event_type, ("time" // 3600) % 24),
            agg AS (
              SELECT key, CAST(SUM(c) AS BIGINT) AS n_events,
                     min(struct_pack(nc := -c, h := hour)) AS pk,
                     CAST(COUNT(*) AS BIGINT) AS hours_active,
                     CAST(SUM(c * length(bin(c))) AS BIGINT) AS cb
              FROM per GROUP BY key)
            SELECT key, n_events, CAST(pk.h AS BIGINT) AS peak_hour,
                   (-pk.nc) * 1000000 // n_events AS peak_ppm,
                   hours_active,
                   1000 * (n_events * length(bin(n_events)) - cb)
                     // n_events AS entropy_millibits
            FROM agg
        """,
        # right-censored life table: churn observed iff silent > gap at
        # obs end; at_risk = suffix cumsum over the lifetime histogram
        "q152_survival_table": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid, min("time") AS first_t, max("time") AS last_t
              FROM e GROUP BY uuid),
            obs AS (SELECT max(last_t) AS obs_end FROM per),
            lt AS (
              SELECT (last_t - first_t) // 3600 AS duration_bucket,
                     (obs_end - last_t) > {86400} AS is_churn
              FROM per, obs),
            hist AS (
              SELECT duration_bucket,
                     CAST(SUM(CASE WHEN is_churn THEN 1 ELSE 0 END) AS BIGINT)
                       AS churned,
                     CAST(SUM(CASE WHEN is_churn THEN 0 ELSE 1 END) AS BIGINT)
                       AS censored
              FROM lt GROUP BY duration_bucket)
            SELECT duration_bucket,
                   CAST(SUM(churned + censored) OVER (
                     ORDER BY duration_bucket DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS at_risk,
                   churned, censored
            FROM hist
        """,
        # brute-force over the complete |len diff| <= d filter; the
        # Spark side prunes further with the Ed-Join prefix filter, but
        # exact verify on both sides makes the OUTPUTS identical — the
        # materialized fences stop DuckDB from hoisting levenshtein into
        # the 250k-pair nested loop
        "q151_edit_distance": f"""
            WITH pm AS (
              SELECT GREATEST(1, (COUNT(*) + 1199) // 1200) AS m
              FROM documents),
            n AS MATERIALIZED (
              SELECT doc_id, {_NORM_TEXT} AS t, length({_NORM_TEXT}) AS l
              FROM documents CROSS JOIN pm
              WHERE CAST(('0x' || substr(md5('edpanel:' || doc_id), 1, 15))
                         AS BIGINT) % pm.m = 0),
            cand AS MATERIALIZED (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.t AS ta, b.t AS tb
              FROM n a JOIN n b
                ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 6),
            scored AS MATERIALIZED (
              SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INT) AS edit_distance
              FROM cand)
            SELECT id_a, id_b, edit_distance FROM scored WHERE edit_distance <= 6
        """,
        # arg-min/max via ROW ordering on (time, event_id)
        "q150_entry_exit": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid,
                     min(struct_pack(t := "time", i := event_id,
                                     v := event_type)) AS mn,
                     max(struct_pack(t := "time", i := event_id,
                                     v := event_type)) AS mx
              FROM e GROUP BY uuid)
            SELECT mn.v AS entry, mx.v AS exit,
                   CAST(COUNT(*) AS BIGINT) AS trails
            FROM per GROUP BY mn.v, mx.v
        """,
        # lead over (time, event_id) per trail; whole-bit entropy of the
        # outgoing counts, truncating div
        "q147_transition_entropy": f"""
            WITH e AS ({_E}),
            p AS (
              SELECT event_type AS src,
                     lead(event_type) OVER (
                       PARTITION BY uuid ORDER BY "time", event_id) AS dst
              FROM e),
            c AS (
              SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
              FROM p WHERE dst IS NOT NULL GROUP BY src, dst)
            SELECT src, CAST(SUM(c) AS BIGINT) AS n_out,
                   CAST(COUNT(*) AS BIGINT) AS n_dst,
                   1000 * (CAST(SUM(c) AS BIGINT)
                           * length(bin(CAST(SUM(c) AS BIGINT)))
                           - CAST(SUM(c * length(bin(c))) AS BIGINT))
                     // CAST(SUM(c) AS BIGINT) AS entropy_millibits
            FROM c GROUP BY src
        """,
        # three vocabulary-/doc-scale aggregates: totals, distinct
        # tokens, duplicate-fingerprint volume
        "q148_corpus_card": f"""
            WITH per AS (
              SELECT doc_id, CAST(len({_TOKENS}) AS INT) AS n_toks,
                     md5({_NORM_TEXT}) AS fp
              FROM documents),
            ds AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                     MIN(n_toks) AS min_tokens, MAX(n_toks) AS max_tokens
              FROM per),
            v AS (
              SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
              FROM (SELECT unnest({_TOKENS}) AS w FROM documents)),
            d AS (
              SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0)
                          AS BIGINT) AS dup_docs
              FROM (SELECT fp, COUNT(*) AS c FROM per GROUP BY fp))
            SELECT ds.n_docs, ds.n_tokens, v.vocab_size,
                   CASE WHEN ds.n_docs > 0
                        THEN 1000 * ds.n_tokens // ds.n_docs END AS mean_tokens_x1000,
                   ds.min_tokens, ds.max_tokens, d.dup_docs,
                   CASE WHEN ds.n_docs > 0
                        THEN d.dup_docs * 1000000 // ds.n_docs END AS dup_ppm
            FROM ds CROSS JOIN v CROSS JOIN d
        """,
        # q06's sessionization + q60's independent min-chain, both keyed
        # on (uuid, session)
        "q146_session_funnel": f"""
            WITH e0 AS (SELECT uuid, "time" AS t, event_type FROM ({_E})),
            m AS (
              SELECT uuid, t, event_type,
                     CASE WHEN t - lag(t) OVER (PARTITION BY uuid ORDER BY t) > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM e0),
            e AS (
              SELECT uuid,
                     CAST(SUM(is_new) OVER (PARTITION BY uuid ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS sid,
                     t, event_type
              FROM m),
            u AS (SELECT DISTINCT uuid, sid FROM e),
            c0 AS (SELECT uuid, sid, min(t) AS t0 FROM e
                   WHERE event_type = 'signup' GROUP BY uuid, sid),
            c1 AS (SELECT e.uuid, e.sid, min(t) AS t1
                   FROM e JOIN c0 USING (uuid, sid)
                   WHERE event_type = 'view' AND t > t0 GROUP BY e.uuid, e.sid),
            c2 AS (SELECT e.uuid, e.sid, min(t) AS t2
                   FROM e JOIN c1 USING (uuid, sid)
                   WHERE event_type = 'purchase' AND t > t1 GROUP BY e.uuid, e.sid)
            SELECT u.uuid, u.sid AS session_id,
                   c0.t0 AS s0, c1.t1 AS s1, c2.t2 AS s2
            FROM u LEFT JOIN c0 USING (uuid, sid)
                   LEFT JOIN c1 USING (uuid, sid)
                   LEFT JOIN c2 USING (uuid, sid)
        """,
        # Wilson bounds: same IEEE op chain on exact counts, half-up
        # round — z and z² appear as identical double literals
        "q144_conversion_rates": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
              FROM e GROUP BY uuid),
            a AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_trails,
                     CAST(SUM(conv) AS BIGINT) AS n_converted
              FROM per),
            m AS (
              SELECT n_trails, n_converted,
                     CAST(n_trails AS DOUBLE) AS n,
                     CAST(n_converted AS DOUBLE) AS x,
                     CAST(3.8415999999999995 AS DOUBLE) AS z2
              FROM a)
            SELECT n_trails, n_converted,
                   CASE WHEN n_trails > 0 THEN round(x / n, 6) END AS rate,
                   CASE WHEN n_trails > 0 THEN round(
                     (x / n + z2 / (2 * n))
                       / (CAST(1.0 AS DOUBLE) + z2 / n)
                     - CAST(1.96 AS DOUBLE)
                       * sqrt((x / n) * (CAST(1.0 AS DOUBLE) - x / n) / n
                              + z2 / (4 * n * n))
                       / (CAST(1.0 AS DOUBLE) + z2 / n), 6) END AS wilson_lo,
                   CASE WHEN n_trails > 0 THEN round(
                     (x / n + z2 / (2 * n))
                       / (CAST(1.0 AS DOUBLE) + z2 / n)
                     + CAST(1.96 AS DOUBLE)
                       * sqrt((x / n) * (CAST(1.0 AS DOUBLE) - x / n) / n
                              + z2 / (4 * n * n))
                       / (CAST(1.0 AS DOUBLE) + z2 / n), 6) END AS wilson_hi
            FROM m
        """,
        # whole-bit entropy: 1000·(n·bits(n) − Σ cnt·bits(cnt)) div n
        "q145_trail_entropy": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid, event_type AS v, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM e GROUP BY 1, 2),
            g AS (
              SELECT uuid, CAST(SUM(cnt) AS BIGINT) AS n_events,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(SUM(cnt * length(bin(cnt))) AS BIGINT) AS cb
              FROM per GROUP BY uuid)
            SELECT uuid, n_events, n_distinct,
                   1000 * (n_events * length(bin(n_events)) - cb)
                     // n_events AS entropy_millibits
            FROM g
        """,
        # n²·Σq² − 2n·(q·S) + ΣS² on HUGEINTs; threshold literal
        # floor((1.008·1024)²) = 1065420 baked into both sides
        "q143_embedding_outliers": """
            WITH q AS (
              SELECT vec_id,
                     [CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)
                      for x in embedding] AS qv
              FROM embeddings),
            u AS (
              SELECT vec_id,
                     unnest(generate_series(1, len(qv))) AS i,
                     unnest(qv) AS qx
              FROM q),
            sv AS (
              SELECT list(s ORDER BY i) AS S,
                     CAST(COUNT(*) AS BIGINT) AS d
              FROM (SELECT i, CAST(SUM(qx) AS BIGINT) AS s
                    FROM u GROUP BY i)),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
            ssq AS (
              SELECT CAST(list_reduce(list_prepend(0::HUGEINT,
                       [CAST(x AS HUGEINT) * x for x in sv.S]),
                       (a, b) -> a + b) AS HUGEINT) AS ss
              FROM sv),
            per AS (
              SELECT q.vec_id,
                     CAST(nn.n AS HUGEINT) * nn.n
                       * list_reduce(list_prepend(0::HUGEINT,
                           [CAST(x AS HUGEINT) * x for x in q.qv]),
                           (a, b) -> a + b)
                     - 2 * CAST(nn.n AS HUGEINT)
                       * list_reduce(list_prepend(0::HUGEINT,
                           [CAST(q.qv[i] AS HUGEINT) * sv.S[i]
                            for i in generate_series(1, len(q.qv))]),
                           (a, b) -> a + b)
                     + ssq.ss AS d2
              FROM q CROSS JOIN nn CROSS JOIN sv CROSS JOIN ssq)
            SELECT vec_id AS id,
                   CAST(d2 AS BIGINT) AS d2_lattice,
                   d2 > CAST(nn.n AS HUGEINT) * nn.n * 1065420 AS is_outlier
            FROM per CROSS JOIN nn
        """,
        # q42's components + the hash_bucket range rule on the label
        "q142_leakage_safe_split": """
            WITH labeled AS ({_q42})
            SELECT doc_id, component,
                   CASE WHEN CAST(('0x' || substr(md5(
                          CAST(component AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 10000 < 8000
                   THEN 'train' ELSE 'val' END AS split
            FROM labeled
        """.format(_q42=_q42_sql),
        # q47's distinct-gram recipe, pair-level join + count instead of
        # the anti-join verdict
        "q141_contamination_report": f"""
            WITH w AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     list_distinct(
                       [CAST(('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15)) AS BIGINT)
                        for i in generate_series(1, greatest(len(ws) - 12, 1))]) AS gs
              FROM w),
            bg AS (
              SELECT doc_id AS bench_id, unnest(gs) AS gram
              FROM g WHERE doc_id % 50 = 0),
            cg AS (
              SELECT doc_id, unnest(gs) AS gram
              FROM g WHERE doc_id % 50 <> 0)
            SELECT bg.bench_id, cg.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS shared_grams
            FROM cg JOIN bg ON cg.gram = bg.gram
            GROUP BY bg.bench_id, cg.doc_id
        """,
        # floor(factor) copies + one md5-threshold fractional copy;
        # generate_series explode mirrors Spark's sequence explode
        "q140_upsample_corpus": """
            WITH f AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.5
                                 WHEN 'src2' THEN 0.25 ELSE 1.0 END AS fac
              FROM documents),
            n AS (
              SELECT doc_id, source,
                     CAST(floor(fac) AS BIGINT)
                     + CASE WHEN CAST(('0x' || substr(md5('up:' ||
                           CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000
                         < CAST(round((fac - floor(fac)) * 1000000) AS BIGINT)
                       THEN 1 ELSE 0 END AS n_copies
              FROM f)
            SELECT doc_id, source,
                   CAST(unnest(generate_series(0, n_copies - 1)) AS INT) AS epoch
            FROM n WHERE n_copies > 0
        """,
        # q131's register recipe grouped by event_type
        "q139_hll_by_key": f"""
            WITH e AS ({_E}),
            h AS (
              SELECT event_type AS key,
                     CAST(('0x' || substr(md5(uuid || ':' || props), 1, 15))
                          AS BIGINT) AS h
              FROM e),
            rk AS (
              SELECT key, h >> 53 AS b,
                     CASE WHEN (h & ((1::BIGINT << 53) - 1)) = 0 THEN 54
                          ELSE 53 - length(bin(h & ((1::BIGINT << 53) - 1))) + 1
                     END AS r
              FROM h),
            regs AS (SELECT key, b, MAX(r) AS r FROM rk GROUP BY key, b),
            s AS (
              SELECT key, CAST(COUNT(*) AS BIGINT) AS n_present,
                     COALESCE(SUM(CAST((1::BIGINT << (54 - r)) AS HUGEINT)),
                              0::HUGEINT) AS ps
              FROM regs GROUP BY key),
            n AS (
              SELECT key, 128 AS m, n_present,
                     ps + (128 - n_present) * (1::HUGEINT << 54) AS numer
              FROM s)
            SELECT key, m, n_present,
                   CAST(numer AS DOUBLE) AS numer_d,
                   CAST(11718.991761634348 AS DOUBLE)
                     * CAST(18014398509481984.0 AS DOUBLE)
                     / CAST(numer AS DOUBLE) AS estimate
            FROM n
        """,
        # same integer nearest-rank lattice on HUGEINTs; bin lower
        # boundary = bin * 10.0 (one IEEE multiply)
        "q138_histogram_percentiles": f"""
            WITH e AS ({_E}),
            pb AS (
              SELECT event_type AS key,
                     CAST(floor(value / 10.0) AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM e WHERE value IS NOT NULL GROUP BY 1, 2),
            c AS (
              SELECT key, bin,
                     CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY bin)
                          AS HUGEINT) AS cum,
                     CAST(SUM(cnt) OVER (PARTITION BY key) AS HUGEINT) AS tot
              FROM pb)
            SELECT key, CAST(MAX(tot) AS BIGINT) AS n_values,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) AS p50_bin,
                   MIN(CASE WHEN cum * 1000000 >= 500000 * tot THEN bin END) * CAST(10.0 AS DOUBLE) AS p50,
                   MIN(CASE WHEN cum * 1000000 >= 900000 * tot THEN bin END) AS p90_bin,
                   MIN(CASE WHEN cum * 1000000 >= 900000 * tot THEN bin END) * CAST(10.0 AS DOUBLE) AS p90,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) AS p99_bin,
                   MIN(CASE WHEN cum * 1000000 >= 990000 * tot THEN bin END) * CAST(10.0 AS DOUBLE) AS p99
            FROM c GROUP BY key
        """,
        # json_extract_string ≡ get_json_object: NULL on malformed or
        # missing; integer aggregation after the cast
        "q137_props_extract": f"""
            WITH e AS ({_E}),
            x AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM e)
            SELECT event_type, COUNT(*) AS n,
                   COUNT(k) AS n_with_k,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   MIN(k) AS min_k, MAX(k) AS max_k
            FROM x GROUP BY event_type
        """,
        # uuid×lexicon zero-fill grid + list(cnt ORDER BY v) builds the
        # same ascending-lexicon vector layout
        "q136_trail_vectors": f"""
            WITH e AS ({_E}),
            lex AS (SELECT DISTINCT event_type AS v FROM e
                    WHERE event_type IS NOT NULL),
            c AS (
              SELECT uuid, event_type AS v, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM e WHERE event_type IS NOT NULL GROUP BY 1, 2),
            u AS (SELECT uuid, CAST(SUM(cnt) AS BIGINT) AS n_events
                  FROM c GROUP BY uuid),
            grid AS (
              SELECT u.uuid, lex.v, COALESCE(c.cnt, 0) AS cnt
              FROM u CROSS JOIN lex
              LEFT JOIN c ON c.uuid = u.uuid AND c.v = lex.v)
            SELECT g.uuid, u.n_events,
                   list(g.cnt ORDER BY g.v) AS vec
            FROM grid g JOIN u ON u.uuid = g.uuid
            GROUP BY g.uuid, u.n_events
        """,
        # HUGEINT cumulative lattice over observed bins; EMD gap-weighted
        # by lead(bin) - bin; truncating ppm division
        "q135_cdf_drift": f"""
            WITH e AS ({_E}),
            pb AS (
              SELECT event_type AS key,
                     CAST(floor(value / 10.0) AS BIGINT) AS bin,
                     SUM(CASE WHEN "time" < 1705000000 THEN 1 ELSE 0 END) AS cnt_a,
                     SUM(CASE WHEN "time" < 1705000000 THEN 0 ELSE 1 END) AS cnt_b
              FROM e WHERE value IS NOT NULL
              GROUP BY 1, 2),
            t AS (
              SELECT key, CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
                     CAST(SUM(cnt_b) AS BIGINT) AS tot_b
              FROM pb GROUP BY key),
            c AS (
              SELECT key, bin,
                     CAST(SUM(cnt_a) OVER (PARTITION BY key ORDER BY bin) AS HUGEINT) AS cum_a,
                     CAST(SUM(cnt_b) OVER (PARTITION BY key ORDER BY bin) AS HUGEINT) AS cum_b,
                     COALESCE(LEAD(bin) OVER (PARTITION BY key ORDER BY bin) - bin,
                              1) AS gap
              FROM pb),
            m AS (
              SELECT c.key, t.tot_a, t.tot_b,
                     MAX(ABS(c.cum_a * t.tot_b - c.cum_b * t.tot_a)) AS ks_num,
                     SUM(ABS(c.cum_a * t.tot_b - c.cum_b * t.tot_a)
                         * CAST(c.gap AS HUGEINT)) AS emd_num
              FROM c JOIN t USING (key)
              GROUP BY c.key, t.tot_a, t.tot_b)
            SELECT key, tot_a, tot_b,
                   CASE WHEN tot_a > 0 AND tot_b > 0 THEN
                     CAST(ks_num * 1000000
                          // (CAST(tot_a AS HUGEINT) * tot_b) AS BIGINT)
                   END AS ks_ppm,
                   CASE WHEN tot_a > 0 AND tot_b > 0 THEN
                     CAST(emd_num * 1000000
                          // (CAST(tot_a AS HUGEINT) * tot_b) AS BIGINT)
                   END AS emd_ppm_bins
            FROM m
        """,
        # winnow CTE (k=3, w=4) + the q125 pair-join recipe on distinct
        # (doc, fingerprint) sets
        "q134_winnow_similarity": f"""
            WITH wsq AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     CAST(unnest(generate_series(1,
                       greatest(len(ws) - 2, 1))) - 1 AS INT) AS pos,
                     unnest([CAST(('0x' || substr(md5(
                         array_to_string(ws[i:i+2], ' ')), 1, 15)) AS BIGINT)
                       for i in generate_series(1, greatest(len(ws) - 2, 1))]) AS h
              FROM wsq),
            lo AS (
              SELECT doc_id, pos,
                     min(struct_pack(h := h, p := pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
                     COUNT(*) OVER (PARTITION BY doc_id) AS n
              FROM g),
            sf AS (
              SELECT DISTINCT doc_id AS id, fp.h AS f
              FROM lo WHERE pos >= 3 OR pos = n - 1),
            keep AS (SELECT f FROM sf GROUP BY f HAVING COUNT(*) <= 100),
            sfk AS (SELECT sf.id, sf.f FROM sf JOIN keep USING (f)),
            tot AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_f FROM sfk GROUP BY id),
            sh AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM sfk a JOIN sfk b ON a.f = b.f AND a.id < b.id
              GROUP BY 1, 2)
            SELECT sh.id_a, sh.id_b, ta.n_f AS size_a, tb.n_f AS size_b,
                   sh.shared,
                   sh.shared * 1000000
                     // (ta.n_f + tb.n_f - sh.shared) AS jaccard_ppm
            FROM sh
            JOIN tot ta ON ta.id = sh.id_a
            JOIN tot tb ON tb.id = sh.id_b
            WHERE sh.shared * 1000000
                    // (ta.n_f + tb.n_f - sh.shared) >= 100000
        """,
        # q47's positional gram-hash recipe + the same struct-min window
        # (both engines order structs field-lexicographically)
        "q133_winnow_fingerprints": f"""
            WITH wsq AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     CAST(unnest(generate_series(1,
                       greatest(len(ws) - 4, 1))) - 1 AS INT) AS pos,
                     unnest([CAST(('0x' || substr(md5(
                         array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)
                       for i in generate_series(1, greatest(len(ws) - 4, 1))]) AS h
              FROM wsq),
            lo AS (
              SELECT doc_id, pos,
                     min(struct_pack(h := h, p := pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
                     COUNT(*) OVER (PARTITION BY doc_id) AS n
              FROM g)
            SELECT DISTINCT doc_id, fp.p AS pos, fp.h AS gram_hash
            FROM lo WHERE pos >= 3 OR pos = n - 1
        """,
        # exact HUGEINT moments over the zero-filled hour range; pairs
        # with no shared bucket zero-fill sxy; num/sqrt(dx*dy) + round
        "q132_volume_correlation": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, "time" // 3600 AS b,
                     CAST(COUNT(*) AS BIGINT) AS y
              FROM e GROUP BY 1, 2),
            rng AS (
              SELECT CAST(MAX(b) - MIN(b) + 1 AS BIGINT) AS n FROM per),
            st AS (
              SELECT key, CAST(SUM(y) AS BIGINT) AS s,
                     CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
              FROM per GROUP BY key),
            xy AS (
              SELECT a.key AS key_a, c.key AS key_b,
                     CAST(SUM(CAST(a.y AS HUGEINT) * c.y) AS HUGEINT) AS sxy
              FROM per a JOIN per c ON a.b = c.b AND a.key < c.key
              GROUP BY 1, 2),
            base AS (
              SELECT sa.key AS key_a, sb.key AS key_b,
                     sa.s AS s_a, sa.q AS q_a, sb.s AS s_b, sb.q AS q_b
              FROM st sa CROSS JOIN st sb WHERE sa.key < sb.key),
            m AS (
              SELECT base.key_a, base.key_b, rng.n,
                     rng.n * COALESCE(xy.sxy, 0)
                       - CAST(base.s_a AS HUGEINT) * base.s_b AS num,
                     rng.n * base.q_a
                       - CAST(base.s_a AS HUGEINT) * base.s_a AS dx,
                     rng.n * base.q_b
                       - CAST(base.s_b AS HUGEINT) * base.s_b AS dy
              FROM base
              LEFT JOIN xy ON xy.key_a = base.key_a AND xy.key_b = base.key_b
              CROSS JOIN rng)
            SELECT key_a, key_b, n AS n_buckets,
                   CASE WHEN dx > 0 AND dy > 0 THEN
                     round(CAST(num AS DOUBLE)
                           / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6)
                   END AS corr
            FROM m
        """,
        # md5-60 buckets (p=7, q=53, R=54), length(bin()) leading-zero
        # ranks, HUGEINT dyadic register sum; alpha·m² and 2^R appear as
        # the IDENTICAL double literals Spark bakes in
        "q131_hll_distinct": f"""
            WITH e AS ({_E}),
            h AS (
              SELECT CAST(('0x' || substr(md5(uuid || ':' || props), 1, 15))
                          AS BIGINT) AS h
              FROM e),
            rk AS (
              SELECT h >> 53 AS b,
                     CASE WHEN (h & ((1::BIGINT << 53) - 1)) = 0 THEN 54
                          ELSE 53 - length(bin(h & ((1::BIGINT << 53) - 1))) + 1
                     END AS r
              FROM h),
            regs AS (SELECT b, MAX(r) AS r FROM rk GROUP BY b),
            s AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
                     COALESCE(SUM(CAST((1::BIGINT << (54 - r)) AS HUGEINT)),
                              0::HUGEINT) AS ps
              FROM regs),
            n AS (
              SELECT 128 AS m, n_present,
                     ps + (128 - n_present) * (1::HUGEINT << 54) AS numer
              FROM s)
            SELECT m, n_present,
                   CAST(numer AS DOUBLE) AS numer_d,
                   CAST(11718.991761634348 AS DOUBLE)
                     * CAST(18014398509481984.0 AS DOUBLE)
                     / CAST(numer AS DOUBLE) AS estimate
            FROM n
        """,
        # same normalization, same [.!?]+ runs, filter-then-index so the
        # dense sent_idx matches Spark's filter-before-posexplode
        "q129_split_sentences": f"""
            WITH s AS (
              SELECT doc_id,
                     list_filter([trim(x) for x in
                                  string_split_regex({_NORM_TEXT}, '[.!?]+')],
                                 x -> x <> '') AS ss
              FROM documents)
            SELECT doc_id,
                   CAST(unnest(generate_series(1, len(ss))) - 1 AS INT) AS sent_idx,
                   unnest(ss) AS sentence,
                   CAST(length(unnest(ss)) AS INT) AS n_chars,
                   CAST(len(list_filter(string_split(unnest(ss), ' '),
                                        t -> t <> '')) AS INT) AS n_tokens
            FROM s
        """,
        # count tables per side, key-equi-join, exact integer fan-out,
        # deterministic top-20 (fanout desc, key asc)
        "q130_join_skew_report": f"""
            WITH e AS ({_E}),
            ca AS (
              SELECT uuid AS key, CAST(COUNT(*) AS BIGINT) AS cnt_a
              FROM e WHERE event_type = 'click' AND uuid IS NOT NULL
              GROUP BY uuid),
            cb AS (
              SELECT uuid AS key, CAST(COUNT(*) AS BIGINT) AS cnt_b
              FROM e WHERE event_type = 'purchase' AND uuid IS NOT NULL
              GROUP BY uuid)
            SELECT ca.key, ca.cnt_a, cb.cnt_b,
                   CAST(ca.cnt_a * cb.cnt_b AS BIGINT) AS fanout
            FROM ca JOIN cb ON ca.key = cb.key
            ORDER BY fanout DESC, ca.key ASC
            LIMIT 20
        """,
        # zero-filled keys x hours grid via generate_series; the k-sigma
        # test as exact HUGEINT inequality mirroring Spark's decimals
        "q128_volume_anomalies": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, "time" // 3600 AS b,
                     CAST(COUNT(*) AS BIGINT) AS y
              FROM e GROUP BY 1, 2),
            rng AS (SELECT MIN(b) AS b_lo, MAX(b) AS b_hi FROM per),
            st AS (
              SELECT key,
                     CAST(rng.b_hi - rng.b_lo + 1 AS BIGINT) AS n,
                     CAST(SUM(y) AS BIGINT) AS s,
                     CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
              FROM per CROSS JOIN rng
              GROUP BY key, rng.b_hi, rng.b_lo),
            grid AS (
              SELECT st.key, unnest(generate_series(rng.b_lo, rng.b_hi)) AS b
              FROM st CROSS JOIN rng),
            filled AS (
              SELECT g.key, g.b, COALESCE(per.y, 0) AS y
              FROM grid g LEFT JOIN per ON per.key = g.key AND per.b = g.b),
            t AS (
              SELECT f.key, f.b AS bucket, f.y,
                     (CAST(st.n AS HUGEINT) * f.y - st.s)
                       * (CAST(st.n AS HUGEINT) * f.y - st.s) AS dev_num,
                     4 * (CAST(st.n AS HUGEINT) * st.q
                          - CAST(st.s AS HUGEINT) * st.s) AS bound_num
              FROM filled f JOIN st ON st.key = f.key)
            SELECT key, bucket, y,
                   CAST(dev_num AS BIGINT) AS dev_num,
                   CAST(bound_num AS BIGINT) AS bound_num
            FROM t WHERE dev_num > bound_num
        """,
        # distinct (event_type:props) sets per trail, HAVING ubiquity cap,
        # exact integer Jaccard ppm with the 0.15 floor in the WHERE
        "q127_trail_similarity": f"""
            WITH e0 AS ({_E}),
            pm AS (
              SELECT GREATEST(5, (COUNT(DISTINCT uuid) + 299) // 300) AS m
              FROM e0),
            e AS (
              SELECT e0.* FROM e0 CROSS JOIN pm
              WHERE CAST(('0x' || substr(md5('panel:' || uuid), 1, 15))
                         AS BIGINT) % pm.m = 0),
            sf AS (
              SELECT DISTINCT uuid AS id, event_type || ':' || props AS f
              FROM e),
            cap AS (
              SELECT GREATEST(16, COUNT(DISTINCT uuid) // 5) AS c FROM e),
            keep AS (
              SELECT f FROM sf GROUP BY f
              HAVING COUNT(*) <= (SELECT c FROM cap)),
            sfk AS (SELECT sf.id, sf.f FROM sf JOIN keep USING (f)),
            tot AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_f FROM sfk GROUP BY id),
            sh AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM sfk a JOIN sfk b ON a.f = b.f AND a.id < b.id
              GROUP BY 1, 2)
            SELECT sh.id_a AS uuid_a, sh.id_b AS uuid_b,
                   ta.n_f AS features_a, tb.n_f AS features_b, sh.shared,
                   sh.shared * 1000000
                     // (ta.n_f + tb.n_f - sh.shared) AS jaccard_ppm
            FROM sh
            JOIN tot ta ON ta.id = sh.id_a
            JOIN tot tb ON tb.id = sh.id_b
            WHERE sh.shared * 1000000
                    // (ta.n_f + tb.n_f - sh.shared) >= 80000
        """,
        # OLS slope over the global day range with closed-form x-moments;
        # sign factored out of the ppm division so // (floor) and div
        # (truncate) agree on non-negative operands
        "q126_event_trend": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT event_type AS key, "time" // 86400 AS b,
                     CAST(COUNT(*) AS BIGINT) AS y
              FROM e GROUP BY 1, 2),
            rng AS (SELECT MIN(b) AS b_lo, MAX(b) AS b_hi FROM per),
            s AS (
              SELECT key,
                     CAST(rng.b_hi - rng.b_lo + 1 AS BIGINT) AS n,
                     CAST(SUM(y) AS BIGINT) AS sum_y,
                     CAST(SUM((per.b - rng.b_lo) * y) AS HUGEINT) AS sum_xy
              FROM per CROSS JOIN rng
              GROUP BY key, rng.b_hi - rng.b_lo + 1),
            m AS (
              SELECT key, n, sum_y,
                     n * (n - 1) // 2 AS sx,
                     n * (n - 1) * (2 * n - 1) // 6 AS sxx,
                     CAST(n AS HUGEINT) * sum_xy
                       - CAST(n * (n - 1) // 2 AS HUGEINT) * sum_y AS num_d,
                     CAST(n AS HUGEINT) * (n * (n - 1) * (2 * n - 1) // 6)
                       - CAST(n * (n - 1) // 2 AS HUGEINT)
                         * (n * (n - 1) // 2) AS den_d
              FROM s)
            SELECT key, n AS n_buckets, sum_y AS total,
                   CASE WHEN n >= 2 THEN CAST(num_d AS BIGINT) END AS slope_num,
                   CASE WHEN n >= 2 THEN CAST(den_d AS BIGINT) END AS slope_den,
                   CASE WHEN n >= 2 THEN
                     (CASE WHEN num_d < 0 THEN -1 ELSE 1 END)
                     * CAST(abs(num_d) * 1000000 // den_d AS BIGINT)
                   END AS slope_ppm_per_bucket
            FROM m
        """,
        # md5-60 5-gram sets per source (q47's gram recipe), ubiquity cap
        # mirrored via HAVING, exact integer Jaccard ppm
        "q125_source_overlap": f"""
            WITH w AS (SELECT source, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT source,
                     unnest(list_distinct(
                       [CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)
                        for i in generate_series(1, greatest(len(ws) - 4, 1))])) AS g0
              FROM w),
            sg AS (SELECT DISTINCT source, g0 AS g FROM g),
            keep AS (SELECT g FROM sg GROUP BY g HAVING COUNT(*) <= 16),
            sgk AS (SELECT sg.source, sg.g FROM sg JOIN keep USING (g)),
            tot AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM sgk GROUP BY source),
            sh AS (
              SELECT a.source AS source_a, b.source AS source_b,
                     CAST(COUNT(*) AS BIGINT) AS shared_grams
              FROM sgk a JOIN sgk b ON a.g = b.g AND a.source < b.source
              GROUP BY 1, 2)
            SELECT sh.source_a, sh.source_b,
                   ta.n_grams AS grams_a, tb.n_grams AS grams_b,
                   sh.shared_grams,
                   sh.shared_grams * 1000000
                     // (ta.n_grams + tb.n_grams - sh.shared_grams) AS jaccard_ppm
            FROM sh
            JOIN tot ta ON ta.source = sh.source_a
            JOIN tot tb ON tb.source = sh.source_b
        """,
        # ROWS-framed median window: DuckDB's median and Spark's
        # percentile(0.5) both average the two middle doubles (one IEEE
        # add + divide) and ignore NULLs — exact parity, no rounding
        "q124_rolling_median": f"""
            WITH e AS ({_E})
            SELECT uuid, "time", event_id, value,
                   median(value) OVER (
                     PARTITION BY uuid ORDER BY "time", event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
                   ) AS rolling_med,
                   CAST(COUNT(value) OVER (
                     PARTITION BY uuid ORDER BY "time", event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS n_window
            FROM e
        """,
        # equal-width id buckets, first-occurrence = min(doc_id) per
        # token; integer div bucketing matches Spark's expr exactly
        "q123_vocab_growth": f"""
            WITH b AS (
              SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
              FROM documents),
            d AS (
              SELECT (doc_id - b.min_id) * 10
                       // (b.max_id - b.min_id + 1) AS bucket,
                     doc_id, {_TOKENS} AS ws
              FROM documents CROSS JOIN b),
            pb AS (
              SELECT bucket, COUNT(*) AS n_docs,
                     CAST(SUM(len(ws)) AS BIGINT) AS n_token_occurrences
              FROM d GROUP BY bucket),
            fs AS (
              SELECT w, MIN(doc_id) AS first_id
              FROM (SELECT doc_id, unnest(ws) AS w FROM d) GROUP BY w),
            nt AS (
              SELECT (first_id - b.min_id) * 10
                       // (b.max_id - b.min_id + 1) AS bucket,
                     COUNT(*) AS new_types
              FROM fs CROSS JOIN b GROUP BY 1)
            SELECT pb.bucket, pb.n_docs, pb.n_token_occurrences,
                   COALESCE(nt.new_types, 0) AS new_types,
                   CAST(SUM(COALESCE(nt.new_types, 0))
                        OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_types
            FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket
        """,
        # naive union-grid TVD (sources x vocabulary CROSS JOIN) — the
        # closed-form absent-mass folding on the Spark side must equal
        # this exactly, since both are integer arithmetic throughout
        "q122_source_divergence": f"""
            WITH tok AS (
              SELECT source, unnest({_TOKENS}) AS w FROM documents),
            sc AS (
              SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tok GROUP BY 1, 2),
            wc AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS wtot FROM sc GROUP BY 1),
            st AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot_s FROM sc GROUP BY 1),
            tt AS (SELECT CAST(SUM(wtot) AS BIGINT) AS total FROM wc),
            grid AS (
              SELECT st.source, st.tot_s, tt.total - st.tot_s AS tot_r,
                     wc.wtot, COALESCE(sc.cnt, 0) AS cnt
              FROM st CROSS JOIN wc CROSS JOIN tt
              LEFT JOIN sc ON sc.source = st.source AND sc.w = wc.w)
            SELECT source, tot_s AS n_tokens_src, tot_r AS n_tokens_rest,
                   CASE WHEN tot_s > 0 AND tot_r > 0 THEN
                     CAST(SUM(ABS(CAST(cnt AS HUGEINT) * tot_r
                                  - CAST(wtot - cnt AS HUGEINT) * tot_s))
                          * 1000000
                          // (2 * CAST(tot_s AS HUGEINT) * tot_r) AS BIGINT)
                   ELSE NULL END AS tvd_ppm
            FROM grid GROUP BY source, tot_s, tot_r
        """,
        # int-quantized Gram entries: every sum is an exact integer, so
        # the unnest+self-join formulation here MUST equal Spark's
        # per-batch matmul partials bit for bit; cov_q is one division +
        # one half-up round on exact-integer operands
        "q121_embedding_gram": """
            WITH q AS (
              SELECT vec_id,
                     unnest(generate_series(1, len(embedding))) AS di,
                     unnest([CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)
                             for x in embedding]) AS qx
              FROM embeddings),
            g AS (
              SELECT CAST(a.di - 1 AS INT) AS i, CAST(b.di - 1 AS INT) AS j,
                     CAST(COUNT(*) AS BIGINT) AS n_vecs,
                     CAST(SUM(a.qx) AS BIGINT) AS sum_i,
                     CAST(SUM(b.qx) AS BIGINT) AS sum_j,
                     CAST(SUM(a.qx * b.qx) AS BIGINT) AS sum_prod
              FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.di <= b.di
              GROUP BY 1, 2)
            SELECT i, j, n_vecs, sum_i, sum_j, sum_prod,
                   round(CAST(sum_prod * n_vecs - sum_i * sum_j AS DOUBLE)
                         / CAST(n_vecs * n_vecs AS DOUBLE), 6) AS cov_q
            FROM g
        """,
        # exact-integer TVD: HUGEINT products/sum + floor division mirror
        # Spark's decimal(38,0) arithmetic bit for bit
        "q120_distribution_drift": f"""
            WITH e AS ({_E}),
            b AS (
              SELECT event_type AS key,
                     CAST(floor(value / 10.0) AS BIGINT) AS bin,
                     CASE WHEN "time" < 1705000000 THEN 1 ELSE 0 END AS a
              FROM e),
            pb AS (
              SELECT key, bin, SUM(a) AS cnt_a, SUM(1 - a) AS cnt_b
              FROM b GROUP BY key, bin),
            t AS (
              SELECT key, CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
                     CAST(SUM(cnt_b) AS BIGINT) AS tot_b
              FROM pb GROUP BY key)
            SELECT pb.key AS event_type, t.tot_a, t.tot_b,
                   CASE WHEN t.tot_a > 0 AND t.tot_b > 0 THEN
                     CAST((SUM(ABS(CAST(pb.cnt_a AS HUGEINT) * t.tot_b
                                   - CAST(pb.cnt_b AS HUGEINT) * t.tot_a))
                           * 1000000)
                          // (2 * CAST(t.tot_a AS HUGEINT) * t.tot_b)
                          AS BIGINT)
                   ELSE NULL END AS tvd_ppm
            FROM pb JOIN t USING (key)
            GROUP BY pb.key, t.tot_a, t.tot_b
        """,
        "q100_cluster_sizes": f"""
            WITH labeled AS ({{_q42}})
            , sizes AS (
              SELECT component, COUNT(*) AS sz FROM labeled GROUP BY component)
            SELECT sz AS cluster_size,
                   COUNT(*) AS n_clusters,
                   CAST(sz * COUNT(*) AS BIGINT) AS n_docs
            FROM sizes GROUP BY sz
        """.format(_q42=_q42_sql),
        # q42's components + q31's quality expression + a ROW_NUMBER pick:
        # best score per component, ties to min doc_id
        "q118_resolve_duplicates": f"""
            WITH labeled AS ({{_q42}}),
            m AS (
              SELECT doc_id, {_NORM_TEXT} AS nt,
                     CAST(len({_TOKENS}) AS DOUBLE) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id,
                     CAST(length(nt) AS DOUBLE) AS n_chars,
                     CAST(length(regexp_replace(nt, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
                     CAST(length(regexp_replace(nt, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                     n_tokens
              FROM m),
            q AS (
              SELECT doc_id,
                     round(((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                      + (CASE WHEN n_tokens > 0 AND n_alpha / n_tokens >= 2.0 AND n_alpha / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 1.0 WHEN n_chars = 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS score
              FROM c)
            SELECT l.doc_id, l.component, q.score,
                   ROW_NUMBER() OVER (PARTITION BY l.component
                                      ORDER BY q.score DESC, l.doc_id ASC) = 1 AS kept
            FROM labeled l JOIN q ON l.doc_id = q.doc_id
        """.format(_q42=_q42_sql),
        "q101_cohort_revenue": f"""
            WITH e AS ({_E}),
            per AS (
              SELECT uuid, "time" // 86400 AS d,
                     SUM(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS rev
              FROM e GROUP BY uuid, "time" // 86400),
            c AS (SELECT uuid, MIN(d) AS cohort FROM per GROUP BY uuid)
            SELECT c.cohort, per.d - c.cohort AS "offset",
                   COUNT(*) AS trails,
                   CAST(SUM(per.rev) AS BIGINT) AS revenue_cents
            FROM per JOIN c ON per.uuid = c.uuid
            GROUP BY c.cohort, per.d - c.cohort
        """,
        # q99's pairing with power-of-two decay: w = 1 << (62 - min(b, 62)),
        # b = age // 21600; floors via HUGEINT //, remainder to rn = 1
        "q203_attribution_decay": f"""
            WITH e AS ({_E}),
            c AS (SELECT uuid, "time" AS ct, event_id AS cid FROM e
                  WHERE event_type = 'purchase'),
            t AS (SELECT uuid, "time" AS tt, event_id AS tid,
                         event_type AS ch FROM e
                  WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT c.uuid, c.cid, t.ch, t.tt, t.tid,
                     CAST(1 AS BIGINT) << CAST(62 - least(
                       (c.ct - t.tt) // 21600, 62) AS INT) AS w
              FROM c JOIN t ON c.uuid = t.uuid
              WHERE (t.tt < c.ct OR (t.tt = c.ct AND t.tid < c.cid))
                AND t.tt >= c.ct - 86400),
            k AS (
              SELECT uuid, cid, ch, tt, tid, w,
                     SUM(CAST(w AS HUGEINT)) OVER (PARTITION BY uuid, cid)
                       AS ww,
                     row_number() OVER (PARTITION BY uuid, cid
                                        ORDER BY tt DESC, tid DESC) AS rn
              FROM j),
            f AS (
              SELECT uuid, cid, ch, rn,
                     CAST((CAST(10000 AS HUGEINT) * w) // ww AS BIGINT)
                       AS bpf,
                     SUM(CAST((CAST(10000 AS HUGEINT) * w) // ww AS BIGINT))
                       OVER (PARTITION BY uuid, cid) AS sbp
              FROM k),
            credited AS (
              SELECT uuid, cid, ch,
                     CASE WHEN rn = 1 THEN 10000 - (sbp - bpf)
                          ELSE bpf END AS bp
              FROM f),
            per_ch AS (
              SELECT ch AS channel,
                     COUNT(DISTINCT (uuid, cid)) AS conversions_touched,
                     CAST(SUM(bp) AS BIGINT) AS credit_bp
              FROM credited GROUP BY ch),
            untouched AS (
              SELECT '(none)' AS channel,
                     COUNT(*) AS conversions_touched,
                     CAST(COUNT(*) * 10000 AS BIGINT) AS credit_bp
              FROM c
              WHERE NOT EXISTS (
                SELECT 1 FROM credited x
                WHERE x.uuid = c.uuid AND x.cid = c.cid)
              HAVING COUNT(*) > 0)
            SELECT * FROM per_ch UNION ALL SELECT * FROM untouched
        """,
        "q204_qoi_decode": """
            -- QOI round-trips gray exactly (BT.601 weights sum to 1):
            -- rounded luma == (y*13 + x*3 + id*5) % 256
            -- on a (3 + id%5) x (4 + id%4) canvas
            WITH a AS (
              SELECT doc_id,
                     4 + CAST(doc_id % 4 AS INT) AS w,
                     3 + CAST(doc_id % 5 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 13 + (k % w) * 3 + doc_id * 5) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q205_tiff_decode": """
            -- PackBits/uncompressed x II/MM x BlackIsZero/WhiteIsZero all
            -- decode to the same gray: luma == (y*11 + x*17 + id*7) % 256
            -- on a (4 + id%4) x (3 + id%5) canvas
            WITH a AS (
              SELECT doc_id,
                     3 + CAST(doc_id % 5 AS INT) AS w,
                     4 + CAST(doc_id % 4 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 11 + (k % w) * 17 + doc_id * 7) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q206_midi_decode": """
            -- note k of doc i: pitch (i+5k)%128, velocity 1+(i+k)%127,
            -- onset 240k, duration 120+(k%4)*60; n = 3 + i%7 notes
            WITH a AS (
              SELECT doc_id, 3 + CAST(doc_id % 7 AS INT) AS n
              FROM documents WHERE doc_id % 3 = 1
            ), t AS (
              SELECT doc_id, n,
                [ (doc_id + 5 * k) % 128
                  for k in generate_series(0, n - 1) ] AS pitches,
                [ 1 + (doc_id + k) % 127
                  for k in generate_series(0, n - 1) ] AS vels,
                [ 120 + (k % 4) * 60
                  for k in generate_series(0, n - 1) ] AS durs,
                [ 240 * k + 120 + (k % 4) * 60
                  for k in generate_series(0, n - 1) ] AS offs
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(480 AS INT) AS division,
                   CAST(1 + doc_id % 2 AS INT) AS n_tracks,
                   CAST(n AS BIGINT) AS n_notes,
                   CAST(list_sum(pitches) AS BIGINT) AS pitch_sum,
                   CAST(list_min(pitches) AS INT) AS pitch_min,
                   CAST(list_max(pitches) AS INT) AS pitch_max,
                   CAST(list_sum(vels) AS BIGINT) AS velocity_sum,
                   CAST(list_sum(durs) AS BIGINT) AS dur_sum,
                   CAST(list_max(offs) AS BIGINT) AS span_ticks
            FROM t
        """,
        "q207_field_mi": f"""
            WITH e AS ({_E}),
            ev AS (SELECT event_type AS x,
                          CAST(("time" // 3600) % 24 AS VARCHAR) AS y
                   FROM e),
            cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
                      FROM ev GROUP BY x, y),
            cx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx
                   FROM cells GROUP BY x),
            cy AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy
                   FROM cells GROUP BY y),
            nn AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM cells),
            per AS (
              SELECT nn.n, c.cxy,
                     (length(bin(c.cxy)) + length(bin(nn.n))
                      - length(bin(cx.cx)) - length(bin(cy.cy)))
                       AS pmi_bits
              FROM cells c
              JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN nn)
            SELECT CAST(n AS BIGINT) AS n_events,
                   CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST(SUM(cxy * pmi_bits) AS BIGINT) AS mi_bits_weighted,
                   CAST(CASE WHEN SUM(cxy * pmi_bits) >= 0
                        THEN (SUM(cxy * pmi_bits) * 1000) // n
                        ELSE -(((-SUM(cxy * pmi_bits)) * 1000) // n)
                        END AS BIGINT) AS mi_millibits_per_event
            FROM per GROUP BY n
        """,
        "q208_ordered_pairs": f"""
            WITH e AS ({_E}),
            per AS (SELECT uuid, event_type AS v,
                           MIN("time") AS tmin, MAX("time") AS tmax
                    FROM e GROUP BY uuid, event_type)
            SELECT a.v AS src, b.v AS dst,
                   CAST(COUNT(*) AS BIGINT) AS n_trails
            FROM per a JOIN per b
              ON a.uuid = b.uuid AND a.tmin < b.tmax
            GROUP BY a.v, b.v
            HAVING COUNT(*) >= 2
        """,
        "q209_trail_surprisal": f"""
            WITH e AS ({_E}),
            s AS (SELECT uuid, event_type AS dst,
                         lag(event_type) OVER (PARTITION BY uuid
                           ORDER BY "time", event_id) AS src
                  FROM e),
            st AS (SELECT uuid, src, dst FROM s WHERE src IS NOT NULL),
            pc AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS freq
                   FROM st GROUP BY src, dst),
            sc AS (SELECT src, CAST(SUM(freq) AS BIGINT) AS c_src
                   FROM pc GROUP BY src),
            model AS (SELECT pc.src, pc.dst,
                             (length(bin(sc.c_src)) - length(bin(pc.freq)))
                               AS step_bits
                      FROM pc JOIN sc USING (src))
            SELECT uuid, CAST(COUNT(*) AS BIGINT) AS n_steps,
                   CAST(SUM(step_bits) AS BIGINT) AS surprisal_bits,
                   CAST((SUM(step_bits) * 1000) // COUNT(*) AS BIGINT)
                     AS millibits_per_step
            FROM st JOIN model USING (src, dst)
            GROUP BY uuid
        """,
        "q210_rolling_features": f"""
            WITH e AS ({_E}),
            c AS (SELECT uuid, "time", event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM e)
            SELECT uuid, "time", event_id, cents,
                   CAST(COUNT(cents) OVER w AS BIGINT) AS roll_n,
                   CAST(SUM(cents) OVER w AS BIGINT) AS roll_sum_cents,
                   CAST(MIN(cents) OVER w AS BIGINT) AS roll_min_cents,
                   CAST(MAX(cents) OVER w AS BIGINT) AS roll_max_cents
            FROM c
            WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "q211_column_profile": f"""
            WITH e AS ({_E}),
            pairs AS (
              SELECT 'event_type' AS field, event_type AS value FROM e
              UNION ALL
              SELECT 'props' AS field, props AS value FROM e
            ),
            vals AS (SELECT field, value, COUNT(*) AS freq
                     FROM pairs GROUP BY field, value),
            pf AS (SELECT field,
                          CAST(SUM(freq) AS BIGINT) AS n_rows,
                          CAST(SUM(CASE WHEN value = '' THEN freq
                                   ELSE 0 END) AS BIGINT) AS n_empty,
                          CAST(COUNT(*) AS BIGINT) AS n_distinct,
                          CAST(MIN(length(value)) AS INT) AS min_len,
                          CAST(MAX(length(value)) AS INT) AS max_len
                   FROM vals GROUP BY field),
            top AS (SELECT field, value AS top_value,
                           CAST(freq AS BIGINT) AS top_freq
                    FROM (SELECT field, value, freq,
                                 row_number() OVER (PARTITION BY field
                                   ORDER BY freq DESC, value ASC) AS rn
                          FROM vals WHERE value != '')
                    WHERE rn = 1)
            SELECT pf.field, pf.n_rows, pf.n_empty, pf.n_distinct,
                   pf.min_len, pf.max_len, top.top_value, top.top_freq
            FROM pf LEFT JOIN top USING (field)
        """,
        "q212_flac_decode": """
            -- FLAC is lossless: s[i] = (i*53 + id*17) % 3001 - 1500,
            -- n = 50 + id%60, rate = 8000 + 4000*(id%3), whatever
            -- subframe/partition encoding the fixture cycled to
            WITH a AS (
              SELECT doc_id,
                     50 + CAST(doc_id % 60 AS BIGINT) AS n,
                     CAST(8000 + 4000 * (doc_id % 3) AS INT) AS rate
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n, rate,
                     [ (i*53 + doc_id*17) % 3001 - 1500
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            )
            SELECT doc_id AS media_id,
                   rate AS sample_rate,
                   1 AS channels,
                   n AS n_samples,
                   n * 1000 // rate AS duration_ms,
                   ROUND(sqrt(CAST(list_sum(list_transform(xs, x -> x*x)) AS DOUBLE) / n), 6) AS rms,
                   CAST(len(list_filter(generate_series(2, n), i -> xs[i-1] * xs[i] < 0)) AS BIGINT) AS zcr,
                   CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
            FROM s
        """,
        "q213_label_propagation": f"""
            WITH e AS ({_E}),
            s AS (SELECT uuid, event_type AS dst,
                         lag(event_type) OVER (PARTITION BY uuid
                           ORDER BY "time", event_id) AS src
                  FROM e),
            pc AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS freq
                   FROM s WHERE src IS NOT NULL GROUP BY src, dst),
            ed AS (SELECT u, v, CAST(SUM(f) AS BIGINT) AS w FROM (
                     SELECT src AS u, dst AS v, freq AS f FROM pc
                       WHERE src != dst
                     UNION ALL
                     SELECT dst AS u, src AS v, freq AS f FROM pc
                       WHERE src != dst) GROUP BY u, v),
            nodes AS (SELECT DISTINCT x AS v FROM (
                        SELECT src AS x FROM pc
                        UNION SELECT dst FROM pc)),
            l0 AS (SELECT v, v AS label FROM nodes),
            v1 AS (SELECT ed.u AS v, l.label AS lab, SUM(ed.w) AS ws
                   FROM ed JOIN l0 l ON ed.v = l.v GROUP BY ed.u, l.label),
            b1 AS (SELECT v, min(struct_pack(nw := -ws, l := lab)).l
                            AS best FROM v1 GROUP BY v),
            l1 AS (SELECT n.v, COALESCE(b1.best, p.label) AS label
                   FROM nodes n JOIN l0 p ON n.v = p.v
                   LEFT JOIN b1 ON b1.v = n.v),
            v2 AS (SELECT ed.u AS v, l.label AS lab, SUM(ed.w) AS ws
                   FROM ed JOIN l1 l ON ed.v = l.v GROUP BY ed.u, l.label),
            b2 AS (SELECT v, min(struct_pack(nw := -ws, l := lab)).l
                            AS best FROM v2 GROUP BY v),
            l2 AS (SELECT n.v, COALESCE(b2.best, p.label) AS label
                   FROM nodes n JOIN l1 p ON n.v = p.v
                   LEFT JOIN b2 ON b2.v = n.v),
            v3 AS (SELECT ed.u AS v, l.label AS lab, SUM(ed.w) AS ws
                   FROM ed JOIN l2 l ON ed.v = l.v GROUP BY ed.u, l.label),
            b3 AS (SELECT v, min(struct_pack(nw := -ws, l := lab)).l
                            AS best FROM v3 GROUP BY v),
            l3 AS (SELECT n.v, COALESCE(b3.best, p.label) AS label
                   FROM nodes n JOIN l2 p ON n.v = p.v
                   LEFT JOIN b3 ON b3.v = n.v),
            v4 AS (SELECT ed.u AS v, l.label AS lab, SUM(ed.w) AS ws
                   FROM ed JOIN l3 l ON ed.v = l.v GROUP BY ed.u, l.label),
            b4 AS (SELECT v, min(struct_pack(nw := -ws, l := lab)).l
                            AS best FROM v4 GROUP BY v),
            l4 AS (SELECT n.v, COALESCE(b4.best, p.label) AS label
                   FROM nodes n JOIN l3 p ON n.v = p.v
                   LEFT JOIN b4 ON b4.v = n.v),
            v5 AS (SELECT ed.u AS v, l.label AS lab, SUM(ed.w) AS ws
                   FROM ed JOIN l4 l ON ed.v = l.v GROUP BY ed.u, l.label),
            b5 AS (SELECT v, min(struct_pack(nw := -ws, l := lab)).l
                            AS best FROM v5 GROUP BY v),
            l5 AS (SELECT n.v, COALESCE(b5.best, p.label) AS label
                   FROM nodes n JOIN l4 p ON n.v = p.v
                   LEFT JOIN b5 ON b5.v = n.v),
            sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cs
                   FROM l5 GROUP BY label)
            SELECT l5.v AS value, l5.label AS community,
                   sz.cs AS community_size
            FROM l5 JOIN sz ON sz.label = l5.label
        """,
        "q214_k_anonymity": f"""
            WITH e AS ({_E})
            SELECT event_type,
                   CAST(("time" // 3600) % 24 AS VARCHAR) AS hour,
                   CAST(COUNT(DISTINCT uuid) AS BIGINT) AS n_uuids,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT uuid) < 30 AS INT) AS at_risk
            FROM e GROUP BY 1, 2
        """,
        "q215_seasonal_anomalies": f"""
            WITH e AS ({_E}),
            per AS (SELECT event_type AS key,
                           (("time" // 3600) % 24) AS how,
                           "time" // 86400 AS b,
                           CAST(COUNT(*) AS BIGINT) AS y
                    FROM e GROUP BY 1, 2, 3),
            rng AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM per),
            stats AS (SELECT key, how,
                             (SELECT hi - lo + 1 FROM rng) AS n,
                             CAST(SUM(y) AS HUGEINT) AS s,
                             SUM(CAST(y AS HUGEINT) * y) AS q
                      FROM per GROUP BY key, how),
            grid AS (SELECT st.key, st.how, g.b
                     FROM stats st CROSS JOIN (
                       SELECT unnest(generate_series(lo, hi)) AS b
                       FROM rng) g),
            filled AS (SELECT g.key, g.how, g.b, COALESCE(p.y, 0) AS y
                       FROM grid g LEFT JOIN per p
                         ON p.key = g.key AND p.how = g.how AND p.b = g.b),
            fl AS (SELECT f.key, f.how, f.b, f.y,
                          CAST(st.n AS HUGEINT) * f.y - st.s AS dev,
                          9 * (CAST(st.n AS HUGEINT) * st.q - st.s * st.s)
                            AS bound
                   FROM filled f JOIN stats st
                     ON st.key = f.key AND st.how = f.how)
            SELECT key, CAST(how AS INT) AS phase_hour,
                   CAST(b AS BIGINT) AS bucket, CAST(y AS BIGINT) AS y,
                   CAST(dev * dev AS BIGINT) AS dev_num,
                   CAST(bound AS BIGINT) AS bound_num
            FROM fl WHERE dev * dev > bound
        """,
        "q216_webp_decode": """
            -- VP8L is lossless whatever the transform stack: rounded
            -- luma == (y*7 + x*19 + id*3) % 256 on (3+id%6) x (4+id%3)
            WITH a AS (
              SELECT doc_id,
                     4 + CAST(doc_id % 3 AS INT) AS w,
                     3 + CAST(doc_id % 6 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 7 + (k % w) * 19 + doc_id * 3) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(list_sum(px) AS BIGINT) AS luma_sum,
                   CAST(list_min(px) AS INT) AS luma_min,
                   CAST(list_max(px) AS INT) AS luma_max
            FROM t
        """,
        "q217_prediction_accuracy": f"""
            WITH e AS ({_E}),
            s AS (SELECT uuid, event_type AS dst,
                         lag(event_type) OVER (PARTITION BY uuid
                           ORDER BY "time", event_id) AS src
                  FROM e),
            st AS (SELECT uuid, src, dst FROM s WHERE src IS NOT NULL),
            pc AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS freq
                   FROM st GROUP BY src, dst),
            pr AS (SELECT src,
                          min(struct_pack(nf := -freq, d := dst)).d AS pred
                   FROM pc GROUP BY src)
            SELECT uuid, CAST(COUNT(*) AS BIGINT) AS n_steps,
                   CAST(SUM(CASE WHEN dst = pred THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct,
                   CAST((SUM(CASE WHEN dst = pred THEN 1 ELSE 0 END)
                         * 1000000) // COUNT(*) AS BIGINT) AS accuracy_ppm
            FROM st JOIN pr USING (src)
            GROUP BY uuid
        """,
        "q218_forget_report": f"""
            WITH e AS ({_E}),
            panel AS (SELECT DISTINCT uuid FROM e
                      WHERE md5('forget:' || uuid) < '18'),
            flagged AS (SELECT e.uuid,
                               p.uuid IS NOT NULL AS hit
                        FROM e LEFT JOIN panel p ON e.uuid = p.uuid)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM panel)
                     AS n_requested,
                   CAST(COUNT(DISTINCT CASE WHEN hit THEN uuid END)
                        AS BIGINT) AS n_present,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_events_removed,
                   CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_events_kept
            FROM flagged
        """,
        "q219_state_dwell": f"""
            WITH e AS ({_E}),
            s AS (SELECT event_type AS value, "time" AS t,
                         lead("time") OVER (PARTITION BY uuid
                           ORDER BY "time", event_id) AS nt
                  FROM e)
            SELECT value,
                   CAST(COUNT(*) AS BIGINT) AS n_intervals,
                   CAST(SUM(nt - t) AS BIGINT) AS total_dwell_seconds,
                   CAST((SUM(nt - t) * 1000) // COUNT(*) AS BIGINT)
                     AS mean_dwell_ms
            FROM s WHERE nt IS NOT NULL
            GROUP BY value
        """,
        "q220_pattern_scan": """
            WITH pats AS (
              SELECT unnest(['agg', 'qu', 'scan', 'slow fast', 'table'])
                AS pattern
            ),
            h AS (
              SELECT p.pattern,
                     (length(d.text) - length(replace(d.text, p.pattern,
                        ''))) // length(p.pattern) AS hits
              FROM documents d CROSS JOIN pats p
            )
            SELECT pattern,
                   CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_docs,
                   CAST(SUM(hits) AS BIGINT) AS n_hits
            FROM h GROUP BY pattern
        """,
        "q221_mixed_script": """
            WITH fixed AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN translate(text, 'a', 'а')
                          ELSE text END AS text
              FROM documents
            ),
            toks AS (
              SELECT doc_id, tok
              FROM fixed,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                     AS u(tok)
              WHERE tok <> ''
            )
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN regexp_matches(tok, '[A-Za-z]')
                                  AND regexp_matches(tok,
                                    '[\\x{0400}-\\x{04FF}\\x{0370}-\\x{03FF}]')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
                   CAST((SUM(CASE WHEN regexp_matches(tok, '[A-Za-z]')
                                   AND regexp_matches(tok,
                                     '[\\x{0400}-\\x{04FF}\\x{0370}-\\x{03FF}]')
                                  THEN 1 ELSE 0 END) * 1000000)
                        // COUNT(*) AS BIGINT) AS mixed_ppm
            FROM toks GROUP BY doc_id
        """,
        "q222_kcenter": f"""
            WITH qe AS (
              SELECT vec_id,
                     [ CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576)
                            AS BIGINT)
                       for i in generate_series(1, len(embedding)) ] AS q
              FROM embeddings),
            sel1 AS (SELECT qe.* FROM qe
                     WHERE vec_id = (SELECT min(vec_id) FROM qe)),
            {_kc_round(2)},
            {_kc_round(3)},
            {_kc_round(4)},
            {_kc_round(5)}
            SELECT CAST(1 AS INT) AS rank,
                   (SELECT min(vec_id) FROM qe) AS vec_id,
                   CAST(0 AS BIGINT) AS maximin_dist2
            UNION ALL SELECT 2, vec_id, CAST(dmin AS BIGINT) FROM p2
            UNION ALL SELECT 3, vec_id, CAST(dmin AS BIGINT) FROM p3
            UNION ALL SELECT 4, vec_id, CAST(dmin AS BIGINT) FROM p4
            UNION ALL SELECT 5, vec_id, CAST(dmin AS BIGINT) FROM p5
        """,
        "q223_benford": f"""
            WITH e AS ({_E}),
            c AS (SELECT abs(CAST(round(value * 100) AS BIGINT)) AS c
                  FROM e WHERE value IS NOT NULL),
            per AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1)
                               AS INT) AS digit,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM c WHERE c > 0 GROUP BY 1),
            grid AS (SELECT unnest(generate_series(1, 9)) AS digit),
            bppm AS (SELECT unnest([301029, 176091, 124938, 96910,
                                    79181, 66946, 57991, 51152, 45757])
                       AS benford_ppm,
                     unnest(generate_series(1, 9)) AS digit),
            tot AS (SELECT SUM(n) AS t FROM per)
            SELECT g.digit,
                   CAST(COALESCE(p.n, 0) AS BIGINT) AS n,
                   CAST((COALESCE(p.n, 0) * 1000000) // tot.t AS BIGINT)
                     AS observed_ppm,
                   CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
                   CAST(abs((COALESCE(p.n, 0) * 1000000) // tot.t
                            - b.benford_ppm) AS BIGINT) AS abs_diff_ppm
            FROM grid g
            JOIN bppm b ON b.digit = g.digit
            LEFT JOIN per p ON p.digit = g.digit
            CROSS JOIN tot
        """,
        "q224_ewma": f"""
            WITH e AS ({_E}),
            c AS (SELECT uuid, "time", event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM e),
            fr AS (SELECT uuid, "time", event_id, cents,
                          list_filter(
                            list(cents) OVER (PARTITION BY uuid
                              ORDER BY "time", event_id
                              ROWS BETWEEN 31 PRECEDING AND CURRENT ROW),
                            x -> x IS NOT NULL) AS xs
                   FROM c),
            n AS (SELECT uuid, "time", event_id, cents, xs,
                         list_sum([ CAST(xs[i] AS HUGEINT)
                                    * (CAST(1 AS BIGINT) << (i - 1))
                                    for i in
                                      generate_series(1, len(xs)) ])
                           AS num,
                         (CAST(1 AS BIGINT) << len(xs)) - 1 AS den
                  FROM fr)
            SELECT uuid, "time", event_id, cents,
                   CASE WHEN len(xs) > 0 THEN
                     CAST(CASE WHEN num >= 0 THEN num // den
                          ELSE -((-num) // den) END AS BIGINT)
                   END AS ewma_cents
            FROM n
        """,
        "q225_json_schema": f"""
            WITH e AS ({_E}),
            fixed AS (SELECT CASE WHEN event_id % 13 = 0
                                  THEN substring(props, 2)
                                  ELSE props END AS props
                      FROM e),
            ok AS (SELECT props FROM fixed
                   WHERE props <> '' AND json_valid(props)
                     AND json_type(props) = 'OBJECT'),
            kv AS (SELECT k AS key,
                          json_extract_string(props, '$.' || k) AS value
                   FROM ok, unnest(json_keys(props)) AS u(k)),
            per AS (SELECT key,
                           CAST(COUNT(*) AS BIGINT) AS n_present,
                           CAST(SUM(CASE WHEN regexp_full_match(value,
                               '-?[0-9]+(\\.[0-9]+)?') THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_numeric,
                           round(MIN(CASE WHEN regexp_full_match(value,
                               '-?[0-9]+(\\.[0-9]+)?')
                               THEN CAST(value AS DOUBLE) END), 6)
                             AS min_num,
                           round(MAX(CASE WHEN regexp_full_match(value,
                               '-?[0-9]+(\\.[0-9]+)?')
                               THEN CAST(value AS DOUBLE) END), 6)
                             AS max_num
                    FROM kv GROUP BY key),
            inv AS (SELECT '__invalid__' AS key,
                           CAST(COUNT(*) AS BIGINT) AS n_present,
                           CAST(NULL AS BIGINT) AS n_numeric,
                           CAST(NULL AS DOUBLE) AS min_num,
                           CAST(NULL AS DOUBLE) AS max_num
                    FROM fixed
                    WHERE props = '' OR NOT json_valid(props)
                       OR json_type(props) <> 'OBJECT')
            SELECT * FROM per UNION ALL SELECT * FROM inv
        """,
        "q226_conversion_paths": f"""
            WITH e AS ({_E}),
            c AS (SELECT uuid, "time" AS ct, event_id AS cid FROM e
                  WHERE event_type = 'purchase'),
            t AS (SELECT uuid, "time" AS tt, event_id AS tid,
                         event_type AS ch FROM e
                  WHERE event_type IN ('click', 'view')),
            j AS (SELECT c.uuid, c.cid, t.ch, t.tt, t.tid
                  FROM c JOIN t ON c.uuid = t.uuid
                  WHERE (t.tt < c.ct OR (t.tt = c.ct AND t.tid < c.cid))
                    AND t.tt >= c.ct - 86400),
            r AS (SELECT uuid, cid, ch,
                         row_number() OVER (PARTITION BY uuid, cid
                           ORDER BY tt DESC, tid DESC) AS rn
                  FROM j),
            lastn AS (SELECT uuid, cid,
                             array_to_string(
                               list(ch ORDER BY rn DESC), '>') AS path
                      FROM r WHERE rn <= 3 GROUP BY uuid, cid),
            per AS (SELECT path,
                           CAST(COUNT(*) AS BIGINT) AS n_conversions
                    FROM lastn GROUP BY path),
            untouched AS (
              SELECT '(none)' AS path,
                     CAST(COUNT(*) AS BIGINT) AS n_conversions
              FROM c WHERE NOT EXISTS (
                SELECT 1 FROM lastn x
                WHERE x.uuid = c.uuid AND x.cid = c.cid)
              HAVING COUNT(*) > 0)
            SELECT * FROM per UNION ALL SELECT * FROM untouched
        """,
        "q227_mmr": f"""
            WITH qe AS (
              SELECT vec_id,
                     [ CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576)
                            AS BIGINT)
                       for i in generate_series(1, len(embedding)) ] AS q
              FROM embeddings),
            cand AS (
              SELECT c.vec_id, c.q, {mm_dot} AS rel
              FROM qe c CROSS JOIN (SELECT q FROM qe WHERE vec_id = 0) s
              WHERE c.vec_id <> 0),
            p1 AS (SELECT vec_id, 70 * rel AS score FROM cand
                   ORDER BY score DESC, vec_id LIMIT 1),
            s1 AS (SELECT qe.vec_id, qe.q FROM qe JOIN p1
                     ON qe.vec_id = p1.vec_id),
            {_mmr_round(2)},
            {_mmr_round(3)},
            {_mmr_round(4)},
            {_mmr_round(5)}
            SELECT CAST(1 AS INT) AS rank, vec_id,
                   CAST(score AS BIGINT) AS score100 FROM p1
            UNION ALL SELECT 2, vec_id, CAST(score AS BIGINT) FROM p2
            UNION ALL SELECT 3, vec_id, CAST(score AS BIGINT) FROM p3
            UNION ALL SELECT 4, vec_id, CAST(score AS BIGINT) FROM p4
            UNION ALL SELECT 5, vec_id, CAST(score AS BIGINT) FROM p5
        """,
        "q228_window_cooccurrence": f"""
            WITH w AS (SELECT {_TOKENS} AS ws FROM documents),
            p AS (
              SELECT least(ws[i], ws[i + o]) AS w1,
                     greatest(ws[i], ws[i + o]) AS w2
              FROM w, unnest([1, 2]) AS ofs(o),
                   unnest(generate_series(1, greatest(len(ws) - o, 0)))
                     AS u(i)
            ),
            uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM (SELECT unnest(ws) AS t FROM w) GROUP BY t),
            pairs AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT)
                        AS pair_count
                      FROM p GROUP BY w1, w2
                      HAVING COUNT(*) >= 50),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p)
            SELECT pairs.w1, pairs.w2, pairs.pair_count,
                   CAST(length(bin(pairs.pair_count)) + length(bin(nn.n))
                        - length(bin(u1.cnt)) - length(bin(u2.cnt))
                        AS BIGINT) AS pmi_bits
            FROM pairs
            JOIN uni u1 ON u1.t = pairs.w1
            JOIN uni u2 ON u2.t = pairs.w2
            CROSS JOIN nn
        """,
        "q229_weighted_sample": """
            WITH base AS (
              SELECT doc_id, CAST(length(text) AS BIGINT) AS n
              FROM documents WHERE length(text) > 0),
            o AS (SELECT doc_id, n,
                         COALESCE(SUM(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS off
                  FROM base),
            tot AS (SELECT greatest(SUM(n) // 100, 1) AS stride
                    FROM base)
            SELECT doc_id AS id, n AS weight,
                   CAST(off AS BIGINT) AS offset,
                   CAST((off + n - 1) // stride
                        - greatest(off - 1, 0) // stride AS BIGINT)
                     AS n_boundaries
            FROM o CROSS JOIN tot
            WHERE (off + n - 1) // stride
                  - greatest(off - 1, 0) // stride > 0
        """,
        "q230_run_lengths": f"""
            WITH e AS ({_E}),
            s AS (SELECT uuid, "time", event_id,
                         event_type AS value,
                         CASE WHEN lag(event_type) OVER w IS NULL
                                OR lag(event_type) OVER w <> event_type
                              THEN 1 ELSE 0 END AS chg
                  FROM e
                  WINDOW w AS (PARTITION BY uuid
                               ORDER BY "time", event_id)),
            r AS (SELECT uuid, value,
                         SUM(chg) OVER (PARTITION BY uuid
                           ORDER BY "time", event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS run
                  FROM s),
            runs AS (SELECT value, CAST(COUNT(*) AS BIGINT)
                       AS run_length
                     FROM r GROUP BY uuid, value, run)
            SELECT value, run_length,
                   CAST(COUNT(*) AS BIGINT) AS n_runs
            FROM runs GROUP BY value, run_length
        """,
        "q231_kwic": f"""
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            h AS (SELECT doc_id, ws, i AS position
                  FROM w, unnest(generate_series(1, len(ws))) AS u(i)
                  WHERE ws[i] = 'table'),
            cap AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY position) AS hn
                    FROM h)
            SELECT doc_id, CAST(position AS BIGINT) AS position,
                   -- a backwards slice (position = 1) is NULL in
                   -- DuckDB, '' in Spark's array_join
                   COALESCE(array_to_string(
                     ws[greatest(position - 3, 1):position - 1], ' '),
                     '') AS left_ctx,
                   COALESCE(array_to_string(
                     ws[position + 1:least(position + 3, len(ws))], ' '),
                     '') AS right_ctx
            FROM cap WHERE hn <= 10
        """,
        "q232_lorenz": f"""
            WITH e AS ({_E}),
            per AS (SELECT uuid, CAST(COUNT(*) AS BIGINT) AS n
                    FROM e GROUP BY uuid),
            ranked AS (SELECT n,
                              row_number() OVER (ORDER BY n, uuid) AS r,
                              SUM(n) OVER (ORDER BY n, uuid
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
                       FROM per),
            tot AS (SELECT MAX(r) AS t, MAX(cum) AS e FROM ranked),
            pts AS (SELECT unnest(generate_series(1, 10)) AS point)
            SELECT CAST(point AS INT) AS point,
                   CAST(point * t // 10 AS BIGINT) AS trails_cum,
                   CAST(point * 1000000 // 10 AS BIGINT)
                     AS trail_share_ppm,
                   CAST(COALESCE(cum * 1000000 // e, 0) AS BIGINT)
                     AS event_share_ppm
            FROM pts CROSS JOIN tot
            LEFT JOIN ranked ON ranked.r = point * t // 10
        """,
        "q233_audio_quality": """
            -- s[i] = (i*59 + id*13) % 3601 - 1800, n = 40 + id%50;
            -- frames of 16, silence rms 600 (sum x^2 < 600^2*len),
            -- clip at |s| >= 1700, dc = trunc(mean)
            WITH a AS (
              SELECT doc_id, 40 + CAST(doc_id % 50 AS BIGINT) AS n
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n,
                     [ (i*59 + doc_id*13) % 3601 - 1800
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            ), fr AS (
              SELECT doc_id, n, xs,
                     [ xs[f*16 + 1 : least((f+1)*16, n)]
                       for f in generate_series(0,
                         CAST(ceil(n / 16.0) AS BIGINT) - 1) ] AS frames
              FROM s
            )
            SELECT doc_id AS media_id,
                   n AS n_samples,
                   CAST(len(frames) AS BIGINT) AS n_frames,
                   CAST(len(list_filter(frames, f ->
                     list_sum(list_transform(f, x -> CAST(x AS HUGEINT) * x))
                       < 360000 * len(f))) AS BIGINT) AS silent_frames,
                   CAST(len(list_filter(xs, x -> abs(x) >= 1700))
                     AS BIGINT) AS clipped_samples,
                   CAST(CASE WHEN list_sum(xs) >= 0
                        THEN list_sum(xs) // n
                        ELSE -((-list_sum(xs)) // n) END AS BIGINT)
                     AS dc_offset
            FROM fr
        """,
        "q234_image_quality": """
            -- px(y, x) = (y*17 + x*31 + id) % 256 on
            -- (8 + id%7) x (8 + id%9); var_num = n*Q - S^2;
            -- grad = sum |horizontal d| + sum |vertical d|
            WITH a AS (
              SELECT doc_id,
                     8 + CAST(doc_id % 9 AS INT) AS w,
                     8 + CAST(doc_id % 7 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            ), t AS (
              SELECT doc_id, w, h,
                     [ ((k // w) * 17 + (k % w) * 31 + doc_id) % 256
                       for k in generate_series(0, h * w - 1) ] AS px
              FROM a
            )
            SELECT doc_id AS media_id,
                   CAST(w * h AS BIGINT) AS n_pixels,
                   CAST(CAST(w * h AS HUGEINT)
                        * list_sum(list_transform(px,
                            x -> CAST(x AS HUGEINT) * x))
                        - CAST(list_sum(px) AS HUGEINT)
                          * list_sum(px) AS BIGINT) AS var_num,
                   CAST(
                     COALESCE(list_sum([ abs(px[k + 2] - px[k + 1])
                       for k in generate_series(0, h * w - 2)
                       if (k % w) <> w - 1 ]), 0)
                     + COALESCE(list_sum([ abs(px[k + w + 1] - px[k + 1])
                       for k in generate_series(0, h * w - w - 1) ]), 0)
                     AS BIGINT) AS grad_energy,
                   CAST(len(list_filter(px, x -> x <= 5 OR x >= 250))
                     AS BIGINT) AS extreme_pixels
            FROM t
        """,
        "q235_adoption_curve": f"""
            WITH e AS ({_E}),
            first AS (SELECT uuid, event_type AS value,
                             MIN("time") AS t0
                      FROM e GROUP BY uuid, event_type),
            per AS (SELECT value, t0 // 86400 AS bucket,
                           CAST(COUNT(*) AS BIGINT) AS n_first_trails
                    FROM first GROUP BY value, t0 // 86400)
            SELECT value, CAST(bucket AS BIGINT) AS bucket,
                   n_first_trails,
                   CAST(SUM(n_first_trails) OVER (PARTITION BY value
                     ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS cum_trails
            FROM per
        """,
        # q236 proves the native-.tdb round trip: the Spark side reads
        # the events EXPORTED to a real TrailDB package and re-imported
        # through the full decode stack; the oracle reads the ORIGINAL
        # parquet — a hash match certifies nothing was lost or corrupted
        # in encode -> tar package -> bitstream decode.
        "q236_tdb_import": f"""
            WITH e AS ({_E})
            SELECT lpad(uuid, 32, '0') AS uuid,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN("time") AS first_time,
                   MAX("time") AS last_time,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(SUM(event_id) AS BIGINT) AS id_sum
            FROM e GROUP BY uuid
        """,
        "q237_bpe_train": _bpe_oracle(8),
        "q244_scene_changes": """
            -- p[f, i] = (id*7 + f*13 + i) % 256, n = 2 + id%4 frames of
            -- 8x4; cut iff |sum(f) - sum(f-1)| * 1000 > 12000 * 32
            WITH v AS (
              SELECT doc_id, 2 + CAST(doc_id % 4 AS BIGINT) AS n
              FROM documents WHERE doc_id % 3 = 2
            ), fs AS (
              SELECT doc_id, n,
                     [ list_sum([ (doc_id*7 + f*13 + i) % 256
                                  for i in generate_series(0, 31) ])
                       for f in generate_series(0, n - 1) ] AS sums
              FROM v
            ), cuts AS (
              SELECT doc_id,
                     unnest([ {'frame': f, 'delta': sums[f+1] - sums[f]}
                              for f in generate_series(1, len(sums) - 1) ])
                       AS c
              FROM fs
            )
            SELECT doc_id AS media_id,
                   CAST(c.frame AS BIGINT) AS frame,
                   CAST(c.delta AS BIGINT) AS luma_delta
            FROM cuts
            WHERE abs(c.delta) * 1000 > 12000 * 32
        """,
        "q245_mixture_plan": f"""
            WITH c AS (
              SELECT source,
                     CAST(SUM(len({_TOKENS})) AS BIGINT) AS available_tokens
              FROM documents GROUP BY source),
            t(source, share_ppm) AS (VALUES
              ('src0', 300000), ('src1', 250000), ('src2', 200000),
              ('src3', 150000), ('src4', 100000)),
            j AS (
              SELECT c.source, c.available_tokens,
                     CAST(COALESCE(t.share_ppm, 0) AS BIGINT) AS share_ppm
              FROM c LEFT JOIN t ON c.source = t.source)
            SELECT source, available_tokens,
                   share_ppm AS target_share_ppm,
                   (1000000 * share_ppm) // 1000000 AS target_tokens,
                   least((1000000 * share_ppm) // 1000000,
                         (available_tokens * 4000000) // 1000000)
                     AS planned_tokens,
                   CASE WHEN available_tokens > 0 THEN
                     (least((1000000 * share_ppm) // 1000000,
                            (available_tokens * 4000000) // 1000000)
                      * 1000000) // available_tokens
                   ELSE 0 END AS epochs_ppm,
                   (1000000 * share_ppm) // 1000000
                   - least((1000000 * share_ppm) // 1000000,
                           (available_tokens * 4000000) // 1000000)
                     AS deficit_tokens
            FROM j
        """,
        "q243_audio_fingerprint_dedup": """
            -- s[i] = (i*59 + id*13) % 3601 - 1800, n = 40 + id%50;
            -- frame energies over 16 samples, bit f = E(f+1) > E(f)
            WITH a AS (
              SELECT doc_id, 40 + CAST(doc_id % 50 AS BIGINT) AS n
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n,
                     [ (i*59 + doc_id*13) % 3601 - 1800
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            ), fr AS (
              SELECT doc_id,
                     [ list_sum(list_transform(
                         xs[f*16 + 1 : least((f+1)*16, n)],
                         x -> CAST(x AS HUGEINT) * x))
                       for f in generate_series(0,
                         CAST(ceil(n / 16.0) AS BIGINT) - 1) ] AS es
              FROM s
            ), fp AS (
              SELECT doc_id,
                     CAST(len(es) AS BIGINT) AS n_frames,
                     CAST(COALESCE(list_sum(
                       [ CASE WHEN es[f + 2] > es[f + 1]
                              THEN (1::BIGINT << f) ELSE 0::BIGINT END
                         for f in generate_series(0, len(es) - 2) ]),
                       0) AS BIGINT) AS fingerprint
              FROM fr
            )
            SELECT n_frames, fingerprint,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   MIN(doc_id) AS canonical_id
            FROM fp GROUP BY n_frames, fingerprint
        """,
        "q238_quality_classifier": f"""
            WITH t AS (SELECT doc_id, {_TOKENS} AS w FROM documents),
            s AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                     CAST(list_reduce(list_prepend(0::BIGINT,
                       [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
                        % 17 - 8 for x in w]),
                       (a, b) -> a + b) AS BIGINT) AS score
              FROM t)
            SELECT doc_id, n_tokens, score, score > 0 AS keep FROM s
        """,
        "q239_tokenizer_fertility": f"""
            WITH per AS (
              SELECT {lang_case} AS lang,
                     CAST(len({_TOKENS}) AS BIGINT) AS w,
                     CAST(len(regexp_extract_all(text, '{_BPE_RE}'))
                          AS BIGINT) AS s,
                     CAST(length(text) AS BIGINT) AS c
              FROM documents),
            a AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     SUM(w) AS W, SUM(s) AS S, SUM(c) AS C
              FROM per GROUP BY lang)
            SELECT lang, n_docs,
                   CAST(W AS BIGINT) AS n_words,
                   CAST(S AS BIGINT) AS n_subwords,
                   CASE WHEN W > 0
                        THEN CAST((1000000 * S) // W AS BIGINT)
                   END AS fertility_ppm,
                   CASE WHEN S > 0
                        THEN CAST((1000000 * C) // S AS BIGINT)
                   END AS chars_per_subword_ppm
            FROM a
        """,
        "q240_triangle_count": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS w FROM documents),
            h AS (
              SELECT doc_id,
                     [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) for x in w] AS hs
              FROM t),
            s AS (
              SELECT doc_id,
                     list_reduce(list_prepend(0::BIGINT,
                       [CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > len(hs)
                             THEN (1::BIGINT << b) ELSE 0::BIGINT END
                        for b in generate_series(0, 59)]),
                       (x, y) -> x + y) AS sh
              FROM h),
            e AS (
              SELECT a.doc_id AS u, b.doc_id AS v
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.sh, b.sh)) <= 6),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
            corners AS (
              SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY node
        """,
        "q246_sim_topk_sq8": """
            WITH fz AS (
              SELECT vec_id,
                     [CAST(embedding[i] AS DOUBLE)
                      for i in generate_series(1, 64)] AS fv,
                     [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                      for i in generate_series(1, 64)] AS qv
              FROM embeddings),
            dims AS (
              SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
                        max(CAST(embedding[i] AS DOUBLE)) AS hi
              FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY i),
            codes AS (
              SELECT e.vec_id,
                     list(CAST(CASE WHEN d.hi = d.lo THEN 0
                          ELSE greatest(0, least(255,
                            floor((e.fv[d.i] - d.lo) * 255.0 / (d.hi - d.lo))))
                          END AS BIGINT) ORDER BY d.i) AS code
              FROM fz e, dims d GROUP BY e.vec_id),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     CAST(list_sum([qc.code[i] * cc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS int_dot,
                     CAST(list_sum([cc.code[i] * cc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS n2c,
                     CAST(list_sum([qc.code[i] * qc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS n2q
              FROM codes qc JOIN fz q ON q.vec_id = qc.vec_id
              CROSS JOIN codes cc JOIN fz c ON c.vec_id = cc.vec_id
              WHERE q.vec_id < 5),
            cand AS (
              SELECT query_id, corpus_id, approx_cos_micro,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY approx_cos_micro DESC NULLS LAST,
                                                 corpus_id ASC) AS crank
              FROM (
                SELECT query_id, corpus_id,
                       CASE WHEN n2c > 0 AND n2q > 0 THEN
                         CASE WHEN int_dot >= 0
                              THEN (1000000 * int_dot)
                                   // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE))) AS BIGINT)
                              ELSE -((1000000 * -int_dot)
                                   // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE))) AS BIGINT))
                         END
                       END AS approx_cos_micro
                FROM scored)),
            reranked AS (
              SELECT cd.query_id, cd.corpus_id,
                     CAST(cd.approx_cos_micro AS BIGINT) AS approx_cos_micro,
                     round(list_sum([cv.qv[i] * qv.qv[i] for i in generate_series(1, 64)])
                           / (sqrt(list_sum([cv.qv[i] * cv.qv[i] for i in generate_series(1, 64)]))
                              * sqrt(list_sum([qv.qv[i] * qv.qv[i] for i in generate_series(1, 64)]))),
                           6) AS cos
              FROM cand cd
              JOIN fz cv ON cv.vec_id = cd.corpus_id
              JOIN fz qv ON qv.vec_id = cd.query_id
              WHERE cd.crank <= 20)
            SELECT query_id, corpus_id, approx_cos_micro, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, corpus_id ASC) AS INT) AS rank
            FROM reranked
            QUALIFY rank <= 5
        """,
        "q247_readability": """
            WITH c AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
                     CAST(len(regexp_extract_all(text, '[.!?]+')) + 1 AS BIGINT) AS n_sentences,
                     CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
              FROM documents)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0
                        THEN CAST(206835 - (1015 * n_words) // n_sentences
                                  - (84600 * n_syllables) // n_words AS BIGINT)
                   END AS flesch_milli
            FROM c
        """,
        "q248_markov_stationary": f"""
            WITH l AS (
              SELECT event_type,
                     lag(event_type) OVER (PARTITION BY uuid
                                           ORDER BY "time", event_id) AS prev
              FROM ({_E})),
            t0 AS (
              SELECT prev AS src, event_type AS dst, COUNT(*) AS freq
              FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
            states AS (
              SELECT DISTINCT state FROM (
                SELECT src AS state FROM t0
                UNION SELECT dst AS state FROM t0)),
            outd AS (SELECT src, SUM(freq) AS out_freq FROM t0 GROUP BY src),
            tr AS (
              SELECT t0.src, t0.dst,
                     CAST((1000000 * t0.freq) // o.out_freq AS BIGINT) AS p_ppm
              FROM t0 JOIN outd o ON o.src = t0.src
              UNION ALL
              SELECT state, state, CAST(1000000 AS BIGINT)
              FROM states WHERE state NOT IN (SELECT src FROM t0)),
            v0 AS (
              SELECT state,
                     CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT) AS mass
              FROM states),
            v1 AS (
              SELECT s.state, COALESCE(f.m, 0) AS mass FROM states s LEFT JOIN (
                SELECT t.dst AS state, SUM((v.mass * t.p_ppm) // 1000000) AS m
                FROM v0 v JOIN tr t ON v.state = t.src GROUP BY t.dst) f
              ON f.state = s.state),
            v2 AS (
              SELECT s.state, COALESCE(f.m, 0) AS mass FROM states s LEFT JOIN (
                SELECT t.dst AS state, SUM((v.mass * t.p_ppm) // 1000000) AS m
                FROM v1 v JOIN tr t ON v.state = t.src GROUP BY t.dst) f
              ON f.state = s.state),
            v3 AS (
              SELECT s.state, COALESCE(f.m, 0) AS mass FROM states s LEFT JOIN (
                SELECT t.dst AS state, SUM((v.mass * t.p_ppm) // 1000000) AS m
                FROM v2 v JOIN tr t ON v.state = t.src GROUP BY t.dst) f
              ON f.state = s.state),
            v4 AS (
              SELECT s.state, COALESCE(f.m, 0) AS mass FROM states s LEFT JOIN (
                SELECT t.dst AS state, SUM((v.mass * t.p_ppm) // 1000000) AS m
                FROM v3 v JOIN tr t ON v.state = t.src GROUP BY t.dst) f
              ON f.state = s.state)
            SELECT state AS event_type, CAST(mass AS BIGINT) AS stationary_ppm
            FROM v4
        """,
        "q249_lagged_crosscorr": f"""
            WITH e AS ({_E}),
            hr AS (
              SELECT "time" // 3600 AS h, event_type FROM e
              WHERE event_type IN ('click', 'purchase')),
            per AS (
              SELECT h,
                     CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                     CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
              FROM hr GROUP BY h),
            b AS (SELECT min(h) AS lo, max(h) AS hi FROM per),
            grid AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
            dense AS (
              SELECT g.h, COALESCE(p.x, 0) AS x, COALESCE(p.y, 0) AS y
              FROM grid g LEFT JOIN per p ON p.h = g.h),
            lags AS (SELECT unnest(generate_series(0, 6)) AS lag),
            j AS (
              SELECT l.lag, t1.x, t2.y
              FROM dense t1 CROSS JOIN lags l
              JOIN dense t2 ON t2.h = t1.h + l.lag),
            a AS (
              SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                     SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                     SUM(x * x) AS sxx, SUM(y * y) AS syy
              FROM j GROUP BY lag)
            SELECT CAST(lag AS BIGINT) AS lag, n,
                   CAST(n * sxy - sx * sy AS BIGINT) AS num,
                   CAST(n * sxx - sx * sx AS BIGINT) AS den_x,
                   CAST(n * syy - sy * sy AS BIGINT) AS den_y,
                   CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                        THEN CAST(round(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 0) AS BIGINT)
                   END AS corr_micro
            FROM a ORDER BY lag
        """,
        "q250_prefix_dedup": f"""
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            p AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(array_to_string(ws[1:12], ' ')), 1, 15))
                          AS BIGINT) AS prefix_hash
              FROM w),
            g AS (
              SELECT doc_id, prefix_hash,
                     CAST(COUNT(*) OVER (PARTITION BY prefix_hash) AS BIGINT) AS group_size,
                     MIN(doc_id) OVER (PARTITION BY prefix_hash) AS canonical_id
              FROM p)
            SELECT doc_id, prefix_hash, group_size, canonical_id
            FROM g WHERE group_size >= 2
        """,
        "q251_template_dedup": f"""
            WITH w AS (
              SELECT doc_id, {_NORM_TEXT} AS norm, {_TOKENS} AS ws FROM documents),
            s AS (
              SELECT doc_id, norm,
                     CAST(('0x' || substr(md5(array_to_string(
                       [CASE WHEN regexp_matches(t, '^[0-9]+$') THEN 'd'
                             WHEN regexp_matches(t, '^[A-Za-z]{{1,3}}$') THEN 's'
                             WHEN regexp_matches(t, '^[A-Za-z]{{4,6}}$') THEN 'm'
                             WHEN regexp_matches(t, '^[A-Za-z]+$') THEN 'l'
                             ELSE 'p' END for t in ws], '')), 1, 15))
                          AS BIGINT) AS shape_hash
              FROM w)
            SELECT shape_hash, CAST(COUNT(*) AS BIGINT) AS group_size,
                   CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_distinct_texts,
                   MIN(doc_id) AS canonical_id
            FROM s GROUP BY shape_hash
            HAVING COUNT(*) >= 2
        """,
        "q252_ngram_novelty": f"""
            WITH w AS (SELECT doc_id, source, {_TOKENS} AS ws FROM documents),
            gr AS (
              SELECT doc_id, source, unnest(list_distinct(
                [CAST(('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15)) AS BIGINT)
                 for i in generate_series(1, greatest(len(ws) - 12, 1))])) AS g
              FROM w),
            f AS (SELECT g, MIN(doc_id) AS first_doc FROM gr GROUP BY g),
            per AS (
              SELECT gr.doc_id, gr.source,
                     CAST(COUNT(*) AS BIGINT) AS n_grams,
                     CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                          AS BIGINT) AS novel_grams
              FROM gr JOIN f ON f.g = gr.g
              GROUP BY gr.doc_id, gr.source)
            SELECT doc_id, source, n_grams, novel_grams,
                   CAST((1000000 * novel_grams) // n_grams AS BIGINT) AS novelty_ppm
            FROM per
        """,
        "q253_kmv_distinct": f"""
            WITH e AS ({_E}),
            d AS (
              SELECT DISTINCT event_type,
                     CAST(('0x' || substr(md5(uuid), 1, 15)) AS BIGINT) AS h
              FROM e),
            r AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY h) AS rn
              FROM d),
            a AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                     MAX(h) AS hk
              FROM r WHERE rn <= 64 GROUP BY event_type),
            x AS (
              SELECT event_type,
                     CAST(COUNT(DISTINCT uuid) AS BIGINT) AS exact_distinct
              FROM e GROUP BY event_type)
            SELECT a.event_type,
                   CASE WHEN a.n < 64 THEN a.n
                        ELSE CAST((63::HUGEINT * 1152921504606846976) // a.hk
                                  AS BIGINT) END AS kmv_estimate,
                   x.exact_distinct
            FROM a JOIN x
              ON x.event_type IS NOT DISTINCT FROM a.event_type
        """,
        "q254_audio_gain": """
            -- fixture closed form: s[i] = (i*59 + id*13) % 3601 - 1800,
            -- n = 40 + id%50, audio rows are doc_id % 3 = 1
            WITH a AS (
              SELECT doc_id, 40 + CAST(doc_id % 50 AS BIGINT) AS n
              FROM documents WHERE doc_id % 3 = 1
            ), s AS (
              SELECT doc_id, n,
                     [ (i*59 + doc_id*13) % 3601 - 1800
                       for i in generate_series(0, n - 1) ] AS xs
              FROM a
            ), base AS (
              SELECT doc_id AS media_id, n AS n_samples,
                     CAST(list_sum(list_transform(xs,
                          x -> CAST(x AS HUGEINT) * x)) AS BIGINT) AS sum_sq,
                     CAST(list_max(list_transform(xs, x -> abs(x)))
                          AS BIGINT) AS max_abs
              FROM s
            ), g AS (
              SELECT media_id, n_samples, sum_sq,
                     CAST(floor(sqrt(CAST(sum_sq // n_samples AS DOUBLE)))
                          AS BIGINT) AS rms_floor,
                     max_abs
              FROM base)
            SELECT media_id, n_samples, sum_sq, rms_floor, max_abs,
                   CASE WHEN rms_floor > 0
                        THEN CAST((1000 * 20000) // rms_floor AS BIGINT)
                   END AS gain_milli,
                   CASE WHEN rms_floor > 0
                        THEN max_abs * ((1000 * 20000) // rms_floor)
                             > 32767 * 1000
                   END AS would_clip
            FROM g
        """,
        "q255_stopword_discovery": f"""
            WITH t AS (
              SELECT doc_id, unnest(list_distinct({_TOKENS})) AS token
              FROM documents),
            f AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
              FROM t GROUP BY token),
            n AS (SELECT COUNT(*) AS n_docs FROM documents)
            SELECT token, doc_freq,
                   CAST((1000000 * doc_freq) // n.n_docs AS BIGINT) AS df_ppm
            FROM f, n
            WHERE (1000000 * doc_freq) // n.n_docs >= 600000
        """,
        "q256_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate < TIMESTAMP '1998-06-15'
              AND l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "q257_local_supplier_volume": """
            SELECT n_name,
                   round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND s_nationkey = c_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "q258_promo_revenue": """
            WITH m AS (
              SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                     round(SUM(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0.0 END), 4) AS promo_revenue,
                     round(SUM(l_extendedprice * (1 - l_discount)), 4)
                       AS total_revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1)
            SELECT ship_month, promo_revenue, total_revenue,
                   round(100.0 * promo_revenue / total_revenue, 4)
                     AS promo_share
            FROM m
        """,
        "q259_label_confusion": """
            WITH qz AS (
              SELECT label,
                     [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT)
                      for i in generate_series(1, 64)] AS qv
              FROM embeddings WHERE label IS NOT NULL),
            u AS (
              SELECT CAST(label AS BIGINT) AS label, t.i,
                     CAST(SUM(qv[t.i]) AS BIGINT) AS sd
              FROM qz, generate_series(1, 64) AS t(i)
              GROUP BY label, t.i),
            s AS (SELECT label, list(sd ORDER BY i) AS s FROM u GROUP BY label),
            n AS (
              SELECT CAST(label AS BIGINT) AS label,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM qz GROUP BY label)
            SELECT a.label AS label_a, b.label AS label_b,
                   na.n AS n_a, nb.n AS n_b,
                   round(CAST(list_sum([a.s[i] * b.s[i]
                              for i in generate_series(1, 64)]) AS DOUBLE)
                         / (sqrt(CAST(list_sum([a.s[i] * a.s[i]
                              for i in generate_series(1, 64)]) AS DOUBLE))
                            * sqrt(CAST(list_sum([b.s[i] * b.s[i]
                              for i in generate_series(1, 64)]) AS DOUBLE))),
                         6) AS centroid_cos
            FROM s a JOIN s b ON a.label < b.label
            JOIN n na ON na.label = a.label
            JOIN n nb ON nb.label = b.label
        """,
        "q260_dedup_impact": f"""
            WITH pairs AS ({_minhash_portable_oracle(5, 16, 4, 0.5, max_bucket=256)}),
            d AS (
              SELECT doc_id, source, CAST(len({_TOKENS}) AS BIGINT) AS tok,
                     {_NORM_TEXT} AS nt
              FROM documents),
            m AS (
              SELECT doc_id, source, tok,
                     (doc_id > MIN(doc_id) OVER (PARTITION BY nt))
                       AS exact_removed
              FROM d),
            surv AS (SELECT doc_id FROM m WHERE NOT exact_removed),
            near AS (
              SELECT DISTINCT p.id_b AS doc_id FROM pairs p
              JOIN surv sa ON sa.doc_id = p.id_a
              JOIN surv sb ON sb.doc_id = p.id_b),
            mk AS (
              SELECT m.doc_id, m.source, m.tok, m.exact_removed,
                     (NOT m.exact_removed AND near.doc_id IS NOT NULL)
                       AS near_removed
              FROM m LEFT JOIN near ON near.doc_id = m.doc_id)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN exact_removed THEN 1 ELSE 0 END)
                        AS BIGINT) AS exact_removed,
                   CAST(SUM(CASE WHEN near_removed THEN 1 ELSE 0 END)
                        AS BIGINT) AS near_removed,
                   CAST(SUM(CASE WHEN NOT exact_removed AND NOT near_removed
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(tok) AS BIGINT) AS tokens_before,
                   CAST(SUM(CASE WHEN NOT exact_removed AND NOT near_removed
                        THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM mk GROUP BY source
        """,
        "q261_neardup_audit_sample": f"""
            WITH cands AS ({_minhash_portable_oracle(5, 16, 4, 0.0, max_bucket=256)})
            SELECT id_a, id_b, jaccard, jaccard >= 0.5 AS passes
            FROM cands
            WHERE CAST(('0x' || substr(md5(CAST(id_a AS VARCHAR) || ':'
                       || CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 100 < 20
        """,
        "q262_sim_topk_jl": _jl_topk_oracle(16, 20, 5),
        "q265_sim_topk_jl_sq8": _jl_sq8_oracle(16, 20, 5),
        "q269_jl_sq8_prebuilt": _jl_sq8_oracle(16, 20, 5),
        # q271: the appended artifact == rebuild on the union == the
        # even-doc_id corpus, so the oracle is q116's cross-corpus SQL
        # at threshold 0.25 (sig-prune cutoff self-disables there,
        # matching the pruneless prebuilt probe)
        "q271_minhash_append": _fuzzy_against_oracle(5, 16, 4, 0.25),
        # q270: q246's pipeline over embeddings UNION ALL the appended
        # clones — clones leave per-dim min/max unchanged, so this also
        # IS the frozen-grid encode the appended artifact serves (the
        # append parity law, SQL-expressible end-to-end).
        "q270_sq8_append": """
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id, embedding
              FROM embeddings WHERE vec_id >= 5 AND vec_id < 25),
            fz AS (
              SELECT vec_id,
                     [CAST(embedding[i] AS DOUBLE)
                      for i in generate_series(1, 64)] AS fv,
                     [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                      for i in generate_series(1, 64)] AS qv
              FROM base),
            dims AS (
              SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
                        max(CAST(embedding[i] AS DOUBLE)) AS hi
              FROM base, generate_series(1, 64) AS t(i) GROUP BY i),
            codes AS (
              SELECT e.vec_id,
                     list(CAST(CASE WHEN d.hi = d.lo THEN 0
                          ELSE greatest(0, least(255,
                            floor((e.fv[d.i] - d.lo) * 255.0 / (d.hi - d.lo))))
                          END AS BIGINT) ORDER BY d.i) AS code
              FROM fz e, dims d GROUP BY e.vec_id),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     CAST(list_sum([qc.code[i] * cc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS int_dot,
                     CAST(list_sum([cc.code[i] * cc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS n2c,
                     CAST(list_sum([qc.code[i] * qc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS n2q
              FROM codes qc JOIN fz q ON q.vec_id = qc.vec_id
              CROSS JOIN codes cc JOIN fz c ON c.vec_id = cc.vec_id
              WHERE q.vec_id < 5),
            cand AS (
              SELECT query_id, corpus_id, approx_cos_micro,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY approx_cos_micro DESC NULLS LAST,
                                                 corpus_id ASC) AS crank
              FROM (
                SELECT query_id, corpus_id,
                       CASE WHEN n2c > 0 AND n2q > 0 THEN
                         CASE WHEN int_dot >= 0
                              THEN (1000000 * int_dot)
                                   // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE))) AS BIGINT)
                              ELSE -((1000000 * -int_dot)
                                   // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE))) AS BIGINT))
                         END
                       END AS approx_cos_micro
                FROM scored)),
            reranked AS (
              SELECT cd.query_id, cd.corpus_id,
                     CAST(cd.approx_cos_micro AS BIGINT) AS approx_cos_micro,
                     round(list_sum([cv.qv[i] * qv.qv[i] for i in generate_series(1, 64)])
                           / (sqrt(list_sum([cv.qv[i] * cv.qv[i] for i in generate_series(1, 64)]))
                              * sqrt(list_sum([qv.qv[i] * qv.qv[i] for i in generate_series(1, 64)]))),
                           6) AS cos
              FROM cand cd
              JOIN fz cv ON cv.vec_id = cd.corpus_id
              JOIN fz qv ON qv.vec_id = cd.query_id
              WHERE cd.crank <= 20)
            SELECT query_id, corpus_id, approx_cos_micro, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, corpus_id ASC) AS INT) AS rank
            FROM reranked
            QUALIFY rank <= 5
        """,
        "q268_streaming_dedup_against": f"""
            WITH newd AS (
              SELECT doc_id, md5({_NORM_TEXT}) AS fp
              FROM documents WHERE doc_id % 5 <> 0),
            corp AS (
              SELECT DISTINCT md5({_NORM_TEXT}) AS fp
              FROM documents WHERE doc_id % 5 = 0)
            SELECT fp, MIN(doc_id) AS doc_id
            FROM newd
            WHERE fp NOT IN (SELECT fp FROM corp)
            GROUP BY fp
        """,
        "q267_zindex_routing": f"""
            WITH ev AS (
              SELECT uuid, "time", event_type,
                     CAST(("time" // 3600) % 24 AS VARCHAR) AS hod
              FROM ({_E}))
            SELECT event_type, hod,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT uuid) AS n_trails,
                   SUM("time") AS sum_time
            FROM ev
            WHERE (event_type = 'click' OR event_type = 'view')
              AND hod = '12'
            GROUP BY event_type, hod
        """,
        "q266_sq8_prebuilt": """
            WITH fz AS (
              SELECT vec_id,
                     [CAST(embedding[i] AS DOUBLE)
                      for i in generate_series(1, 64)] AS fv,
                     [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                      for i in generate_series(1, 64)] AS qv
              FROM embeddings),
            dims AS (
              SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
                        max(CAST(embedding[i] AS DOUBLE)) AS hi
              FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY i),
            codes AS (
              SELECT e.vec_id,
                     list(CAST(CASE WHEN d.hi = d.lo THEN 0
                          ELSE greatest(0, least(255,
                            floor((e.fv[d.i] - d.lo) * 255.0 / (d.hi - d.lo))))
                          END AS BIGINT) ORDER BY d.i) AS code
              FROM fz e, dims d GROUP BY e.vec_id),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     CAST(list_sum([qc.code[i] * cc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS int_dot,
                     CAST(list_sum([cc.code[i] * cc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS n2c,
                     CAST(list_sum([qc.code[i] * qc.code[i]
                          for i in generate_series(1, 64)]) AS BIGINT) AS n2q
              FROM codes qc JOIN fz q ON q.vec_id = qc.vec_id
              CROSS JOIN codes cc JOIN fz c ON c.vec_id = cc.vec_id
              WHERE q.vec_id < 5),
            cand AS (
              SELECT query_id, corpus_id, approx_cos_micro,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY approx_cos_micro DESC NULLS LAST,
                                                 corpus_id ASC) AS crank
              FROM (
                SELECT query_id, corpus_id,
                       CASE WHEN n2c > 0 AND n2q > 0 THEN
                         CASE WHEN int_dot >= 0
                              THEN (1000000 * int_dot)
                                   // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE))) AS BIGINT)
                              ELSE -((1000000 * -int_dot)
                                   // CAST(floor(sqrt(CAST(n2c * n2q AS DOUBLE))) AS BIGINT))
                         END
                       END AS approx_cos_micro
                FROM scored)),
            reranked AS (
              SELECT cd.query_id, cd.corpus_id,
                     CAST(cd.approx_cos_micro AS BIGINT) AS approx_cos_micro,
                     round(list_sum([cv.qv[i] * qv.qv[i] for i in generate_series(1, 64)])
                           / (sqrt(list_sum([cv.qv[i] * cv.qv[i] for i in generate_series(1, 64)]))
                              * sqrt(list_sum([qv.qv[i] * qv.qv[i] for i in generate_series(1, 64)]))),
                           6) AS cos
              FROM cand cd
              JOIN fz cv ON cv.vec_id = cd.corpus_id
              JOIN fz qv ON qv.vec_id = cd.query_id
              WHERE cd.crank <= 20)
            SELECT query_id, corpus_id, approx_cos_micro, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, corpus_id ASC) AS INT) AS rank
            FROM reranked
            QUALIFY rank <= 5
        """,
        "q263_ensemble_neardup": f"""
            WITH lex AS ({_minhash_portable_oracle(5, 16, 4, 0.5, max_bucket=256)}),
            toks AS (
              SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, {{grams3}} AS g FROM toks WHERE len(w) > 0),
            gp AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                           / CAST(len(list_distinct(list_concat(a.g, b.g)))
                                  AS DOUBLE), 6) AS gram_jaccard
              FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
            SELECT l.id_a, l.id_b, l.jaccard, gp.gram_jaccard
            FROM lex l JOIN gp ON gp.id_a = l.id_a AND gp.id_b = l.id_b
            WHERE gp.gram_jaccard >= 0.5
        """.replace("{grams3}", grams3),
        "q264_threshold_sweep": f"""
            WITH cands AS ({_minhash_portable_oracle(5, 16, 4, 0.0, max_bucket=256)}),
            ths AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                         AS DOUBLE) AS threshold)
            SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_docs_removed
            FROM cands, ths
            WHERE jaccard >= threshold
            GROUP BY threshold ORDER BY threshold
        """,
        "q241_simpson_diversity": f"""
            WITH t AS (
              SELECT source, unnest({_TOKENS}) AS tok FROM documents),
            c AS (
              SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
              FROM t GROUP BY source, tok),
            a AS (
              SELECT source, SUM(n) AS N, SUM(n * (n - 1)) AS pairs,
                     CAST(COUNT(*) AS BIGINT) AS distinct_tokens
              FROM c GROUP BY source)
            SELECT source, CAST(N AS BIGINT) AS n_tokens, distinct_tokens,
                   CASE WHEN N > 1
                        THEN CAST((1000000::HUGEINT * pairs)
                                  // (N::HUGEINT * (N - 1)) AS BIGINT)
                        ELSE 0 END AS simpson_ppm
            FROM a
        """,
        "q242_cross_source_contamination": f"""
            WITH w AS (
              SELECT doc_id, source, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT DISTINCT source, unnest(list_distinct(
                [CAST(('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15)) AS BIGINT)
                 for i in generate_series(1, greatest(len(ws) - 12, 1))])) AS g
              FROM w),
            sz AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM g GROUP BY source),
            p AS (
              SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS shared_grams
              FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
              GROUP BY a.source, b.source)
            SELECT src_a, src_b, shared_grams,
                   CAST((1000000 * shared_grams)
                        // least(na.n, nb.n) AS BIGINT) AS containment_ppm
            FROM p
            JOIN sz na ON na.source = p.src_a
            JOIN sz nb ON nb.source = p.src_b
        """,
        "q99_attribution_linear": f"""
            WITH e AS ({_E}),
            c AS (SELECT uuid, "time" AS ct, event_id AS cid FROM e
                  WHERE event_type = 'purchase'),
            t AS (SELECT uuid, "time" AS tt, event_id AS tid,
                         event_type AS ch FROM e
                  WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT c.uuid, c.cid, t.ch, t.tt, t.tid
              FROM c JOIN t ON c.uuid = t.uuid
              WHERE (t.tt < c.ct OR (t.tt = c.ct AND t.tid < c.cid))
                AND t.tt >= c.ct - 86400),
            k AS (
              SELECT uuid, cid, ch,
                     COUNT(*) OVER (PARTITION BY uuid, cid) AS n,
                     row_number() OVER (PARTITION BY uuid, cid
                                        ORDER BY tt DESC, tid DESC) AS rn
              FROM j),
            credited AS (
              SELECT uuid, cid, ch,
                     CASE WHEN rn = 1 THEN 10000 - (n - 1) * (10000 // n)
                          ELSE 10000 // n END AS bp
              FROM k),
            per_ch AS (
              SELECT ch AS channel,
                     COUNT(DISTINCT (uuid, cid)) AS conversions_touched,
                     CAST(SUM(bp) AS BIGINT) AS credit_bp
              FROM credited GROUP BY ch),
            untouched AS (
              SELECT '(none)' AS channel,
                     COUNT(*) AS conversions_touched,
                     CAST(COUNT(*) * 10000 AS BIGINT) AS credit_bp
              FROM c
              WHERE NOT EXISTS (
                SELECT 1 FROM credited x
                WHERE x.uuid = c.uuid AND x.cid = c.cid)
              HAVING COUNT(*) > 0)
            SELECT * FROM per_ch UNION ALL SELECT * FROM untouched
        """,
        "q98_rolling_active": f"""
            WITH e AS ({_E}),
            per AS (SELECT DISTINCT uuid, "time" // 86400 AS d FROM e),
            sp AS (
              SELECT uuid,
                     unnest(generate_series(
                       d, LEAST(d + 6, (SELECT MAX(d) FROM per)))) AS day
              FROM per)
            SELECT day, COUNT(DISTINCT uuid) AS active_trails
            FROM sp GROUP BY day
        """,
        "q197_avi_decode": """
            -- identity-palette DIB frames: rounded luma p[f,i] =
            -- (id*5 + f*17 + i*3) % 256 over 6x5 frames, n = 2 + id % 4,
            -- stride 2 (q94's shape on the AVI container)
            WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
            f AS (
              SELECT doc_id,
                     unnest(generate_series(0, (2 + doc_id % 4) - 1, 2)) AS frame_idx
              FROM v),
            px AS (
              SELECT doc_id, frame_idx, unnest(generate_series(0, 29)) AS i
              FROM f)
            SELECT doc_id AS media_id,
                   CAST(frame_idx AS INTEGER) AS frame_idx,
                   CAST(6 AS INTEGER) AS width,
                   CAST(5 AS INTEGER) AS height,
                   CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
                   CAST(SUM((doc_id * 5 + frame_idx * 17 + i * 3) % 256) AS BIGINT) AS luma_sum,
                   CAST(MAX((doc_id * 5 + frame_idx * 17 + i * 3) % 256) AS INTEGER) AS luma_max
            FROM px
            GROUP BY doc_id, frame_idx
        """,
        "q94_video_decode": """
            -- closed form of the Y4M fixture: luma p[f,i] = (id*7 + f*13
            -- + i) % 256 over 8x4 frames, n = 2 + id % 4, stride 2
            WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
            f AS (
              SELECT doc_id,
                     unnest(generate_series(0, (2 + doc_id % 4) - 1, 2)) AS frame_idx
              FROM v),
            px AS (
              SELECT doc_id, frame_idx, unnest(generate_series(0, 31)) AS i
              FROM f)
            SELECT doc_id AS media_id,
                   CAST(frame_idx AS INTEGER) AS frame_idx,
                   CAST(8 AS INTEGER) AS width,
                   CAST(4 AS INTEGER) AS height,
                   CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
                   CAST(SUM((doc_id * 7 + frame_idx * 13 + i) % 256) AS BIGINT) AS luma_sum,
                   CAST(MAX((doc_id * 7 + frame_idx * 13 + i) % 256) AS INTEGER) AS luma_max
            FROM px
            GROUP BY doc_id, frame_idx
        """,
        "q93_countmin": f"""
            -- count-min: cell(d, v) = md5('cm:' || d || ':' || v) 60-bit
            -- mod 64; est(v) = min over d of the (d, cell) counter
            WITH e AS ({_E}),
            cells AS (
              SELECT props AS v, d,
                     CAST(('0x' || substr(md5('cm:' || CAST(d AS VARCHAR)
                            || ':' || props), 1, 15)) AS BIGINT) % 64 AS cell
              FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d)),
            sketch AS (
              SELECT d, cell, COUNT(*) AS c FROM cells GROUP BY d, cell),
            probes AS (
              SELECT DISTINCT v, d,
                     CAST(('0x' || substr(md5('cm:' || CAST(d AS VARCHAR)
                            || ':' || v), 1, 15)) AS BIGINT) % 64 AS cell
              FROM cells)
            SELECT p.v AS value, CAST(MIN(COALESCE(s.c, 0)) AS BIGINT) AS est
            FROM probes p LEFT JOIN sketch s ON p.d = s.d AND p.cell = s.cell
            GROUP BY p.v
        """,
        "q91_length_deciles": """
            WITH f AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1),
            cum AS (
              SELECT v,
                     COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
                     (SELECT SUM(c) FROM f) AS n
              FROM f)
            SELECT d.doc_id, d.n_chars,
                   CAST(floor(10 * cum.before / cum.n) AS BIGINT) AS bucket
            FROM documents d JOIN cum ON d.n_chars = cum.v
        """,
        "q92_dataset_diff": f"""
            WITH ea AS (
              SELECT uuid, "time", event_type, event_id FROM ({_E})),
            eb AS (SELECT * FROM ea WHERE event_id % 97 <> 0),
            da AS (
              SELECT uuid, COUNT(*) AS n_a,
                     CAST(SUM(CAST(('0x' || substr(md5(
                            CAST(length(CAST("time" AS VARCHAR)) AS VARCHAR) || ':' || CAST("time" AS VARCHAR)
                            || '|' || CAST(length(event_type) AS VARCHAR) || ':' || event_type
                            || '|' || CAST(length(CAST(event_id AS VARCHAR)) AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT))
                          % 1152921504606846976 AS VARCHAR) AS fp_a
              FROM ea GROUP BY uuid),
            dbb AS (
              SELECT uuid, COUNT(*) AS n_b,
                     CAST(SUM(CAST(('0x' || substr(md5(
                            CAST(length(CAST("time" AS VARCHAR)) AS VARCHAR) || ':' || CAST("time" AS VARCHAR)
                            || '|' || CAST(length(event_type) AS VARCHAR) || ':' || event_type
                            || '|' || CAST(length(CAST(event_id AS VARCHAR)) AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT))
                          % 1152921504606846976 AS VARCHAR) AS fp_b
              FROM eb GROUP BY uuid)
            SELECT COALESCE(da.uuid, dbb.uuid) AS uuid,
                   COALESCE(n_a, 0) AS n_a,
                   COALESCE(n_b, 0) AS n_b,
                   COALESCE(fp_a, '') AS fp_a,
                   COALESCE(fp_b, '') AS fp_b,
                   (COALESCE(n_a, 0) = COALESCE(n_b, 0)
                    AND COALESCE(fp_a, '') = COALESCE(fp_b, '')) AS "match"
            FROM da FULL OUTER JOIN dbb ON da.uuid = dbb.uuid
        """,
        "q89_clean_text": """
            WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       regexp_replace(nfc_normalize(COALESCE(text, '')),
                                      '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                       ' +', ' ', 'g')) AS clean_text,
                     length(COALESCE(text, '')) AS n0
              FROM documents)
            SELECT doc_id, clean_text,
                   CAST(n0 - length(clean_text) AS BIGINT) AS n_chars_removed
            FROM n
        """,
        "q90_burst_windows": f"""
            WITH c AS (
              SELECT uuid, "time" AS t,
                     COUNT(*) OVER (PARTITION BY uuid ORDER BY "time"
                                    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS c
              FROM ({_E}))
            SELECT uuid,
                   MAX(c) AS peak_events,
                   MIN(t) FILTER (WHERE c = mc) AS peak_time
            FROM (SELECT uuid, t, c, MAX(c) OVER (PARTITION BY uuid) AS mc FROM c)
            GROUP BY uuid
        """,
        "q88_session_basket": f"""
            WITH e AS ({_E}),
            m AS (
              SELECT uuid, "time", event_type,
                     CASE WHEN "time" - lag("time") OVER (PARTITION BY uuid ORDER BY "time") > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM e),
            s AS (
              SELECT uuid || '#' || CAST(SUM(is_new) OVER (PARTITION BY uuid ORDER BY "time"
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS sid,
                     event_type AS v
              FROM m),
            d AS (SELECT DISTINCT sid, v FROM s),
            n AS (SELECT COUNT(DISTINCT sid) AS n FROM d),
            singles AS (SELECT v, COUNT(*) AS nv FROM d GROUP BY v),
            p AS (
              SELECT a.v AS v1, b.v AS v2, COUNT(*) AS support
              FROM d a JOIN d b ON a.sid = b.sid AND a.v < b.v
              GROUP BY 1, 2 HAVING COUNT(*) >= 2)
            SELECT p.v1, p.v2, p.support,
                   CAST(length(bin(p.support)) + length(bin(n.n))
                        - length(bin(s1.nv)) - length(bin(s2.nv))
                        AS BIGINT) AS lift_bits
            FROM p
            JOIN singles s1 ON p.v1 = s1.v
            JOIN singles s2 ON p.v2 = s2.v
            CROSS JOIN n
        """,
        "q87_sample_exact": """
            SELECT doc_id, source, n_chars
            FROM documents
            ORDER BY md5('evalv1:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
            LIMIT 75
        """,
        "q86_remove_spans": f"""
            -- token j removed iff a duplicated 15-word window starts in
            -- [j-14, j]; same md5-60 positional gram family as q74
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            pg AS (
              SELECT doc_id, i - 1 AS p,
                     CAST(('0x' || substr(md5(array_to_string(ws[i:i+14], ' ')), 1, 15)) AS BIGINT) AS g
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, greatest(len(ws) - 14, 1))) AS i
                    FROM w)),
            dup AS (
              SELECT g FROM (SELECT DISTINCT doc_id, g FROM pg)
              GROUP BY g HAVING count(*) >= 2),
            ds AS (SELECT doc_id, p FROM pg WHERE g IN (SELECT g FROM dup)),
            tk AS (
              SELECT doc_id, i - 1 AS j, ws[i] AS tok
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws))) AS i
                    FROM w WHERE len(ws) > 0)),
            cov AS (
              SELECT DISTINCT t.doc_id, t.j
              FROM tk t JOIN ds d
                ON d.doc_id = t.doc_id AND d.p BETWEEN t.j - 14 AND t.j),
            agg AS (
              SELECT t.doc_id,
                     count(*) AS n_tokens,
                     count(c.j) AS n_removed,
                     COALESCE(string_agg(CASE WHEN c.j IS NULL THEN t.tok END,
                                         ' ' ORDER BY t.j), '') AS clean_text
              FROM tk t LEFT JOIN cov c
                ON t.doc_id = c.doc_id AND t.j = c.j
              GROUP BY t.doc_id)
            SELECT d.doc_id,
                   COALESCE(a.clean_text, '') AS clean_text,
                   COALESCE(a.n_tokens, 0) AS n_tokens,
                   COALESCE(a.n_removed, 0) AS n_removed
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "q80_attribution": f"""
            WITH e AS ({_E}),
            t AS (
              SELECT event_type, "time", value,
                     last_value(CASE WHEN event_type IN ('click','view')
                                     THEN event_type END IGNORE NULLS)
                       OVER w AS lt_type,
                     last_value(CASE WHEN event_type IN ('click','view')
                                     THEN "time" END IGNORE NULLS)
                       OVER w AS lt_time
              FROM e
              WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT CASE WHEN lt_time IS NOT NULL AND lt_time >= "time" - 86400
                        THEN lt_type ELSE '(none)' END AS channel,
                   COUNT(*) AS conversions,
                   SUM(CAST(round(value * 100) AS BIGINT)) AS attributed_cents
            FROM t WHERE event_type = 'purchase'
            GROUP BY 1
        """,
        "q81_lexicon_dump": f"""
            WITH e AS ({_E}),
            vals AS (
              SELECT 'event_type' AS field, event_type AS value FROM e
              WHERE event_type <> ''
              UNION ALL
              SELECT 'props', props FROM e WHERE props <> ''),
            d AS (SELECT DISTINCT field, value FROM vals)
            SELECT field, value,
                   CAST(dense_rank() OVER (PARTITION BY field ORDER BY value)
                        AS BIGINT) AS item_id
            FROM d
            UNION ALL
            SELECT f, '', 0
            FROM (VALUES ('event_type'), ('props')) AS t(f)
        """,
        "q79_event_paths": f"""
            WITH l AS (
              SELECT event_type AS s1,
                     lead(event_type, 1) OVER w AS s2,
                     lead(event_type, 2) OVER w AS s3,
                     lead("time", 2) OVER w AS t_end
              FROM ({_E})
              WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id))
            SELECT s1, s2, s3, COUNT(*) AS freq
            FROM l WHERE t_end IS NOT NULL GROUP BY 1, 2, 3
        """,
        "q78_chunk_documents": f"""
            -- 32-token chunks, stride 24, partials kept, empty docs skip
            WITH w AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            s AS (
              SELECT doc_id, ws,
                     unnest(generate_series(0, len(ws) - 1, 24)) AS start
              FROM w WHERE len(ws) > 0)
            SELECT doc_id,
                   CAST(start / 24 AS INT) AS chunk_idx,
                   array_to_string(ws[start + 1 : start + 32], ' ') AS chunk_text,
                   len(ws[start + 1 : start + 32]) AS n_chunk_tokens
            FROM s
        """,
        "q77_video_frames": """
            -- stub frame arithmetic: frames = ceil(bytelen / 64) (ASCII
            -- fixture, so char-substr == byte-substr), stride 2, each
            -- frame = its own 64-byte payload slice; empty payloads emit
            -- no frames
            WITH v AS (
              SELECT doc_id AS media_id, text FROM documents
              WHERE doc_id % 3 = 2 AND length(text) > 0),
            f AS (
              SELECT media_id, text,
                     unnest(generate_series(0, CAST((length(text) + 63) // 64 AS INT) - 1, 2)) AS frame_idx
              FROM v)
            SELECT media_id, frame_idx,
                   substr(text, frame_idx * 64 + 1, 64) AS frame_text
            FROM f
        """,
        "q76_bloom_dedup": f"""
            -- exact semantics: Bloom layer only routes rows; result is
            -- the plain distinct-fingerprint anti-join
            SELECT d.doc_id, d.source
            FROM documents d
            WHERE d.doc_id % 3 <> 0
              AND md5({_NORM_TEXT.replace("text", "d.text")}) NOT IN (
                SELECT md5({_NORM_TEXT.replace("text", "e.text")})
                FROM documents e
                WHERE e.doc_id % 3 = 0 OR e.doc_id IN (1, 2, 7))
        """,
        "q71_semantic_dedup": """
            -- SemDeDup, full pipeline in SQL: deterministic md5-keyed
            -- centroids, argmax rounded-quantized-cosine assignment
            -- (id tiebreak), within-cell keep-earliest drop at cos >= 0.4
            WITH qz AS (
              SELECT vec_id,
                     [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
                      for i in generate_series(1, 64)] AS qv
              FROM embeddings),
            cents AS (
              SELECT vec_id AS cid, qv
              FROM qz
              ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                       vec_id
              LIMIT 16),
            assign AS (
              SELECT vec_id, qv, cid FROM (
                SELECT e.vec_id, e.qv, c.cid,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(
                           list_sum([e.qv[i] * c.qv[i] for i in generate_series(1, 64)])
                           / (sqrt(list_sum([e.qv[i] * e.qv[i] for i in generate_series(1, 64)]))
                              * sqrt(list_sum([c.qv[i] * c.qv[i] for i in generate_series(1, 64)]))), 6) DESC,
                         c.cid ASC) AS rn
                FROM qz e CROSS JOIN cents c)
              WHERE rn = 1),
            dups AS (
              SELECT DISTINCT b.vec_id
              FROM assign a JOIN assign b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE round(
                      list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, 64)])
                      / (sqrt(list_sum([a.qv[i] * a.qv[i] for i in generate_series(1, 64)]))
                         * sqrt(list_sum([b.qv[i] * b.qv[i] for i in generate_series(1, 64)]))), 6) >= 0.4)
            SELECT s.vec_id, s.cid, d.vec_id IS NULL AS is_kept
            FROM assign s LEFT JOIN dups d ON s.vec_id = d.vec_id
        """,
        "q70_image_resize": """
            -- nearest-neighbor 8x8 resample of the q49 PNG pattern
            -- pixel(y,x) = (y*17 + x*31 + id) % 256 on an (h,w) canvas,
            -- sampled at iy=(Y*h)//8, ix=(X*w)//8; resized stored-block
            -- PNG size is the closed form 8*(8+1)+68
            WITH a AS (
              SELECT doc_id,
                     8 + CAST(doc_id % 9 AS INT) AS w,
                     8 + CAST(doc_id % 7 AS INT) AS h
              FROM documents WHERE doc_id % 3 = 0
            )
            SELECT doc_id AS media_id,
                   8 AS width, 8 AS height,
                   CAST(8 * (8 + 1) + 68 AS BIGINT) AS n_bytes,
                   ROUND(CAST(list_sum(
                     [ ((((k // 8) * h) // 8) * 17 + (((k % 8) * w) // 8) * 31 + doc_id) % 256
                       for k in generate_series(0, 63) ]) AS DOUBLE) / 64, 6) AS mean_luma
            FROM a
        """,
        "q02_negation_empty": f"""
            SELECT uuid, "time", event_id, event_type FROM ({_E})
            WHERE event_type <> 'purchase' AND props <> ''
        """,
        "q03_trail_lengths": f"""
            SELECT uuid, COUNT(*) AS trail_length,
                   MIN("time") AS first_time, MAX("time") AS last_time
            FROM ({_E}) GROUP BY uuid
        """,
        "q04_info": f"""
            SELECT COUNT(DISTINCT uuid) AS num_trails, COUNT(*) AS num_events,
                   MIN("time") AS min_timestamp, MAX("time") AS max_timestamp
            FROM ({_E})
        """,
        "q05_lexicon_sizes": f"""
            SELECT COUNT(DISTINCT NULLIF(event_type, '')) + 1 AS lex_event_type,
                   COUNT(DISTINCT NULLIF(props, '')) + 1 AS lex_props
            FROM ({_E})
        """,
        "q06_sessions": f"""
            WITH m AS (
              SELECT uuid,
                     CASE WHEN "time" - lag("time") OVER (PARTITION BY uuid ORDER BY "time") > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM ({_E}))
            SELECT uuid, CAST(SUM(is_new) + 1 AS BIGINT) AS num_sessions,
                   COUNT(*) AS num_events
            FROM m GROUP BY uuid
        """,
        "q07_only_diff": f"""
            SELECT uuid, "time", event_id,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR event_type <> lag(event_type) OVER w
                        THEN event_type ELSE '' END AS event_type
            FROM ({_E})
            WINDOW w AS (PARTITION BY uuid ORDER BY "time", event_id)
        """,
        "q08_merge_schema_union": f"""
            SELECT uuid, "time", event_type, '' AS props FROM ({_E}) WHERE event_id % 2 = 0
            UNION ALL
            SELECT uuid, "time", '' AS event_type, props FROM ({_E}) WHERE event_id % 2 = 1
        """,
        "q09_uuid_whitelist": f"""
            SELECT uuid, "time", event_id, event_type FROM ({_E})
            WHERE uuid IN ('1', '3', '5', '7')
        """,
        "q10_multi_cursor": f"""
            SELECT uuid, "time", event_id, event_type,
                   CAST(row_number() OVER (PARTITION BY uuid ORDER BY "time", event_id, event_type) AS INT) AS event_pos
            FROM ({_E})
        """,
        "q11_trail_ids": f"""
            SELECT uuid, CAST(dense_rank() OVER (ORDER BY uuid) - 1 AS BIGINT) AS trail_id
            FROM (SELECT DISTINCT uuid FROM ({_E}))
        """,
        "q12_edge_semantics": f"""
            SELECT CAST(0 AS BIGINT) AS n_unknown_pos,
                   COUNT(*) AS n_unknown_neg,
                   CAST(SUM(CASE WHEN event_type = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_match
            FROM ({_E})
        """,
        "q13_session_windows": f"""
            -- new session iff gap STRICTLY exceeds 1800: F.session_window
            -- merges an event at exactly prev+gap (probed empirically —
            -- events at t=0 and t=1800 with gap 1800s form ONE window),
            -- matching trails.sessionize's `> gap` and the q06 oracle
            WITH m AS (
              SELECT uuid, "time",
                     CASE WHEN "time" - lag("time") OVER (PARTITION BY uuid ORDER BY "time") > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM ({_E})),
            s AS (
              SELECT uuid, "time",
                     SUM(is_new) OVER (PARTITION BY uuid ORDER BY "time"
                                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM m)
            SELECT uuid, MIN("time") AS session_start,
                   MAX("time") + 1800 AS session_end,
                   COUNT(*) AS num_events
            FROM s GROUP BY uuid, session_id
        """,
        "q14_trail_boundaries": f"""
            WITH s AS (
              SELECT uuid, "time", event_id, event_type FROM ({_E}))
            SELECT uuid, CAST(COUNT(*) AS INT) AS n_events,
                   (array_agg(event_type ORDER BY "time", event_id, event_type))[1] AS first_type,
                   (array_agg(event_type ORDER BY "time", event_id, event_type))[-1] AS last_type
            FROM s GROUP BY uuid
        """,
        "q15_trail_overrides": f"""
            SELECT uuid, "time", event_id, event_type FROM ({_E})
            WHERE CASE
              WHEN uuid IN ('1', '3') THEN event_type = 'click'
              WHEN uuid = '5' THEN FALSE
              ELSE "time" >= {TIME_LO} AND "time" < {TIME_HI}
            END
        """,
        "q24_asof_join": f"""
            WITH e AS (SELECT uuid, "time", event_id FROM ({_E})),
            o AS (
              SELECT CAST(o_custkey AS VARCHAR) AS uuid,
                     CAST(epoch(o_orderdate) AS BIGINT) AS otime,
                     COUNT(*) AS n_orders,
                     round(SUM(o_totalprice), 4) AS order_total
              FROM orders GROUP BY 1, 2)
            SELECT e.uuid, e."time", e.event_id, o.otime, o.n_orders, o.order_total
            FROM e ASOF LEFT JOIN o
              ON e.uuid = o.uuid AND e."time" >= o.otime
        """,
        "q26_range_join": f"""
            WITH w AS (
              SELECT i AS window_id,
                     {TIME_LO} + i * 20000 AS w_start,
                     {TIME_LO} + i * 20000 + 40000 AS w_end
              FROM generate_series(0, 49) AS t(i)),
            e AS (SELECT uuid, "time" FROM ({_E}))
            SELECT w.window_id, w.w_start, w.w_end,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT e.uuid) AS n_trails
            FROM e JOIN w ON e."time" >= w.w_start AND e."time" < w.w_end
            GROUP BY 1, 2, 3
        """,
        "q25_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 4) AS sum_qty,
                   COUNT(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q67_mix_corpus": f"""
            WITH d AS (
              SELECT doc_id, source, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents),
            tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot
                    FROM d GROUP BY source),
            thr AS (
              SELECT source,
                     CAST(floor(least(1.0,
                        (20000 * CASE source WHEN 'src0' THEN 0.4
                                             WHEN 'src1' THEN 0.4
                                             ELSE 0.2 END) / tot) * 10000) AS BIGINT) AS t
              FROM tot WHERE source IN ('src0', 'src1', 'src2'))
            SELECT d.doc_id, d.source
            FROM d JOIN thr USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 10000 < thr.t
        """,
        "q66_set_ops": f"""
            WITH p AS (SELECT uuid FROM ({_E}) WHERE event_type = 'purchase'),
            e2 AS (SELECT uuid FROM ({_E}) WHERE event_type = 'error')
            SELECT uuid, 'both' AS op FROM (SELECT uuid FROM p INTERSECT SELECT uuid FROM e2)
            UNION ALL
            SELECT uuid, 'purchase_only' AS op FROM (SELECT uuid FROM p EXCEPT SELECT uuid FROM e2)
        """,
        "q65_dedup_incremental": f"""
            SELECT d.doc_id, d.source
            FROM documents d
            WHERE d.doc_id % 5 <> 0
              AND md5({_NORM_TEXT.replace("text", "d.text")}) NOT IN (
                SELECT md5({_NORM_TEXT.replace("text", "e.text")})
                FROM documents e WHERE e.doc_id % 5 = 0)
        """,
        "q64_cube": """
            SELECT l_returnflag, l_linestatus,
                   CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   round(SUM(l_quantity), 4) AS sum_qty,
                   COUNT(*) AS n_rows
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT))
        """,
        "q20_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 4) AS sum_qty,
                   round(SUM(l_extendedprice), 4) AS sum_base_price,
                   round(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(AVG(l_quantity), 6) AS avg_qty,
                   round(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q21_revenue_by_nation": """
            SELECT n_name, r_name,
                   round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name, r_name
        """,
        "q22_top_customers": """
            WITH totals AS (
              SELECT o_custkey AS custkey,
                     round(SUM(o_totalprice), 4) AS total_spend,
                     COUNT(*) AS n_orders
              FROM orders GROUP BY o_custkey),
            ranked AS (
              SELECT *, CAST(row_number() OVER (ORDER BY total_spend DESC, custkey) AS INT) AS rnk
              FROM totals)
            SELECT custkey, c_name, total_spend, n_orders, rnk
            FROM ranked JOIN customer ON custkey = c_custkey
            WHERE rnk <= 10
        """,
        "q23_props_extract": f"""
            SELECT event_type,
                   CAST(SUM(TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
                   COUNT(*) AS n,
                   round(AVG(value), 4) AS avg_value
            FROM ({_E}) GROUP BY event_type
        """,
        "q30_fingerprints": f"""
            SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint,
                   CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "q31_quality": f"""
            WITH t AS (
              SELECT doc_id, {_NORM_TEXT} AS nt,
                     CAST(len({_TOKENS}) AS DOUBLE) AS n_tokens
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(length(nt) AS DOUBLE) AS n_chars,
                     CAST(length(regexp_replace(nt, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
                     CAST(length(regexp_replace(nt, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                     n_tokens
              FROM t)
            SELECT doc_id,
                   round(((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                    + (CASE WHEN n_tokens > 0 AND n_alpha / n_tokens >= 2.0 AND n_alpha / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 1.0 WHEN n_chars = 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
            FROM m
        """,
        "q32_langid": f"""
            SELECT {lang_case} AS lang_detected, COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "q33_dedup_exact": f"""
            SELECT doc_id, md5({_NORM_TEXT}) AS content_hash,
                   COUNT(*) OVER (PARTITION BY md5({_NORM_TEXT})) AS group_size
            FROM documents
        """,
        "q34_ngram_jaccard": f"""
            WITH toks AS (
              SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, {grams3} AS g FROM toks WHERE len(w) > 0),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                           / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE), 6) AS jaccard
              FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
        """,
        "q43_curation_pipeline": f"""
            WITH m AS (
              SELECT doc_id, text,
                     CAST(length({_NORM_TEXT}) AS DOUBLE) AS n_chars,
                     CAST(length(regexp_replace({_NORM_TEXT}, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
                     CAST(length(regexp_replace({_NORM_TEXT}, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                     CAST(len({_TOKENS}) AS DOUBLE) AS n_tokens
              FROM documents),
            q AS (
              SELECT doc_id, text,
                     round(((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                      + (CASE WHEN n_tokens > 0 AND n_alpha / n_tokens >= 2.0 AND n_alpha / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 1.0 WHEN n_chars = 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
              FROM m),
            f AS (
              SELECT doc_id, text, quality, {lang_case} AS lang_detected,
                     row_number() OVER (PARTITION BY md5({_NORM_TEXT}) ORDER BY doc_id) AS rn
              FROM q WHERE quality >= 0.5)
            SELECT lang_detected, COUNT(*) AS n_docs,
                   round(AVG(quality), 6) AS avg_quality,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars
            FROM f WHERE rn = 1 GROUP BY lang_detected
        """,
        "q42_dedup_clusters": _q42_sql,
        "q35_minhash_lsh": _minhash_portable_oracle(7, 16, 4, 0.5, max_bucket=256),
        "q38_emb_neardup_lsh": _srp_neardup_oracle(24, 4, 0.4, max_bucket=256),
        "q40_sim_topk_lsh": _srp_topk_oracle(12, 3, 5),
        "q41_sim_topk_ivf": _ivf_topk_oracle(16, 4, 5),
        "q52_emb_neardup_portable": _srp_neardup_oracle(16, 4, 0.4, max_bucket=256),
        "q53_sim_topk_portable": _srp_topk_oracle(8, 4, 5),
        "q54_sim_topk_ivf_portable": _ivf_topk_oracle(8, 2, 5),
        "q55_stratified_sample": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 10000 AS b
              FROM documents)
            WHERE b < CASE source WHEN 'src0' THEN 5000
                                  WHEN 'src1' THEN 2500
                                  WHEN 'src3' THEN 10000
                                  ELSE 1000 END
        """,
        "q56_top_terms": f"""
            WITH t AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            ranked AS (
              SELECT tf.doc_id, tf.term, tf.tf, d.df,
                     round(CAST(tf.tf AS DOUBLE) / d.df, 6) AS score,
                     row_number() OVER (PARTITION BY tf.doc_id
                                        ORDER BY round(CAST(tf.tf AS DOUBLE) / d.df, 6) DESC,
                                                 tf.term ASC) AS rank
              FROM tf JOIN dfreq d USING (term))
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                   score, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "q58_value_freqs": f"""
            SELECT value, freq FROM (
              SELECT event_type AS value, COUNT(*) AS freq,
                     row_number() OVER (ORDER BY COUNT(*) DESC, event_type ASC) AS rn
              FROM ({_E}) GROUP BY event_type)
            WHERE rn <= 3
        """,
        "q59_transitions": f"""
            WITH l AS (
              SELECT event_type,
                     lag(event_type) OVER (PARTITION BY uuid
                                           ORDER BY "time", event_id) AS prev
              FROM ({_E}))
            SELECT prev AS src, event_type AS dst, COUNT(*) AS freq
            FROM l WHERE prev IS NOT NULL GROUP BY 1, 2
        """,
        "q60_funnel": f"""
            WITH e AS (SELECT uuid, "time" AS t, event_type FROM ({_E})),
            u AS (SELECT DISTINCT uuid FROM e),
            c0 AS (SELECT uuid, min(t) AS t0 FROM e
                   WHERE event_type = 'signup' GROUP BY uuid),
            c1 AS (SELECT e.uuid, min(t) AS t1 FROM e JOIN c0 USING (uuid)
                   WHERE event_type = 'view' AND t > t0 GROUP BY e.uuid),
            c2 AS (SELECT e.uuid, min(t) AS t2 FROM e JOIN c1 USING (uuid)
                   WHERE event_type = 'purchase' AND t > t1 GROUP BY e.uuid)
            SELECT u.uuid, c0.t0 AS s0, c1.t1 AS s1, c2.t2 AS s2
            FROM u LEFT JOIN c0 USING (uuid) LEFT JOIN c1 USING (uuid)
                   LEFT JOIN c2 USING (uuid)
        """,
        "q61_retention": f"""
            WITH a AS (SELECT DISTINCT uuid, "time" // 86400 AS bucket FROM ({_E})),
            c AS (SELECT uuid, bucket,
                         min(bucket) OVER (PARTITION BY uuid) AS cohort
                  FROM a)
            SELECT cohort, bucket - cohort AS "offset", COUNT(*) AS trails
            FROM c GROUP BY 1, 2
        """,
        "q63_funnel_within": f"""
            WITH e AS (SELECT uuid, "time" AS t, event_type FROM ({_E})),
            u AS (SELECT DISTINCT uuid FROM e),
            c0 AS (SELECT uuid, min(t) AS t0 FROM e
                   WHERE event_type = 'signup' GROUP BY uuid),
            c1 AS (SELECT e.uuid, min(t) AS t1 FROM e JOIN c0 USING (uuid)
                   WHERE event_type = 'view' AND t > t0 AND t <= t0 + 86400
                   GROUP BY e.uuid),
            c2 AS (SELECT e.uuid, min(t) AS t2 FROM e JOIN c1 USING (uuid)
                   WHERE event_type = 'purchase' AND t > t1 AND t <= t1 + 86400
                   GROUP BY e.uuid)
            SELECT u.uuid, c0.t0 AS s0, c1.t1 AS s1, c2.t2 AS s2
            FROM u LEFT JOIN c0 USING (uuid) LEFT JOIN c1 USING (uuid)
                   LEFT JOIN c2 USING (uuid)
        """,
        "q62_percentiles": f"""
            SELECT event_type,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.95) AS p95,
                   quantile_cont(value, 0.99) AS p99
            FROM ({_E}) GROUP BY event_type
        """,
        "q57_pii_scrub": f"""
            SELECT event_id,
                   len(regexp_extract_all(props, '{_PII_EMAIL}')) AS n_email,
                   len(regexp_extract_all(props, '{_PII_IPV4}')) AS n_ipv4,
                   len(regexp_extract_all(props, '{_PII_NUM}')) AS n_number,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(props, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_IPV4}', '<IP>', 'g'),
                     '{_PII_NUM}', '<NUM>', 'g') AS scrubbed
            FROM ({_E})
        """,
        "q51_repetition": f"""
            WITH t AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT doc_id, ws,
                     CASE WHEN len(ws) >= 2
                          THEN [ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws) - 1)]
                          ELSE [] END AS gs
              FROM t)
            SELECT doc_id,
                   CASE WHEN len(ws) = 0 THEN 0.0
                        ELSE round(CAST(list_max(list_transform(list_distinct(ws),
                               w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
                             / CAST(len(ws) AS DOUBLE), 6) END AS top_word_frac,
                   CASE WHEN len(ws) = 0 THEN 0.0
                        ELSE round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                             / CAST(len(ws) AS DOUBLE), 6) END AS dup_word_frac,
                   CASE WHEN len(gs) = 0 THEN 0.0
                        ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
                             / CAST(len(gs) AS DOUBLE), 6) END AS dup_2gram_frac
            FROM g
        """,
        "q50_pack_sequences": f"""
            WITH t AS (
              SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents),
            o AS (
              SELECT doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
              FROM t)
            SELECT doc_id, n_tokens, CAST(token_offset AS BIGINT) AS token_offset,
                   CAST(token_offset // 512 AS BIGINT) AS seq_start,
                   CAST((token_offset + greatest(n_tokens, 1) - 1) // 512 AS BIGINT) AS seq_end
            FROM o
        """,
        "q49_media_metadata": """
            SELECT doc_id AS media_id,
                   ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
                   'x/' || ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS mime,
                   CASE WHEN doc_id % 3 = 0
                        -- real PNG payload: stored-block grayscale PNG of
                        -- (8 + id%9) x (8 + id%7) has size h*(w+1) + 68
                        THEN (8 + doc_id % 7) * (8 + doc_id % 9 + 1) + 68
                        ELSE octet_length(CAST(text AS BLOB)) END AS n_bytes,
                   source AS meta_source
            FROM documents
        """,
        "q46_hash_split": """
            SELECT doc_id,
                   CASE WHEN b < 9000 THEN 'train'
                        WHEN b < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS b
                  FROM documents)
        """,
        "q47_decontaminate": f"""
            WITH w AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     list_distinct(
                       [CAST(('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15)) AS BIGINT)
                        for i in generate_series(1, greatest(len(ws) - 12, 1))]) AS gs
              FROM w),
            bg AS (
              SELECT DISTINCT unnest(gs) AS bgram FROM g WHERE doc_id % 50 = 0),
            bad AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, unnest(gs) AS dgram FROM g)
              WHERE dgram IN (SELECT bgram FROM bg))
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        "q48_source_quota": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM documents)
            WHERE rn <= 2
        """,
        "q45_boilerplate_removal": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS ws FROM documents),
            c0 AS (
              SELECT doc_id, ws,
                     unnest(generate_series(0, CAST(ceil(len(ws) / 10.0) AS INT) - 1)) AS pos
              FROM t),
            chunks AS (
              SELECT doc_id, pos,
                     array_to_string(ws[pos * 10 + 1 : pos * 10 + 10], ' ') AS para
              FROM c0),
            freq AS (
              SELECT para FROM (SELECT DISTINCT doc_id, para FROM chunks)
              GROUP BY para HAVING count(*) >= 2),
            kept AS (
              SELECT c.doc_id, c.pos, c.para FROM chunks c
              WHERE c.para NOT IN (SELECT para FROM freq))
            SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        """,
        "q44_minhash_portable": _minhash_portable_oracle(5, 16, 4, 0.5, max_bucket=256),
        "q36_simhash": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS w FROM documents),
            h AS (
              SELECT doc_id,
                     [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) for x in w] AS hs
              FROM t),
            s AS (
              SELECT doc_id,
                     list_reduce(list_prepend(0::BIGINT,
                       [CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > len(hs)
                             THEN (1::BIGINT << b) ELSE 0::BIGINT END
                        for b in generate_series(0, 59)]),
                       (x, y) -> x + y) AS sh
              FROM h)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
        "q37_emb_neardup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({cos_ab}, 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round({cos_ab}, 6) >= 0.4
        """,
        "q39_sim_topk": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round({cos_cq}, 6) AS cos
              FROM embeddings c
              JOIN embeddings q ON q.vec_id < 5)
            SELECT query_id, corpus_id, cos,
                   CAST(rnk AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, corpus_id) AS rnk
                  FROM scored)
            WHERE rnk <= 5
        """,
    }
    # the compaction family serves BIT-IDENTICAL results to the
    # appended artifacts it re-lays-out (pure re-layout, frozen
    # grid/hash family), so q272/q273 share q270/q271's oracles —
    # the hash match IS the compaction-parity certificate
    sql["q272_sq8_compact"] = sql["q270_sq8_append"]
    sql["q273_minhash_compact"] = sql["q271_minhash_append"]
    return sql
