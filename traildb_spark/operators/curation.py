"""Corpus curation: deterministic splits, decontamination, source quotas.

The pipeline steps between "deduplicated corpus" and "training shards":
assign reproducible train/val/test splits, strip documents that leak
benchmark content, and cap any one source's share of the corpus. All
three are pure DataFrame compositions with exact DuckDB-oracle parity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(col: Column, buckets: int = 10000, salt: str = "") -> Column:
    """Deterministic bucket in [0, buckets): first 60 bits of
    md5(salt || value) mod buckets. Engine-independent (DuckDB:
    CAST('0x'||substr(md5(..),1,15) AS BIGINT) % buckets), so a split
    assigned today is the same split in every rerun, engine, and audit —
    random() splits are not reproducible across retries or engines.
    """
    from ..functions.core import md5_60

    return md5_60(F.concat(F.lit(salt), col.cast("string"))) % buckets


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 10000,
) -> DataFrame:
    """Assign each row a named split by hashed-id bucket ranges.

    ``weights`` maps split name → fraction (must sum to 1; the last split
    absorbs rounding). Pure projection: no shuffle, no state, no sampling
    seed to lose — membership is a function of the id alone, so late-
    arriving data lands in consistent splits and val never bleeds into
    train across pipeline reruns.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(F.col(id_col), buckets, salt)
    names = list(weights)
    expr = None
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name]
        hi = round(acc * buckets)
        expr = F.when(b < hi, name) if expr is None else expr.when(b < hi, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def md5_word_ngram_hashes(col: Column, n: int = 13) -> Column:
    """Sorted distinct 60-bit md5-prefix hashes of word n-grams over the
    normalized text; a doc shorter than n words hashes as one whole-doc
    gram. Arrow-batched kernel (the Catalyst higher-order formulation is
    value-identical but interpreted per gram); value-equal to DuckDB's
    md5 over array_to_string(words[i:i+n-1], ' ').
    """
    from ..functions.vectorized import _per_doc_sorted_unique, _pynorm

    @F.pandas_udf("array<long>")
    def gh(s: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np
        import pandas as _pd

        docs = [[w for w in _pynorm(t or "").split(" ") if w] for t in s]
        counts = np.fromiter(
            (max(len(ws) - (n - 1), 1) for ws in docs),
            dtype=np.int64, count=len(docs),
        )
        # batch-flattened like md5_word_ngram_hashes_all: md5 once per
        # DISTINCT gram (pd.factorize memo), per-doc sorted-distinct via
        # one lexsort — the former per-doc set/sorted loop re-hashed every
        # window. utf-8 BYTES keys: pandas' str hashtable is
        # NUL-terminated — a gram containing '\x00' would collide with
        # its pre-NUL prefix
        grams = [
            " ".join(ws[i : i + n]).encode("utf-8")
            for ws in docs
            for i in range(max(len(ws) - (n - 1), 1))
        ]
        if not grams:
            return pd.Series([np.empty(0, np.int64)] * len(docs))
        inv, uniq = _pd.factorize(np.array(grams, dtype=object))
        uh = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u).digest()[:8], "big") >> 4
                for u in uniq
            ),
            dtype=np.int64,
            count=len(uniq),
        )
        doc_ids = np.repeat(np.arange(len(docs)), counts)
        return pd.Series(
            _per_doc_sorted_unique(uh[inv], doc_ids, len(docs))
        )

    return gh(col)


def md5_word_ngram_hashes_all(col: Column, n: int = 13) -> Column:
    """POSITIONAL (non-distinct) variant of :func:`md5_word_ngram_hashes`:
    one 60-bit md5-prefix hash per window position, in document order, so
    callers can count duplicated positions with multiplicity. md5 runs once
    per DISTINCT gram in the Arrow batch (pd.factorize memo — grams repeat
    heavily under Zipf), value-identical to DuckDB's md5 over
    array_to_string(ws[i:i+n-1], ' ')."""
    from ..functions.vectorized import _pynorm

    @F.pandas_udf("array<long>")
    def gh(s: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        docs = [[w for w in _pynorm(t or "").split(" ") if w] for t in s]
        counts = np.fromiter(
            (max(len(ws) - (n - 1), 1) for ws in docs), dtype=np.int64, count=len(docs)
        )
        # utf-8 BYTES keys: pandas' str hashtable is NUL-terminated —
        # a gram containing '\x00' would collide with its pre-NUL prefix
        grams = [
            " ".join(ws[i : i + n]).encode("utf-8")
            for ws in docs
            for i in range(max(len(ws) - (n - 1), 1))
        ]
        if not grams:
            return pd.Series([np.empty(0, np.int64)] * len(docs))
        inv, uniq = pd.factorize(np.array(grams, dtype=object))
        uh = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u).digest()[:8], "big") >> 4
                for u in uniq
            ),
            dtype=np.int64,
            count=len(uniq),
        )
        return pd.Series(np.split(uh[inv], np.cumsum(counts)[:-1]))

    return gh(col)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Remove every document sharing at least one word n-gram with the
    benchmark set (eval-leakage removal; 13 grams is the published
    GPT-3/PaLM convention). The benchmark's distinct gram set is small and
    broadcasts, so corpus grams are probed map-side and never shuffle; only
    the contaminated id list (tiny by construction) joins back as an
    anti-join. Grams travel as 60-bit md5 hashes, never strings.
    """
    bench_grams = (
        benchmark.select(
            F.explode(md5_word_ngram_hashes(F.col(bench_text_col), n)).alias("g")
        )
        .distinct()
    )
    contaminated = (
        df.select(F.col(id_col), F.explode(md5_word_ngram_hashes(F.col(text_col), n)).alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .select(id_col)
        .distinct()
    )
    return df.join(F.broadcast(contaminated), id_col, "left_anti")


def per_source_quota(
    df: DataFrame,
    key_col: str = "source",
    quota: int = 100,
    order_by: list[Column] | None = None,
    id_col: str = "doc_id",
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep at most ``quota`` rows per key (cap any one domain/source's
    share of the corpus). Deterministic: ties break on id.

    Salted two-phase ranking: a whale source (half the web corpus is one
    domain) would funnel every row through ONE reducer under a plain
    per-key window. Phase 1 ranks within (key, hash(id) % salt_buckets) —
    the whale spreads over ``salt_buckets`` reducers — and keeps each
    bucket's local top ``quota``; any row in the TRUE top-quota has at
    most quota-1 rows ahead of it globally, hence at most quota-1 ahead
    within its own bucket, so phase 1 never drops a final survivor.
    Phase 2 re-ranks the bounded remainder (<= salt_buckets * quota rows
    per key — metadata-scale) with the exact global window."""
    order = (order_by or []) + [F.col(id_col).asc()]
    w1 = Window.partitionBy(key_col, "__salt").orderBy(*order)
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        )
        .withColumn("__lrn", F.row_number().over(w1))
        .filter(F.col("__lrn") <= quota)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= quota)
        .drop("__salt", "__lrn", "__rn")
    )


def temperature_allocations(
    counts: dict, total: int, alpha: float = 0.5
) -> dict:
    """Capped largest-remainder apportionment of ``total`` over α-scaled
    source weights ``w_s = n_s^α`` — the published data-mixing recipe
    (multilingual sampling in mBERT/XLM-R, α-temperature mixtures in LLM
    data curricula): α=1 is proportional, α=0 uniform over sources, and
    0<α<1 upsamples the tail at the head's expense.

    Driver-side over the SOURCE list (metadata-scale — never rows).
    Integer math end-to-end for α=0.5 (``isqrt(n·10^12)``), so the
    allocation is bit-reproducible in SQL (q113's oracle recomputes it
    with an exactly-corrected ``floor(sqrt(double))``); other α use
    driver floats for the weights, then the same integer apportionment.
    Caps: no source allocates past its row count; excess redistributes
    over the remaining sources by the same rule until placed (waterfill;
    each round either places rows or retires a capped source, so it
    terminates)."""
    import math

    counts = {s: int(n) for s, n in counts.items()}
    alloc = {s: 0 for s in counts}
    total = min(int(total), sum(counts.values()))
    if total <= 0:
        return alloc
    if abs(alpha - 0.5) < 1e-12:
        w = {s: math.isqrt(n * 10**12) for s, n in counts.items()}
    elif alpha == 0:
        w = {s: (1 if n > 0 else 0) for s, n in counts.items()}
    elif alpha == 1:
        w = dict(counts)  # exact proportional — no float round-trip
    else:
        # generic α: weights computed in log-space RELATIVE to the
        # largest source (apportionment only uses weight ratios, so
        # normalizing is semantics-preserving) — a direct n**alpha
        # overflows float for large counts with α>1. Near-tie float
        # weights remain platform-dependent at the ulp level, which is
        # why only α∈{0, 0.5, 1} are oracle-exact (q113 uses 0.5).
        if not (alpha == alpha and 0 <= alpha < float("inf")):
            raise ValueError(
                f"temperature_allocations: alpha must be finite and >= 0, got {alpha}"
            )
        ln_max = max((math.log(n) for n in counts.values() if n > 0), default=0.0)
        w = {
            s: (
                int(round(math.exp(alpha * (math.log(n) - ln_max)) * 10**15))
                if n > 0
                else 0
            )
            for s, n in counts.items()
        }
    active = {s for s in counts if counts[s] > 0 and w[s] > 0}
    remaining = total
    while remaining > 0 and active:
        W = sum(w[s] for s in active)
        share = {s: remaining * w[s] // W for s in active}
        leftover = remaining - sum(share.values())
        # largest remainder, ties by source name: leftover < len(active)
        # because every floor loses strictly less than 1 share
        order = sorted(active, key=lambda s: (-(remaining * w[s] % W), s))
        for s in order[:leftover]:
            share[s] += 1
        placed = 0
        for s in list(active):
            take = min(share[s], counts[s] - alloc[s])
            alloc[s] += take
            placed += take
            if alloc[s] >= counts[s]:
                active.discard(s)
        remaining -= placed
        if placed == 0:
            break  # safety: all active shares rounded to capped sources
    return alloc


def temperature_mix(
    df: DataFrame,
    total: int,
    source_col: str = "source",
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: str = "",
    salt_buckets: int = 32,
) -> DataFrame:
    """EXACT-size α-temperature mixture over sources: allocate ``total``
    rows across sources by :func:`temperature_allocations`, then take
    each source's allocation deterministically (md5(seed||id) rank, ties
    by id — the same engine-portable order as
    :func:`uniform_sample_exact`, so the mixture is stable under
    re-partitioning, re-runs, and engine changes).

    One aggregate collects the per-source counts (sources are
    metadata-scale); the selection is the salted two-phase per-source
    rank of :func:`per_source_quota` with a BROADCAST per-source quota
    column, so a whale source spreads over ``salt_buckets`` reducers and
    no full-corpus sort exists anywhere in the plan."""
    counts = {
        r[source_col]: r["__n"]
        for r in df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    if None in counts:
        # a NULL source would get an allocation the selection join can
        # never fill (NULL keys don't equi-join) — the mixture would
        # silently come up short of `total`; refuse instead
        raise ValueError(
            "temperature_mix: NULL values in the source column — coalesce "
            "them to a real label upstream"
        )
    alloc = temperature_allocations(counts, total, alpha)
    spark = df.sparkSession
    amap = spark.createDataFrame(
        [(s, int(q)) for s, q in alloc.items()],
        f"{source_col} string, __quota long",
    )
    # a NULL id would get a NULL rank (sorted first by Spark, last by
    # other engines) and NULL-id rows tie on BOTH sort keys, making the
    # selection partition-order dependent — raise at execution instead
    # (assert_true folded into the rank column: zero extra jobs)
    rank = F.coalesce(
        F.assert_true(
            F.col(id_col).isNotNull(),
            F.lit(
                "temperature_mix: NULL values in the id column break the "
                "deterministic rank — coalesce or drop them upstream"
            ),
        ).cast("string"),
        F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
    )
    order = [F.asc("__rk"), F.asc(id_col)]
    w1 = Window.partitionBy(source_col, "__salt").orderBy(*order)
    w2 = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("__rk", rank)
        .join(F.broadcast(amap), source_col)
        .withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        )
        .withColumn("__lrn", F.row_number().over(w1))
        .filter(F.col("__lrn") <= F.col("__quota"))
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__rk", "__salt", "__lrn", "__rn", "__quota")
        .select(*df.columns)
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its
    md5-derived id bucket falls below the stratum's rate threshold.

    Like ``hash_split``, membership is a pure function of the id — no
    sampling seed, no shuffle, no state — so reruns, engines, and late
    shards all agree on the sample, and the same row is never double-kept
    at two rates. ``rates`` maps stratum value → keep fraction; unlisted
    strata fall back to ``default_rate``. A small rates map compiles into
    a literal CASE (whole-stage codegen, filter fully pushed down to the
    scan); a huge strata table would become a broadcast join against a
    (stratum, threshold) dim without changing semantics.
    """
    b = hash_bucket(F.col(id_col), buckets, salt)
    expr = None
    for name, r in rates.items():
        thr = round(r * buckets)
        cond = F.col(stratum_col) == name
        expr = F.when(cond, b < thr) if expr is None else expr.when(cond, b < thr)
    default_thr = round(default_rate * buckets)
    expr = (b < default_thr) if expr is None else expr.otherwise(b < default_thr)
    return df.filter(expr)


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    count_col: Column | None = None,
    shard_size: int = 100_000,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    ``id_col`` order and cut every ``budget`` tokens — each doc gets its
    global token offset and the training-sequence ids it spans
    (seq = offset div budget; docs crossing a boundary are split across
    sequences, the standard pretraining convention).

    The naive formulation is a cumulative sum over a GLOBAL ordering —
    an orderBy().window() with no partition key, which Catalyst executes
    on a single task and is the canonical does-not-scale plan. Two-phase
    prefix sum instead: docs fall into deterministic id-range shards
    (``id div shard_size``), the per-shard token totals — metadata-scale,
    one row per shard — come to the driver for the prefix scan, and each
    shard's base offset joins back via broadcast while the intra-shard
    running sum is an ordinary partitioned window. Every stage is
    parallel; the only serial work is the prefix over shard totals.
    """
    integral = {"tinyint", "smallint", "int", "bigint", "long"}
    if dict(df.dtypes).get(id_col) not in integral:
        # a string id silently casts to NULL shards and crashes the
        # driver-side prefix scan — fail with the actual contract instead
        raise ValueError(
            f"pack_sequences requires an integral {id_col!r} (shard = id div "
            f"{shard_size} must follow the global id order); map string ids "
            "to a dense integer first (e.g. operators.trails.trail_ids)"
        )
    cnt = (count_col if count_col is not None else F.col("n_tokens")).alias("__n")
    shard = (F.col(id_col) / F.lit(shard_size)).cast("long").alias("__shard")
    base = df.select(F.col(id_col), cnt, shard)

    totals = base.groupBy("__shard").agg(F.sum("__n").alias("__tot")).collect()
    acc = 0
    offsets = []
    for r in sorted(totals, key=lambda r: r["__shard"]):
        offsets.append((r["__shard"], acc))
        acc += r["__tot"]
    spark = df.sparkSession
    off = F.broadcast(
        # empty input → schema can't infer from []; seed a typed dummy
        # row the join simply never matches (same guard as trail_ids)
        spark.createDataFrame(offsets or [(0, 0)], ["__shard", "__base"])
    )

    w = (
        Window.partitionBy("__shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        base.join(off, "__shard")
        .withColumn(
            "token_offset",
            (F.col("__base") + F.coalesce(F.sum("__n").over(w), F.lit(0))).cast("long"),
        )
        .withColumn("seq_start", (F.col("token_offset") / budget).cast("long"))
        .withColumn(
            "seq_end",
            (
                (F.col("token_offset") + F.greatest(F.col("__n"), F.lit(1)) - 1)
                / budget
            ).cast("long"),
        )
    )
    return out.select(id_col, F.col("__n").alias("n_tokens"), "token_offset", "seq_start", "seq_end")


def mix_corpus(
    df: DataFrame,
    target_fractions: dict[str, float],
    budget_tokens: int,
    token_col: str = "n_tokens",
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic corpus mixing: downsample each stratum so its token
    mass approximates ``budget_tokens * fraction`` — applying a data-mixture
    recipe (the DoReMi/Pile-style static mixture) as one pushed-down
    filter. Strata absent from ``target_fractions`` are dropped.

    Per-stratum token totals are a metadata-scale aggregate (one
    map-side-combined shuffle, #strata rows to the driver); keep-rates
    become md5-bucket thresholds exactly like :func:`stratified_sample`,
    so membership stays a pure function of the id: reruns, engines, and
    late shards agree, and raising the budget strictly grows each
    stratum's sample (nested samples). Rate math is floor-based — no
    round-half ambiguity between engines.
    """
    import math

    totals = {
        r[stratum_col]: r["tot"]
        for r in df.groupBy(stratum_col).agg(F.sum(token_col).alias("tot")).collect()
    }
    b = hash_bucket(F.col(id_col), buckets, salt)
    expr = None
    for name, frac in target_fractions.items():
        tot = totals.get(name, 0)
        rate = 1.0 if tot == 0 else min(1.0, (budget_tokens * frac) / tot)
        thr = int(math.floor(rate * buckets))
        cond = (F.col(stratum_col) == name) & (b < thr)
        expr = cond if expr is None else expr | cond
    if expr is None:
        raise ValueError("target_fractions must name at least one stratum")
    return df.filter(expr)


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    mode: str = "pairs",
    gemm_max_bench_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-space decontamination: keep only corpus rows whose vector
    sits BELOW cosine ``threshold`` against EVERY benchmark vector — the
    semantic complement of the 13-gram :func:`decontaminate` (catches
    paraphrased/translated benchmark leakage n-grams miss). Returns the
    surviving corpus rows.

    Math is the engine-portable quantized-integer cosine family
    (``dedup.quantize_q20`` / HALF_UP round at 6 places), so the whole
    filter reproduces in a SQL oracle. ``mode='pairs'`` scores each
    (corpus, benchmark) pair row-wise via a broadcast join — the oracle
    twin. ``mode='gemm'`` collects the benchmark matrix (metadata-scale BY
    DEFINITION — it's an eval set) and computes per-batch int64 matmuls
    against it inside mapInPandas: zero joins, zero shuffles, bit-identical
    (equivalence-tested). At 100 TB the corpus is scanned once either way;
    'gemm' just removes the |corpus|×|bench| row fan-out.

    The gemm collect is driver-safe by GUARD, not by assumption: a
    benchmark bigger than ``gemm_max_bench_rows`` (a derived "benchmark"
    that silently grew with the corpus) falls back to the bit-identical
    'pairs' plan instead of collecting an unbounded matrix to the driver
    — results unchanged, only the physical strategy degrades.
    """
    from .dedup import quantize_q20, quantized_cosine_udf

    if mode not in ("pairs", "gemm"):
        raise ValueError(f"decontaminate_semantic: unknown mode {mode!r}")
    c = corpus.withColumn("__qv", quantize_q20(F.col(vec_col)))
    b = benchmark.select(quantize_q20(F.col(vec_col)).alias("__bv"))
    bench_rows = None
    if mode == "gemm":
        # the limit bounds driver memory BY CONSTRUCTION: an over-bound
        # benchmark collects at most bound+1 rows, is discarded, and the
        # query degrades to the bit-identical 'pairs' plan
        bench_rows = b.limit(gemm_max_bench_rows + 1).collect()
        if len(bench_rows) > gemm_max_bench_rows:
            bench_rows, mode = None, "pairs"
    if mode == "pairs":
        hit = (
            c.select(F.col(id_col).alias("__cid"), "__qv")
            .join(F.broadcast(b))
            .withColumn(
                "__cos", F.round(quantized_cosine_udf(F.col("__qv"), F.col("__bv")), 6)
            )
            .filter(F.col("__cos") >= threshold)
            .select(F.col("__cid").alias(id_col))
            .distinct()
        )
        return c.join(hit, id_col, "left_anti").drop("__qv")

    import numpy as np

    if not bench_rows:
        return corpus  # nothing to leak against (np.vstack would choke on 0 rows)
    B = np.array([list(r["__bv"]) for r in bench_rows], dtype=np.int64)
    bnorm = np.sqrt((B * B).sum(axis=1))

    @F.pandas_udf("boolean")
    def contaminated(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:  # empty Arrow batch: no rows, no vstack crash
            return pd.Series(np.empty(0, dtype=bool))
        from .dedup import _round6_half_up

        V = np.vstack(qv.to_numpy()).astype(np.int64)
        vnorm = np.sqrt((V * V).sum(axis=1))
        cos = (V @ B.T) / (vnorm[:, None] * bnorm[None, :])
        r6 = _round6_half_up(cos) / 1e6
        # NaN (zero-norm vector): Spark/DuckDB order NaN above all, so
        # the 'pairs' path's `>= threshold` ACCEPTS it — mirror that
        return pd.Series(((r6 >= threshold) | np.isnan(r6)).any(axis=1))

    return c.filter(~contaminated(F.col("__qv"))).drop("__qv")


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    retrieval/context-window chunking step (stride = chunk_tokens -
    overlap; final partial chunks kept; empty docs emit nothing).
    Returns ``(id, chunk_idx, chunk_text, n_chunk_tokens)``.

    Pure Catalyst — normalize, split, one sequence/transform/posexplode —
    so chunking is a narrow map over the corpus: zero shuffles, zero
    Python, and the row fan-out is bounded by ~n_tokens/stride per doc.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    from .text import tokens as _tokens

    ws = _tokens(F.col(text_col))
    chunks = F.when(
        F.size(ws) > 0,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 1, F.lit(stride)),
            lambda s: F.slice(ws, s + 1, chunk_tokens),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "cw"))
        .select(
            id_col,
            "chunk_idx",
            F.array_join(F.col("cw"), " ").alias("chunk_text"),
            F.size("cw").alias("n_chunk_tokens"),
        )
    )


def top_k_global(
    df: DataFrame,
    order_cols: list[Column | str],
    k: int,
    salt_col: Column | str = "doc_id",
    salt_buckets: int = 64,
) -> DataFrame:
    """Deterministic global top-k under a TOTAL order (pass a tiebreak
    column so no two rows compare equal) — the "keep the best K documents
    by quality" pruning step, written so no single reducer ever sees the
    corpus.

    Two-phase (same shape as the salted `per_source_quota`): phase 1
    ranks within `salt_buckets` hash buckets (each sees ~n/B rows) and
    keeps its local top-k — any global top-k row is in its bucket's
    top-k, so this loses nothing; phase 2 ranks the ≤ B·k survivors on
    ONE reducer, which is fine because B·k is a constant independent of
    corpus size. The salt assignment affects nothing but load balance:
    under a total order the global top-k set is unique.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    salt = F.pmod(F.xxhash64(salt_col), F.lit(salt_buckets))
    w1 = Window.partitionBy(salt).orderBy(*cols)
    cand = (
        df.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    w2 = Window.orderBy(*cols)
    return (
        cand.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def uniform_sample_exact(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """EXACTLY-k uniform sample, deterministic and engine-portable: rank
    rows by ``md5(seed || id)`` (a pseudorandom but reproducible total
    order — same family as `hash_split`/`stratified_sample`) and keep the
    k smallest via the salted two-phase :func:`top_k_global`. Unlike the
    rate-based samplers this hits the requested size exactly — eval-set
    carving ("give me exactly 50k held-out docs") needs exact-k, and a
    driver-side ``collect`` or single-reducer ``ORDER BY LIMIT`` does not
    survive 100 TB. The md5 rank depends only on (seed, id), so the
    sample is stable under re-partitioning, re-runs, and engine changes.
    """
    rank = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    return top_k_global(
        df.withColumn("__rk", rank),
        [F.asc("__rk"), F.asc(id_col)],
        k,
        salt_col=id_col,
    ).drop("__rk")


def rank_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    out_col: str = "bucket",
) -> DataFrame:
    """Equal-frequency binning (exact quantile-bucket assignment) without
    a global row sort: ``bucket = floor(n_buckets · rank_before / N)``
    where ``rank_before`` counts rows with a strictly smaller value — so
    ties always land in ONE bucket (unlike ``ntile``, which splits ties
    and is partition-order-sensitive) and the result is deterministic and
    engine-portable. The standard "length deciles / quality quartiles"
    stratifier for curriculum mixes and eval slicing.

    Scale: one map-side-combined value-frequency aggregate (output =
    distinct values of the metric, e.g. ≤ a few thousand doc lengths), a
    cumulative sum ordered over those DISTINCT VALUES (value-cardinality-
    sized, never row-sized — use on bounded-cardinality metrics, which
    quantization metrics are), and a broadcast join back. No row ever
    sorts globally.
    """
    # NULL metric rows are excluded from ranking (they'd sort first and
    # shift every real bucket) and come back with a NULL bucket via the
    # left join below — callers decide their fate explicitly
    from ..operators.dedup import _materialize

    # freq feeds both the total and the cumulative-rank branch; without
    # a persist boundary each branch re-ran the corpus-scale value-
    # frequency aggregate. freq is value-cardinality-sized — free to pin.
    freq = _materialize(
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    total = freq.select(F.sum("__c").alias("__n"))
    cum = (
        freq.withColumn("__before", F.coalesce(F.sum("__c").over(w), F.lit(0)))
        .crossJoin(F.broadcast(total))
        .select(
            "__v",
            (
                F.floor(F.lit(n_buckets) * F.col("__before") / F.col("__n"))
            ).cast("long").alias(out_col),
        )
    )
    return df.join(
        F.broadcast(cum), df[value_col] == cum["__v"], "left"
    ).drop("__v")


def source_overlap_matrix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 13,
    max_sources_per_gram: int = 64,
) -> DataFrame:
    """Pairwise n-gram contamination matrix between sources: for every
    source pair, how many distinct word n-grams they SHARE and the
    Jaccard overlap of their gram sets — the cross-source twin of
    :func:`decontaminate` (which checks corpus-vs-benchmark). Finds the
    mirror/scrape pairs a per-document dedup never surfaces, because the
    duplication is spread across many near-identical documents.

    Grams travel as 60-bit md5 hashes (:func:`md5_word_ngram_hashes` —
    never strings). A gram present in more than ``max_sources_per_gram``
    sources is EXCLUDED EVERYWHERE (totals and pairs): such grams are
    boilerplate by construction and — the 100 TB point — each one fans
    out O(sources²) pair rows in the self-join, so the cap is the skew
    guard that keeps the shuffle bounded by
    ``shared_grams x cap²`` instead of ``grams x sources²``. The cap is
    part of the operator's SEMANTICS (mirrored by the oracle), not a
    silent truncation.

    Returns ``(source_a, source_b, grams_a, grams_b, shared_grams,
    jaccard_ppm)`` for pairs with at least one shared gram;
    ``jaccard_ppm = shared * 1_000_000 div (grams_a + grams_b - shared)``
    is exact integer arithmetic (the TVD-family discipline).

    Plan shape: one explode scan -> distinct (source, gram) [map-side
    combined]; gram-keyed ubiquity filter; self-equi-join on gram
    (NEVER a cross product — verified by the plan tests' join-audit
    pattern); two source-pair-sized aggregates.
    """
    if n < 1:
        raise ValueError(f"source_overlap_matrix: n must be >= 1, got {n}")
    if max_sources_per_gram < 2:
        raise ValueError(
            "source_overlap_matrix: max_sources_per_gram must be >= 2, "
            f"got {max_sources_per_gram}"
        )
    from .dedup import set_jaccard_pairs

    sg = df.select(
        F.col(source_col).alias("source"),
        F.explode(md5_word_ngram_hashes(F.col(text_col), n)).alias("g"),
    )
    return set_jaccard_pairs(
        sg, "source", "g", max_ids_per_feature=max_sources_per_gram
    ).select(
        F.col("id_a").alias("source_a"),
        F.col("id_b").alias("source_b"),
        F.col("size_a").alias("grams_a"),
        F.col("size_b").alias("grams_b"),
        F.col("shared").alias("shared_grams"),
        "jaccard_ppm",
    )


def upsample_corpus(
    df: DataFrame,
    factors: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source UPSAMPLING for training mixes — the other half of
    :func:`mix_corpus`'s downsampling: "3 epochs of wikipedia, 1.5 of
    books, 1 of web". Each doc appears ``floor(factor)`` times, plus
    one more with probability ``frac(factor)`` decided by the
    deterministic md5 threshold (the :func:`hash_split` discipline —
    reproducible across engines/reruns, no RNG). Output carries
    ``epoch`` (0-based copy index) so downstream shuffling/packing can
    interleave copies; sources absent from ``factors`` pass through at
    factor 1.0.

    Plan shape: one broadcast map join (factors are recipe-sized) + one
    ``explode(sequence(0, n_copies - 1))`` — a narrow map whose fan-out
    IS the requested epoch count; nothing shuffles.
    """
    for s, f in factors.items():
        if f < 0:
            raise ValueError(f"upsample_corpus: factor for {s!r} is negative")
    from ..functions.core import md5_60

    pairs = [x for kv in factors.items() for x in kv]
    fmap = F.create_map(*[F.lit(x) for x in pairs]) if pairs else F.create_map()
    factor = F.coalesce(
        fmap[F.col(source_col)].cast("double"), F.lit(1.0)
    )
    base = F.floor(factor).cast("long")
    frac_ppm = F.round((factor - F.floor(factor)) * 1_000_000).cast("long")
    # deterministic fractional copy: md5("up:" || id) mod 1e6 < frac_ppm
    roll = F.pmod(
        md5_60(F.concat(F.lit("up:"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    n_copies = base + (roll < frac_ppm).cast("long")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """The AUDIT form of :func:`decontaminate`: instead of silently
    dropping leaked documents, report WHICH corpus doc leaks WHICH
    benchmark item and by how much — ``(bench_id, doc_id,
    shared_grams)`` for every pair sharing at least one word n-gram.
    Contamination reviews want the pair list (to eyeball, to
    threshold, to appeal); the anti-join wants the verdict. Same gram
    machinery (60-bit md5 hashes, never strings), same broadcast-probe
    plan: the benchmark gram table is small and broadcasts, corpus
    grams never shuffle, and the output is bounded by actual leakage.
    """
    bench_grams = (
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            F.explode(
                md5_word_ngram_hashes(F.col(bench_text_col), n)
            ).alias("g"),
        )
        .distinct()
    )
    corpus_grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(md5_word_ngram_hashes(F.col(text_col), n)).alias("g"),
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("bench_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 10000,
) -> DataFrame:
    """Train/val/test assignment where near-duplicates NEVER straddle
    splits — the classic eval-leakage bug (:func:`hash_split` hashes
    each id independently, so two near-identical docs can land in train
    AND val; the model then "generalizes" to its own training data).
    Given any similarity pair set (`dedup.simhash_pairs`,
    `minhash_lsh_pairs_portable`, `set_jaccard_pairs` output renamed to
    ``id_a/id_b``...), documents are grouped into connected components
    and the SPLIT IS HASHED FROM THE COMPONENT LABEL (min id — the
    `dedup_clusters` convention), so every member of a cluster moves
    together; singletons hash their own id, which IS their label.

    Returns ``df`` + ``component`` + ``split``. Scale: inherits
    `dedup.connected_components`' large-star/small-star posture; the
    split itself is a pure projection on the label.
    """
    from .dedup import connected_components

    comp = connected_components(pairs)  # (id, component)
    labeled = df.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    return hash_split(
        labeled, weights, id_col="component", salt=salt, buckets=buckets
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic curriculum manifest: an ordering key that round-
    robins across sources in descending score order — epoch position
    k*G + gi serves source gi's (k+1)-th best document, so early
    training sees every source's best material instead of one crawl's
    (data-ordering curricula; the interleave also de-clusters
    domain-correlated batches).

    ``position`` is a SPARSE sortable key ((rank-1)*n_groups +
    group_index), not a dense sequence — writers sort by it; densifying
    would cost a global rank for zero training benefit. Ties on score
    break by id, so the manifest is rerun-identical.

    Scale: the within-group rank is the `trail_ids` two-phase
    construction generalized to (group, score) — range-partition by
    (group, -score, id), bring PER-(PARTITION, GROUP) counts (bounded by
    partitions x source lexicon — metadata-scale) to the driver for the
    prefix scan, then partition-local row_number + base offset. No
    whale source ever funnels through one reducer, unlike a plain
    per-group window. The group index table is source-lexicon-sized and
    broadcast.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.col(score_col).alias("score"),
    )
    rp = (
        base.repartitionByRange(
            n, F.col("grp"), F.col("score").desc(), F.col("id")
        )
        .withColumn("__pid", F.spark_partition_id())
        # pin ONE materialization: range boundaries come from sampling,
        # so the count pass and the ranking pass must agree (trail_ids
        # precedent)
        .localCheckpoint()
    )
    counts = (
        rp.groupBy("__pid", "grp").agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    acc: dict[str, int] = {}
    bases = []
    for r in sorted(counts, key=lambda r: (r["grp"], r["__pid"])):
        bases.append((r["__pid"], r["grp"], acc.get(r["grp"], 0)))
        acc[r["grp"]] = acc.get(r["grp"], 0) + r["__n"]
    base_df = F.broadcast(
        spark.createDataFrame(
            bases or [(0, "", 0)], "__pid int, grp string, __base long"
        )
    )
    groups = sorted(acc)
    gi_df = F.broadcast(
        spark.createDataFrame(
            [(g, i) for i, g in enumerate(groups)] or [("", 0)],
            "grp string, __gi long",
        )
    )
    n_groups = max(len(groups), 1)
    w = Window.partitionBy("__pid", "grp").orderBy(
        F.col("score").desc(), F.col("id")
    )
    return (
        rp.join(base_df, ["__pid", "grp"])
        .join(gi_df, "grp")
        .withColumn("rank_in_group", F.col("__base") + F.row_number().over(w))
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            F.col("score").alias(score_col),
            "rank_in_group",
            (
                (F.col("rank_in_group") - 1) * F.lit(n_groups) + F.col("__gi")
            ).alias("position"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within
    each group, rank documents by the model-free unigram surprisal
    (:func:`..text.unigram_surprisal`'s exact whole-bit
    ``millibits_per_token``, ascending — fluent/templated first, rare-
    word-heavy last) and cut the ranking into ``n_buckets`` equal-mass
    buckets: ``head`` / ``middle`` / ``tail`` for the classic 3, else
    ``b0..b{n-1}``. CCNet keeps head+middle and drops (or down-weights)
    tail; the bucket column is the selection key.

    All arithmetic is exact integers — surprisal is whole-bit, the
    bucket index is ``(rank-1) * n_buckets div n_group`` — so the
    assignment is bit-reproducible in any engine. Ties break by id.

    Scale: the within-group rank is :func:`curriculum_order`'s two-phase
    range-partition construction (no whale source funnels through one
    reducer); group sizes are a lexicon-scale aggregate, broadcast.
    """
    if n_buckets < 1:
        raise ValueError(
            f"perplexity_buckets: n_buckets must be >= 1, got {n_buckets}"
        )
    from .text import unigram_surprisal

    scored = unigram_surprisal(df, text_col=text_col, id_col=id_col)
    base = df.select(F.col(id_col).alias("doc_id"), F.col(group_col).alias("grp"))
    j = scored.join(base, "doc_id").withColumn(
        "__neg_mb", -F.col("millibits_per_token")
    )
    ranked = curriculum_order(j, "__neg_mb", group_col="grp", id_col="doc_id")
    sizes = F.broadcast(base.groupBy("grp").agg(F.count(F.lit(1)).alias("__n")))
    idx = F.expr(f"(rank_in_group - 1) * {int(n_buckets)} div __n")
    if n_buckets == 3:
        label = (
            F.when(idx == 0, F.lit("head"))
            .when(idx == 1, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        label = F.concat(F.lit("b"), idx.cast("string"))
    return (
        ranked.join(sizes, "grp")
        .select(
            "doc_id",
            F.col("grp").alias(group_col),
            (-F.col("__neg_mb")).alias("millibits_per_token"),
            "rank_in_group",
            F.col("__n").alias("n_in_group"),
            label.alias("ppl_bucket"),
        )
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169) with the unigram bag-of-words feature model: score
    every raw document by the log importance weight of the target
    distribution over the raw distribution,

        log w(doc) = sum_tokens [ log p_target(term) - log p_raw(term) ]

    integerized to WHOLE BITS via binary-digit counts (the
    :func:`..text.unigram_surprisal` discipline): ``bits_X(term) =
    len(bin(total_X)) - len(bin(count_X(term)))``, so ``weight_bits =
    sum tf * (bits_raw - bits_target)`` is exact integer arithmetic and
    bit-reproducible in any engine. Terms absent from the target count
    as ``len(bin(total_t)) - 1`` target bits (the count-0 binary has one
    digit — an implicit ceiling smoothing; absent-from-target terms
    drag the weight down, as DSIR intends). Positive weights = more
    target-like; select by ``weight_bits`` (or the per-token
    ``milliweight_per_token``) descending.

    Plan shape at 100 TB: term frequencies combine map-side on
    (doc, term); both unigram models are vocabulary-scale aggregates,
    outer-merged on term and broadcast with the two 1-row totals; the
    raw tf table joins the broadcast vocab once and re-shuffles only
    onto doc for the final sum. The target corpus is scanned once,
    never joined row-wise against raw.
    """
    from .text import tokens as _tokens

    t_raw = raw.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    from ..operators.dedup import _materialize

    # tf feeds the raw vocabulary AND the scored join; vocab feeds the
    # raw total AND the scored join; the target token stream fed its
    # vocabulary AND a separate total count — unpersisted, each consumer
    # re-ran a corpus tokenize+explode (plan audit: 6 scans for q172).
    # The target total is the SUM of the target vocabulary counts, so
    # one target pass suffices; all pinned tables are vocab-sized or
    # (doc,term)-aggregate-sized.
    tf = _materialize(
        t_raw.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab_r = tf.groupBy("term").agg(F.sum("tf").alias("cnt_r"))
    t_tgt = target.select(F.explode(_tokens(F.col(text_col))).alias("term"))
    vocab_t = _materialize(
        t_tgt.groupBy("term").agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    # raw-vocab-keyed left join: target-only terms can't appear in any
    # raw doc, so the model table only needs raw's vocabulary
    vocab = _materialize(
        vocab_r.join(vocab_t, "term", "left").withColumn(
            "cnt_t", F.coalesce("cnt_t", F.lit(0))
        )
    )
    tot_r = vocab.agg(F.sum("cnt_r").alias("total_r"))
    # coalesce: an EMPTY target must still yield total_t = 0 (the old
    # count(*) form's value), not NULL
    tot_t = F.broadcast(
        vocab_t.agg(F.coalesce(F.sum("cnt_t"), F.lit(0)).alias("total_t"))
    )
    bits_r = F.length(F.bin(F.col("total_r"))) - F.length(F.bin(F.col("cnt_r")))
    bits_t = F.length(F.bin(F.col("total_t"))) - F.length(F.bin(F.col("cnt_t")))
    scored = (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(tot_t)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * (bits_r - bits_t)).alias("weight_bits"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    return (
        raw.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("weight_bits"), F.lit(0)).alias("weight_bits"),
            # Spark div truncates toward zero on negatives (DuckDB //
            # floors — the oracle sign-factors to match)
            F.expr(
                "CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0 "
                "ELSE 1000 * weight_bits div n_tokens END"
            ).alias("milliweight_per_token"),
        )
    )


def sample_exact_by_key(
    df: DataFrame,
    k: int | dict[str, int],
    key_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """EXACTLY-k-per-key deterministic sample — the stratified sibling
    of :func:`uniform_sample_exact` ("exactly 10k eval docs from EVERY
    source", where rate-based :func:`stratified_sample` only hits sizes
    in expectation): rank rows within each key by ``md5(seed || id)``
    and keep each key's k smallest. ``k`` is one budget for all keys or
    a per-key dict (unlisted keys keep 0).

    Scale: salted two-phase per-key top-k — each input partition first
    prunes to its own k-per-key head (one partition-local sort, no
    shuffle), so the final per-key window ranks at most
    partitions × k rows per key instead of the key's full mass; a whale
    key never funnels through one reducer un-pruned. Deterministic
    under re-partitioning: the md5 order depends only on (seed, id).
    """
    if isinstance(k, dict):
        if any(v < 0 for v in k.values()):
            raise ValueError("sample_exact_by_key: negative k")
        kmax = max(k.values(), default=0)
        spark = df.sparkSession
        kmap = F.broadcast(
            spark.createDataFrame(
                [(key, int(v)) for key, v in k.items()] or [("", 0)],
                f"{key_col} string, __k long",
            )
        )
        base = df.join(kmap, key_col, "inner")
    else:
        if k < 0:
            raise ValueError(f"sample_exact_by_key: negative k {k}")
        kmax = int(k)
        base = df.withColumn("__k", F.lit(int(k)))
    rk = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    staged = base.withColumn("__rk", rk).withColumn(
        "__pid", F.spark_partition_id()
    )
    w1 = Window.partitionBy("__pid", key_col).orderBy("__rk", id_col)
    pruned = (
        staged.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= F.lit(kmax))
        .drop("__r1", "__pid")
    )
    w2 = Window.partitionBy(key_col).orderBy("__rk", id_col)
    return (
        pruned.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= F.col("__k"))
        .drop("__r2", "__rk", "__k")
    )


def k_anonymity(
    df: DataFrame,
    fields: list[str],
    k: int = 5,
    uuid_col: str = "uuid",
) -> DataFrame:
    """k-anonymity audit over quasi-identifier combinations — the
    privacy gate a dataset release runs next to the PII scrub: every
    distinct value combination of ``fields`` with the number of
    DISTINCT individuals (trails) sharing it; combinations held by
    fewer than ``k`` individuals are re-identification risks
    (``at_risk``). Event counts ride along so a whale individual
    doesn't masquerade as crowd cover.

    One map-side-combined aggregate keyed on the combination space
    (≤ Π field lexicons rows — quasi-identifiers are low-cardinality
    by definition; a high-cardinality field in ``fields`` is itself
    the finding). count_distinct(uuid) is the one exact-distinct cost,
    bounded per combination by the crowd size being measured.

    Returns ``(*fields, n_uuids, n_events, at_risk)``.
    """
    if not fields:
        raise ValueError("k_anonymity: fields must be non-empty")
    if k < 2:
        raise ValueError(f"k_anonymity: k must be >= 2, got {k}")
    return df.groupBy(*[F.col(f) for f in fields]).agg(
        F.countDistinct(uuid_col).cast("long").alias("n_uuids"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ).withColumn("at_risk", F.col("n_uuids") < k)


def forget_uuids(
    df: DataFrame,
    uuids: list[str] | DataFrame,
    uuid_col: str = "uuid",
) -> DataFrame:
    """Right-to-erasure filter: drop every event belonging to the given
    individuals (broadcast anti-join for a literal list, AQE-decided for
    a DataFrame side — the q09 whitelist machinery inverted). Pair with
    :func:`forget_report` for the audit row a deletion request needs."""
    if isinstance(uuids, DataFrame):
        side = uuids.select(F.col(uuids.columns[0]).alias("__fu")).distinct()
    else:
        side = df.sparkSession.createDataFrame(
            [(u,) for u in uuids], "__fu string"
        )
    return df.join(
        side, F.col(uuid_col) == F.col("__fu"), "left_anti"
    )


def forget_report(
    df: DataFrame,
    uuids: list[str] | DataFrame,
    uuid_col: str = "uuid",
) -> DataFrame:
    """The audit row a GDPR/CCPA deletion run records: how many of the
    requested individuals exist in the dataset, how many events their
    erasure removes, and what remains — computed in ONE aggregate over
    the flagged scan (a broadcast membership flag, then conditional
    counts; no second pass, no collect). The privacy bookend to
    :func:`k_anonymity`.

    Returns one row ``(n_requested, n_present, n_events_removed,
    n_events_kept)``.
    """
    if isinstance(uuids, DataFrame):
        side = uuids.select(F.col(uuids.columns[0]).alias("__fu")).distinct()
    else:
        side = df.sparkSession.createDataFrame(
            [(u,) for u in sorted(set(uuids))], "__fu string"
        )
    n_req = side.count()
    flagged = df.join(
        F.broadcast(side), F.col(uuid_col) == F.col("__fu"), "left"
    )
    return flagged.agg(
        F.lit(n_req).cast("long").alias("n_requested"),
        F.count_distinct(
            F.when(F.col("__fu").isNotNull(), F.col(uuid_col))
        ).cast("long").alias("n_present"),
        F.sum(F.when(F.col("__fu").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_events_removed"),
        F.sum(F.when(F.col("__fu").isNull(), 1).otherwise(0))
        .cast("long").alias("n_events_kept"),
    )


def weighted_systematic_sample(
    df: DataFrame,
    k: int,
    weight_col: Column | None = None,
    id_col: str = "doc_id",
    shard_size: int = 100_000,
) -> DataFrame:
    """Deterministic weight-proportional sampling WITHOUT floats or
    randomness: lay the corpus end-to-end in ``id_col`` order on the
    integer weight axis (cents-scale weights), cut it into ``k`` equal
    strides (``stride = W div k``), and keep every document whose
    weight interval crosses a stride boundary — classic systematic
    sampling (boundaries at ``m·stride`` for m ≥ 1 — the offset-0
    boundary is excluded by convention), so inclusion probability is
    proportional to weight, heavy documents (weight ≥ stride) are
    ALWAYS kept (possibly covering several boundaries — still one
    output row), and reruns are bit-identical on any engine. The global offsets come from
    :func:`pack_sequences`' two-phase prefix sum (per-shard totals to
    the driver, broadcast bases, partitioned windows) — no global
    window, no single-task cumsum.

    Picks exactly k documents when every weight < stride and W % k = 0;
    in general between ``W div stride − n_heavy·(spans−1)`` and k+1 —
    systematic sampling's standard size variance (exact-k with weights
    requires rejection rounds; :func:`sample_exact_by_key` is the
    unweighted exact-k tool).

    Returns ``(id, weight, offset, n_boundaries)`` for selected rows.
    """
    if k < 1:
        raise ValueError(
            f"weighted_systematic_sample: k must be >= 1, got {k}"
        )
    integral = {"tinyint", "smallint", "int", "bigint", "long"}
    if dict(df.dtypes).get(id_col) not in integral:
        raise ValueError(
            f"weighted_systematic_sample requires an integral {id_col!r}"
            " (the weight axis follows the global id order)"
        )
    wcol = (
        weight_col if weight_col is not None else F.col("weight")
    ).cast("long").alias("__n")
    shard = (F.col(id_col) / F.lit(shard_size)).cast("long").alias("__shard")
    base = df.select(F.col(id_col), wcol, shard).filter(F.col("__n") > 0)
    totals = base.groupBy("__shard").agg(F.sum("__n").alias("__tot")).collect()
    acc = 0
    offsets = []
    for r in sorted(totals, key=lambda r: r["__shard"]):
        offsets.append((r["__shard"], acc))
        acc += r["__tot"]
    total_w = acc
    if total_w == 0:
        return df.sparkSession.createDataFrame(
            [], f"id long, weight long, offset long, n_boundaries long"
        )
    stride = max(1, total_w // int(k))
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], ["__shard", "__base"])
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(off, "__shard")
        .withColumn(
            "offset",
            (F.col("__base")
             + F.coalesce(F.sum("__n").over(w), F.lit(0))).cast("long"),
        )
        .withColumn(
            "n_boundaries",
            # boundaries at m·stride for m >= 1; both div operands are
            # non-negative (greatest guard), so truncate == floor across
            # engines
            F.expr(
                f"(offset + __n - 1) div {stride}"
                f" - greatest(offset - 1, 0) div {stride}"
            ).cast("long"),
        )
        .filter(F.col("n_boundaries") > 0)
        .select(
            F.col(id_col).alias("id"),
            F.col("__n").alias("weight"),
            "offset",
            "n_boundaries",
        )
    )


def cross_source_contamination(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 13,
) -> DataFrame:
    """Source-pair n-gram leakage matrix: for every pair of sources,
    how many DISTINCT word n-grams they share, and that count as ppm of
    the smaller side's gram vocabulary. :func:`decontaminate` answers
    "is my corpus clean of this benchmark"; this answers the curation
    question one step earlier — WHICH sources are copying each other
    (mirrors, syndication, scraped re-posts) before any benchmark
    enters the picture.

    Scale shape: grams reduce to DISTINCT (source, gram-hash) first —
    bounded by vocabulary, not corpus rows — then the pair join keys on
    the gram hash (uniform 60-bit md5: no hot keys by construction) and
    aggregates to the source-pair matrix (|sources|² tiny). Grams
    travel as 60-bit hashes, never strings."""
    grams = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(
                md5_word_ngram_hashes(F.col(text_col), n)
            ).alias("g"),
        )
        .distinct()
    )
    from .dedup import _materialize

    grams = _materialize(grams)
    sizes = grams.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "g")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return (
        pairs.join(F.broadcast(sizes.select(F.col("src").alias("src_a"),
                                            F.col("n_grams").alias("__na"))),
                   "src_a")
        .join(F.broadcast(sizes.select(F.col("src").alias("src_b"),
                                       F.col("n_grams").alias("__nb"))),
              "src_b")
        .select(
            "src_a", "src_b",
            F.col("shared_grams").cast("long"),
            # integer `div` keeps the ppm exact past double's range
            F.expr("(1000000 * shared_grams) div least(__na, __nb)")
            .alias("containment_ppm"),
        )
    )


def plan_mixture(
    counts: DataFrame,
    targets_ppm: dict[str, int],
    budget_tokens: int,
    max_epochs_ppm: int = 4_000_000,
    key_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Static training-mixture plan: given per-source token inventories
    and target shares, how many tokens each source contributes to a
    ``budget_tokens`` run, capped at ``max_epochs_ppm`` repetitions of
    the source (4e6 ppm = at most 4 epochs — the practical over-
    sampling ceiling before repetition hurts). The planning table every
    mixture discussion (temperature/quota/DoReMi weights) ends in, with
    deficits made explicit instead of silently renormalized.

    Exact integer arithmetic (ppm lattice, floor division): target =
    budget·share // 1e6, cap = available·max_epochs // 1e6, planned =
    min(target, cap); epochs_ppm = planned·1e6 // available; deficit =
    target − planned. Unknown sources in ``targets_ppm`` raise (a plan
    naming a source the corpus lacks is a config error, not a zero
    row); sources without a target plan 0. One broadcast join against a
    targets literal table — the plan is |sources|-sized metadata."""
    spark = counts.sparkSession
    have = {r[0] for r in counts.select(key_col).distinct().collect()}
    missing = sorted(set(targets_ppm) - have)
    if missing:
        raise ValueError(
            f"plan_mixture: targets name sources absent from the corpus: "
            f"{missing}"
        )
    tgt = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(targets_ppm.items())],
        f"{key_col} string, __share_ppm long",
    )
    joined = counts.select(
        F.col(key_col), F.col(tokens_col).cast("long").alias("__avail")
    ).join(F.broadcast(tgt), key_col, "left").select(
        key_col,
        "__avail",
        F.coalesce("__share_ppm", F.lit(0)).alias("__share_ppm"),
    )
    return joined.select(
        key_col,
        F.col("__avail").alias("available_tokens"),
        F.col("__share_ppm").alias("target_share_ppm"),
        F.expr(f"({budget_tokens} * __share_ppm) div 1000000")
        .alias("target_tokens"),
        F.expr(
            f"least(({budget_tokens} * __share_ppm) div 1000000,"
            f" (__avail * {int(max_epochs_ppm)}) div 1000000)"
        ).alias("planned_tokens"),
    ).select(
        key_col, "available_tokens", "target_share_ppm", "target_tokens",
        "planned_tokens",
        F.expr("CASE WHEN available_tokens > 0 THEN"
               " (planned_tokens * 1000000) div available_tokens"
               " ELSE 0 END").alias("epochs_ppm"),
        (F.col("target_tokens") - F.col("planned_tokens"))
        .alias("deficit_tokens"),
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-document n-gram novelty against everything EARLIER in the
    corpus (doc_id order = arrival order): the share of a doc's distinct
    n-grams never seen in any lower-id document. The curriculum/curation
    signal between exact dedup (novelty 0 for a clone) and vocab growth
    (q123, corpus-level): near-dups, quotes, and syndicated fragments
    score low; genuinely new material scores high — the per-doc knob for
    "train on novel text first" ordering and repeat-downweighting.

    One explode to distinct (doc, gram-hash) rows, one groupBy on the
    uniform 60-bit gram hash for the global first-seer (min doc_id), one
    join back on the same key — partial aggregation everywhere, grams
    travel only as hashes. Novelty is exact ppm (floor div)."""
    grams = df.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(md5_word_ngram_hashes(F.col(text_col), n)).alias("g"),
    )
    from .dedup import _materialize

    grams = _materialize(grams)
    first = grams.groupBy("g").agg(F.min(id_col).alias("first_doc"))
    per = (
        grams.join(first, "g")
        .groupBy(id_col, source_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
            ).cast("long").alias("novel_grams"),
        )
    )
    return per.withColumn(
        "novelty_ppm",
        F.expr("(1000000 * novel_grams) div n_grams").cast("long"),
    )


def dedup_impact_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Per-source dedup cost accounting — "what does deduplication take
    from each source" BEFORE committing to it: documents and tokens
    removed by exact dedup, then by MinHash near-dup among the exact
    survivors, per source. The report a curation review reads next to
    the mixture plan (q245): a source losing 60% to near-dup needs a
    crawler fix, not a bigger quota.

    Removal rules are deterministic and local (no transitive closure,
    so the whole report is SQL-oracle-checkable): exact-removed = any
    doc above the min id of its content-hash group; near-removed = any
    exact SURVIVOR with a verified near-dup partner of LOWER id that is
    itself a survivor. The greedy min-id rule under-counts versus full
    clustering (q42) by at most the chain cases where a doc's only
    lower partners were themselves removed — documented, and the
    clustered path remains `resolve_duplicates`.

    Plan: exact dedup is one hash groupBy; near-dup reuses the banded
    LSH pipeline (skew-capped); the report is a sources-sized
    aggregate. Token counts ride the same scan as the hashes."""
    from .dedup import exact_duplicates, minhash_lsh_pairs_portable
    from .text import token_count

    base = df.select(
        F.col(id_col), F.col(source_col),
        token_count(F.col(text_col)).cast("long").alias("__tok"),
    )
    exact = exact_duplicates(df, text_col=text_col, id_col=id_col).filter(
        ~F.col("is_canonical")
    ).select(F.col(id_col).alias("__xid"))
    pairs = minhash_lsh_pairs_portable(
        df, text_col=text_col, id_col=id_col, shingle_k=shingle_k,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        sig_prune=True, max_bucket=max_bucket,
    ).select("id_a", "id_b")
    flagged = (
        base.join(exact, base[id_col] == F.col("__xid"), "left")
        .withColumn("exact_removed", F.col("__xid").isNotNull())
        .drop("__xid")
    )
    surv = flagged.filter(~F.col("exact_removed")).select(
        F.col(id_col).alias("__sid")
    )
    # partner of LOWER id that survived exact dedup
    near_ids = (
        pairs.join(surv, pairs.id_a == F.col("__sid"), "leftsemi")
        .join(surv, pairs.id_b == F.col("__sid"), "leftsemi")
        .select(F.col("id_b").alias("__nid"))
        .distinct()
    )
    marked = (
        flagged.join(near_ids, flagged[id_col] == F.col("__nid"), "left")
        .withColumn(
            "near_removed",
            ~F.col("exact_removed") & F.col("__nid").isNotNull(),
        )
        .drop("__nid")
    )
    kept = ~F.col("exact_removed") & ~F.col("near_removed")
    return marked.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("exact_removed").cast("long")).alias("exact_removed"),
        F.sum(F.col("near_removed").cast("long")).alias("near_removed"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum("__tok").alias("tokens_before"),
        F.sum(F.when(kept, F.col("__tok")).otherwise(F.lit(0))).alias(
            "tokens_kept"
        ),
    )
