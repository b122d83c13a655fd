"""Deduplication operators for large-scale corpus curation.

Beyond the reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup — all
DataFrame-in/DataFrame-out, no collect, designed so every stage is a
hash-partitioned shuffle on a bounded key (100 TB-safe).

Scale notes per operator are inline; the common pattern is
candidate-generation by bucket join (band hash / LSH bucket) followed by
exact verification within buckets — never an O(n^2) cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import md5_60



def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ahead of per-row-expensive compute. A small
    corpus parquet is often ONE split (partition count follows bytes, not
    rows), which would serialize the shingling/hashing work on one core —
    measured 20-30x under-parallelization at 5000 docs on local[32]."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def _materialize(df: DataFrame) -> DataFrame:
    """Persist a per-row-expensive intermediate before it feeds an explode
    or multiple consumers. Catalyst's projection collapse inlines
    expression trees into Generate, re-evaluating them once per OUTPUT row
    (measured 20x slowdown on hashed-shingle explode); a persisted
    boundary evaluates them exactly once per input row. MEMORY_AND_DISK
    spills at scale; Spark evicts LRU.

    Cache lifetime CONTRACT: pins are session-lived by design — the
    returned DataFrame (and the query result built on it) stays lazy, so
    there is no point inside the operator where an unpersist is safe
    (the consumer may not have executed yet, and unpersisting after an
    eager action would recompute the pin for every later consumer).
    Long-lived sessions that interleave many operator calls reclaim the
    blocks with ``spark.catalog.clearCache()`` between logical units
    (bench.py does exactly this between runs); eviction is otherwise
    LRU under memory pressure, with disk blocks bounded by the operator
    inputs that produced them."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)

def normalize_text(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, strip. Deterministic and SQL-expressible (the DuckDB oracle
    applies the identical regexp)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups by content hash.

    Returns (id, content_hash, group_size, is_canonical) for every row in a
    duplicate group of size >= 2; canonical = min id. One shuffle on the
    256-bit hash — uniformly distributed, no skew. At 100 TB, hash first and
    never shuffle the raw text.
    """
    h = F.sha2(normalize_text(F.col(text_col)), 256).alias("content_hash")
    hashed = df.select(F.col(id_col), h)
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .filter(F.col("group_size") >= 2)
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
        .select(id_col, "content_hash", "group_size", "canonical_id", "is_canonical")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical row (min id) per distinct content."""
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# --------------------------------------------------------------------------
# shingles / n-grams (shared)
# --------------------------------------------------------------------------

def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of the normalized text."""
    words = F.split(normalize_text(col), " ")
    cnt = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), cnt - F.lit(1)),
            lambda i: F.array_join(F.slice(words, i + F.lit(1), n), " "),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _jaccard_hashes_udf(a: Column, b: Column) -> Column:
    # udf built lazily — pandas_udf registration needs an active session
    @F.pandas_udf("double")
    def _jac(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = np.empty(len(xs))
        for i in range(len(xs)):
            x = np.asarray(xs[i], dtype=np.int64)
            y = np.asarray(ys[i], dtype=np.int64)
            inter = np.intersect1d(x, y, assume_unique=True).size
            union = x.size + y.size - inter
            out[i] = inter / union if union else 0.0
        return pd.Series(out)

    return _jac(a, b)


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, bucketed by length band to avoid n^2)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    freq_order_top_k: int = 4096,
) -> DataFrame:
    """All pairs (id_a < id_b) with word-n-gram Jaccard >= threshold.

    Candidate pruning by prefix filtering (SSJoin/PPJoin family): if
    J(A,B) >= t then the prefixes — under ANY globally consistent total
    order of the gram universe — of length |X| - ceil(t*|X|) + 1 must
    intersect. So bucket-join on prefix grams, apply PPJoin's position
    filter (a match at prefix positions (i, j) bounds the achievable
    overlap by 1 + min(|A|-i-1, |B|-j-1); pairs that can't reach
    ceil(t/(1+t)·(|A|+|B|)) drop before the verify join — measured 37%
    faster end-to-end at sf0.1), then verify exactly: complete (no false
    negatives) for any ordering.

    The ordering is where skew dies: PPJoin-style, grams are ordered by
    ASCENDING document frequency, so prefixes hold each doc's rarest grams
    and stop-grams ("of the and") — the hot join keys that would otherwise
    concentrate the candidate shuffle onto a few reducers and emit O(df²)
    candidate pairs per stop-gram — are pushed out of prefixes entirely.
    Implemented scale-style: one map-side-combined groupBy counts gram df,
    only the top `freq_order_top_k` hot grams ship to the driver and ride
    into the prefix UDF as a broadcast rank table; the cold tail (df≈1,
    unbounded universe) needs no ordering info — hash order is already
    frequency-flat. `freq_order_top_k=0` disables (plain hash order).
    """
    import math

    from ..functions.vectorized import _word_ngram_flat, word_ngram_hashes_udf

    # NO materialized gram cache: columnar caching of array<long> costs ~4×
    # the (batch-flattened) UDF itself, and at 100 TB a cached
    # all-grams intermediate is a non-starter. Gram arrays never enter a
    # shuffle or the block store — only (id, size, prefix hash) rows move;
    # exact-verify re-derives grams for survivors from text (below).
    base = _spread(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    hot_rank: dict[int, int] = {}
    if freq_order_top_k:
        # document-frequency counts drive only the PREFIX ORDERING — any
        # consistent total order is correct (verify is exact; proven by
        # test_ngram_jaccard_freq_order_equivalence) — so a deterministic
        # 25% doc sample suffices: hot grams are by definition the ones a
        # sample cannot miss, and the pass costs a quarter of the corpus.
        hot = (
            base.sample(fraction=0.25, seed=42)
            .select(
                F.explode(word_ngram_hashes_udf(F.col("__text"), n)).alias("g")
            )
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("df_cnt"))
            .filter(F.col("df_cnt") > 1)
            .orderBy(F.desc("df_cnt"))
            .limit(freq_order_top_k)
            .collect()
        )
        # rank ascending by df: the rarest hot gram sorts first among hots
        hot_rank = {
            int(r["g"]): i for i, r in enumerate(sorted(hot, key=lambda r: r["df_cnt"]))
        }

    @F.pandas_udf("struct<sz: int, prefix: array<long>>")
    def prefix_udf(col: pd.Series) -> pd.DataFrame:
        # FUSED text → (gram count, ordered prefix): the gram arrays are
        # born and die inside this one Arrow pass
        arrays = _word_ngram_flat(list(col), n)
        szs = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
        out = []
        for arr in arrays:
            # same value as the Catalyst ceil(size * t) formulation
            plen = len(arr) - int(math.ceil(len(arr) * threshold)) + 1
            if hot_rank:
                ranks = np.fromiter(
                    (hot_rank.get(int(h), -1) for h in arr),
                    dtype=np.int64,
                    count=len(arr),
                )
                is_hot = ranks >= 0
                arr = np.concatenate(
                    [arr[~is_hot], arr[is_hot][np.argsort(ranks[is_hot], kind="stable")]]
                )
            out.append(arr[:plen])
        return pd.DataFrame({"sz": szs, "prefix": out})

    # candidate generation carries ONLY (id, size, prefix-position, gram
    # hash) — the gram arrays never ride through the candidate shuffle.
    # pos is the gram's index in the doc's globally-consistent order
    # (cold-by-hash then hot-by-ascending-df — a total order, so positions
    # are comparable across docs), enabling PPJoin's position filter.
    # THIS exploded set is the one cached intermediate: all-scalar columns
    # (arrays cache ~4× worse than they compute) at prefix density
    # (~1-t of the gram stream), and caching it keeps the self-join from
    # running the fused UDF once per side.
    exploded = _materialize(
        base.select("id", prefix_udf(F.col("__text")).alias("sp"))
        .select("id", F.col("sp.sz").alias("sz"), F.col("sp.prefix").alias("prefix"))
        .filter(F.col("sz") > 0)
        .select("id", "sz", F.posexplode("prefix").alias("pos", "g"))
    )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), F.col("pos").alias("pos_a"), "g"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), F.col("pos").alias("pos_b"), "g"
    )
    # PPJoin position filter: a match at (pos_a, pos_b) caps the possible
    # overlap at 1 + min(remaining grams in A, remaining in B); J >= t
    # requires overlap >= ceil(t/(1+t) * (|A|+|B|)). Pairs whose BEST
    # match can't reach the requirement are dropped before the verify
    # join — an upper-bound prune, so no true pair is lost (guarded by
    # test_ngram_jaccard_freq_order_equivalence and the q34 oracle).
    ub = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a") - 1, F.col("sz_b") - F.col("pos_b") - 1
    )
    req = F.ceil(
        F.lit(threshold) / F.lit(1.0 + threshold) * (F.col("sz_a") + F.col("sz_b"))
    )
    cand = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t requires t <= |A|/|B| <= 1/t
        .filter(
            (F.col("sz_b") >= F.col("sz_a") * F.lit(threshold))
            & (F.col("sz_a") >= F.col("sz_b") * F.lit(threshold))
        )
        .groupBy("id_a", "id_b")
        .agg(F.max(ub).alias("__ub"), F.first(req).alias("__req"))
        .filter(F.col("__ub") >= F.col("__req"))
        .select("id_a", "id_b")
    )
    # exact verify recomputes grams from text for the BOUNDED survivor set
    # only (semi-join on candidate ids): the full-corpus gram arrays are
    # never cached or joined — at any scale the expensive arrays exist
    # only for docs that reached verification.
    cand = _materialize(cand)
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    surv = _materialize(
        base.join(ids, "id", "left_semi").select(
            "id", word_ngram_hashes_udf(F.col("__text"), n).alias("grams")
        )
    )
    ga = surv.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = surv.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "jaccard",
            F.round(_jaccard_hashes_udf(F.col("grams_a"), F.col("grams_b")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH (portable math: every step reproducible in ANSI SQL)
# --------------------------------------------------------------------------

_MASK60 = (1 << 60) - 1
# deterministic 60-bit xor constants + rotation amounts for the portable
# permutation family h_j(x) = rot60(x, r_j) XOR c_j — min-wise-independent
# enough for LSH, and exactly reproducible in any engine with 64-bit ints
# (no multiplication, so no overflow semantics to match).
def _portable_perms(num_hashes: int) -> list[tuple[int, int]]:
    rng = np.random.RandomState(777)
    return [
        (int(rng.randint(1, 60)), int(rng.randint(0, _MASK60, dtype=np.int64)))
        for _ in range(num_hashes)
    ]


def md5_shingle_hashes(col: Column, k: int = 5) -> Column:
    """Sorted distinct 60-bit md5-prefix hashes of char k-shingles,
    value-identical to DuckDB's CAST('0x'||substr(md5(shingle),1,15) AS
    BIGINT). Arrow-batched hashlib kernel — the Catalyst
    transform(md5∘substr) formulation computes the same values but
    interpreted per shingle (measured ~5× slower end-to-end at sf0.1).

    NOTE substring semantics must match SQL substr(nt, i, k): the k-window
    is over UNICODE CODE POINTS of the normalized text, md5 over its UTF-8
    encoding.
    """
    from ..functions.vectorized import _md5_shingle_flat, _pynorm

    @F.pandas_udf("array<long>")
    def sh(s: pd.Series) -> pd.Series:
        texts = [_pynorm(t or "") for t in s]
        grams, _, _ = _md5_shingle_flat(texts, k)
        return pd.Series(grams)

    return sh(col)


def _portable_sig_pipeline(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    with_sig: bool = False,
):
    """Shared portable-MinHash front end and the ONE place a document set
    is hashed: one Arrow pass computes the md5 shingle hashes, the
    rotate-XOR signature AND the md5 band keys per doc (signature+banding
    fused — the band keys are md5 over the same in-memory signature
    matrix, value-identical to the former JVM
    ``md5(concat_ws(",", slice(sig, ...)))`` since every sig value is a
    nonnegative decimal). Returns ``(base, banded)``: base = (id, grams[,
    sig], __bh) persisted, banded = (id, band, bh) via posexplode of the
    cached band keys — zero post-pass hashing, and no gram arrays in the
    band shuffle. ``grams`` (per-doc sorted distinct, the array
    :func:`md5_shingle_hashes` gives) stays in the pin so the exact verify
    and the ``grams/`` artifact join it instead of re-hashing text; it is
    linear in text (~3.7 KB pinned per perfbench doc, 5.7× its
    characters; MEMORY_AND_DISK spills). Every doc has at least one gram
    (a doc shorter than k, even an empty or NULL one, is one whole-doc
    window), so every doc gets bands and no row is filtered. Nothing here
    filters or counts the pinned projection: a deterministic filter on a
    UDF output is pushed below ``_spread``'s round-robin exchange and
    re-runs the UDF in the one-task scan stage. ``with_sig`` keeps the
    full signature on base for the sig-agreement prune; when the prune is
    inactive (the default and every registry query — cutoff ≤ the
    per-band certainty floor) the sig array never crosses the Python
    boundary and never lands in cache. Serves the self-join pipeline
    (``minhash_lsh_pairs_portable``), the cross-corpus incremental path
    (``fuzzy_dedup_against``), and the persisted signature artifact
    (``save_minhash_index`` — banded schema unchanged, so existing
    sidecars stay valid)."""
    rows = num_hashes // bands
    perms = _portable_perms(num_hashes)

    r_arr = np.array([r for (r, _) in perms], dtype=np.int64)[:, None]
    c_arr = np.array([c for (_, c) in perms], dtype=np.int64)[:, None]
    m_arr = (np.int64(1) << (60 - r_arr))

    from ..functions.vectorized import _pynorm

    out_type = (
        "struct<grams: array<long>, sig: array<long>, bh: array<string>>"
        if with_sig
        else "struct<grams: array<long>, bh: array<string>>"
    )

    @F.pandas_udf(out_type)
    def grams_sig_udf(s: pd.Series) -> pd.DataFrame:
        import hashlib

        from ..functions.vectorized import _md5_shingle_flat

        md5 = hashlib.md5
        texts = [_pynorm(t or "") for t in s]
        gs, flat, offs = _md5_shingle_flat(texts, shingle_k)
        nd = len(gs)
        if len(flat):
            h = flat[None, :]
            sigs_m = np.empty((num_hashes, nd), dtype=np.int64)
            # permutations over the flat gram buffer, per-doc minima via
            # reduceat; 8 permutation rows at a time bounds the (rows, N)
            # intermediate independent of batch size
            for s0 in range(0, num_hashes, 8):
                s1 = min(s0 + 8, num_hashes)
                rot = ((h % m_arr[s0:s1]) << r_arr[s0:s1]) + (
                    h >> (60 - r_arr[s0:s1])
                )
                sigs_m[s0:s1] = np.minimum.reduceat(
                    rot ^ c_arr[s0:s1], offs, axis=1
                )
            # fused banding: md5 over the comma-joined decimals of each
            # band's signature rows (= SQL md5(concat_ws(",", slice(...))))
            bhs = [
                [
                    md5(
                        b",".join(
                            b"%d" % v
                            for v in sigs_m[b * rows:(b + 1) * rows, d]
                        )
                    ).hexdigest()
                    for b in range(bands)
                ]
                for d in range(nd)
            ]
            sigs = [sigs_m[:, d] for d in range(nd)] if with_sig else None
        else:
            bhs = []
            sigs = []
        data = {"grams": gs}
        if with_sig:
            data["sig"] = sigs
        data["bh"] = bhs
        return pd.DataFrame(data)

    cols = ["id", F.col("gs.grams").alias("grams")]
    if with_sig:
        cols.append(F.col("gs.sig").alias("sig"))
    cols.append(F.col("gs.bh").alias("__bh"))
    base = _materialize(
        _spread(df)
        .select(F.col(id_col).alias("id"), grams_sig_udf(F.col(text_col)).alias("gs"))
        .select(*cols)
    )
    banded = base.select(
        "id", F.posexplode("__bh").alias("band", "bh")
    ).select("id", "band", "bh")
    return base, banded


def _cap_band_buckets(banded: DataFrame, max_bucket) -> DataFrame:
    """Hot-bucket skew guard shared by every banded-LSH path: drop
    (band, bh) buckets larger than ``max_bucket`` before the candidate
    join. On a real crawl, template/boilerplate-heavy shards put
    thousands of docs in one band bucket and the equi-join then emits
    |bucket|² candidate rows; the cap bounds that at max_bucket² per
    bucket. Costs one extra shuffle on the SAME (band, bh) key the join
    needs (the window count rides the join's partitioning). The rule is
    deterministic — a pure function of the banded table — so SQL oracles
    mirror it exactly (COUNT(*) OVER (PARTITION BY band, bh)) and capped
    pipelines stay fully differential-checked. Recall note: a dropped
    bucket loses only pairs not certified by any OTHER band; ``dedup_fuzzy``
    caps at 64 and its perfbench check asserts recall 1.0 on planted
    near-duplicate groups."""
    if max_bucket is None:
        return banded
    bw = Window.partitionBy("band", "bh")
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(bw))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def _sig_min_agree(threshold: float, num_hashes: int) -> int:
    """Stage-1 signature-agreement cutoff shared by the self-join and
    cross-corpus pipelines: ceil((t - 2.5σ) * num_hashes)."""
    return int(
        np.ceil((threshold - 2.5 * (0.25 / num_hashes) ** 0.5) * num_hashes)
    )


def _exact_jaccard(
    cand: DataFrame, a_col: str, b_col: str, grams_a: DataFrame,
    grams_b: DataFrame, threshold: float,
) -> DataFrame:
    """Exact verify of LSH candidates: join each side's (id, grams) table
    (a pipeline ``base`` or a ``grams/`` artifact) and keep the pairs
    with Jaccard ≥ threshold, rounded to 6 places as the oracles do."""
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    # |A ∪ B| = |A| + |B| − |A ∩ B|: both gram arrays are per-doc DISTINCT
    # by construction (md5_shingle_hashes sorts + dedups), so the union
    # size is pure arithmetic — array_union would materialize a fresh
    # array per candidate pair only to take its length
    union = (F.size("grams_a") + F.size("grams_b")).cast("double") - inter
    return (
        cand.join(grams_a.select(F.col("id").alias(a_col),
                                 F.col("grams").alias("grams_a")), a_col)
        .join(grams_b.select(F.col("id").alias(b_col),
                             F.col("grams").alias("grams_b")), b_col)
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
    )


def _best_match(pairs: DataFrame) -> DataFrame:
    """One row per new doc: its max-Jaccard corpus match, ties → the
    smallest corpus id."""
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("corpus_id"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    sig_prune: bool = False,
    max_bucket: int | None = None,
    pair_filter=None,
) -> DataFrame:
    """MinHash banding with every step reproducible in ANSI SQL: md5-prefix
    shingle hashes, rotate-XOR permutations (no overflow), md5 band keys,
    exact Jaccard verify. The one MinHash-LSH implementation: the full
    pipeline — candidates AND verify — is differentially tested against a
    DuckDB oracle (q35/q44), and ``dedup_fuzzy`` runs it by default.

    ``pair_filter``: optional predicate builder ``(id_a: Column, id_b:
    Column) -> Column`` applied to CANDIDATES before the exact-verify
    stage — for id-deterministic gates (audit sampling, shard routing)
    this skips the gram join + set-intersection on filtered-out pairs
    entirely. Semantics identical to filtering the output, since the gate
    may only read the ids.

    Each doc is hashed once (:func:`_portable_sig_pipeline`): the exact
    verify joins the candidates to the pinned ``base`` grams.
    """
    rows = num_hashes // bands
    min_agree = _sig_min_agree(threshold, num_hashes)
    prune_active = sig_prune and min_agree > rows
    base, banded = _portable_sig_pipeline(
        df, text_col, id_col, shingle_k, num_hashes, bands,
        with_sig=prune_active,
    )
    banded = _cap_band_buckets(banded, max_bucket)
    if max_bucket is not None:
        # the capped table feeds BOTH self-join sides; unpinned, the
        # cap's exchange+sort+window subtree executes once per side
        # (cached-read subtrees defeat ReusedExchange under AQE) —
        # pin it so the second side is a cache read. Only worth it when
        # the cap window exists; the uncapped posexplode is a narrow
        # cache read already.
        banded = _materialize(banded)
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # stage-1 prune: signature agreement >= ceil((t - 2.5σ) * num_hashes).
    # Banding already CERTIFIES rows-per-band matching positions for every
    # candidate, so the filter only has teeth when the cutoff exceeds that
    # floor (high thresholds / many bands — e.g. t=0.7 at 64 hashes / 16
    # bands gives cutoff 35 vs floor 4); below the floor it is skipped on
    # BOTH sides so the Spark plan and the SQL oracle stay identical.
    # APPROXIMATION, stated plainly: a true pair at Jaccard exactly t has
    # a small (≈0.6% at the 2.5σ margin) chance of signature agreement
    # below the cutoff and is then dropped BEFORE the exact verify — a
    # recall trade of the same kind banding itself makes, and one the
    # mirrored oracle cannot surface. The DEFAULT is therefore the pure
    # candidates→exact-verify contract (sig_prune=False: every banded
    # candidate verified, recall identical to banding alone); opt in with
    # sig_prune=True when the ≈0.6%-at-threshold recall trade is worth
    # skipping the exact verify on low-agreement candidates.
    if prune_active:
        sa = base.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sb = base.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        agree = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )
        )
        cand = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(agree >= F.lit(min_agree))
            .select("id_a", "id_b")
        )
    if pair_filter is not None:
        cand = cand.filter(pair_filter(F.col("id_a"), F.col("id_b")))
    grams = base.select("id", "grams")
    return _exact_jaccard(cand, "id_a", "id_b", grams, grams, threshold).select(
        "id_a", "id_b", "jaccard"
    )


def fuzzy_dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    sig_prune: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental FUZZY dedup: near-duplicate matches of a NEW batch
    against an EXISTING corpus — the daily-crawl production shape
    (``dedup_against``/``bloom_dedup_against`` are its exact-match
    siblings; this is the MinHash-LSH sibling). Returns one row per new
    doc that has a near-dup in the corpus: ``(new_id, corpus_id,
    jaccard)`` with the BEST match (max Jaccard, ties → smallest corpus
    id) — anti-join new_df on new_id to keep only novel docs.

    Same portable math as :func:`minhash_lsh_pairs_portable` (md5
    shingles, rotate-XOR permutations, md5 band keys, exact Jaccard
    verify), so the ENTIRE cross-corpus pipeline reproduces in a SQL
    oracle (q116). Scale shape: candidates come from the (band, bh)
    equi-join of the two banded signature tables — bands×|new| vs
    bands×|corpus| key-shuffled rows, never a cross product; AQE
    broadcasts the new side when it is small (the common case). Each
    side is hashed once (:func:`_portable_sig_pipeline`); the exact
    verify joins the candidates to each side's pinned ``base`` grams.
    """
    rows = num_hashes // bands
    min_agree = _sig_min_agree(threshold, num_hashes)
    prune_active = sig_prune and min_agree > rows
    base_n, banded_n = _portable_sig_pipeline(
        new_df, text_col, id_col, shingle_k, num_hashes, bands,
        with_sig=prune_active,
    )
    base_c, banded_c = _portable_sig_pipeline(
        corpus_df, text_col, id_col, shingle_k, num_hashes, bands,
        with_sig=prune_active,
    )
    # skew guard per SIDE: each banded table capped independently, so a
    # boilerplate-heavy corpus bucket can't multiply against a hot new
    # bucket (|new_bucket|×|corpus_bucket| ≤ max_bucket²)
    banded_n = _cap_band_buckets(banded_n, max_bucket)
    banded_c = _cap_band_buckets(banded_c, max_bucket)
    cand = (
        banded_n.select(F.col("id").alias("new_id"), "band", "bh")
        .join(banded_c.select(F.col("id").alias("corpus_id"), "band", "bh"), ["band", "bh"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    if prune_active:
        sa = base_n.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_a"))
        sb = base_c.select(F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b"))
        agree = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        )
        cand = (
            cand.join(sa, "new_id")
            .join(sb, "corpus_id")
            .filter(agree >= F.lit(min_agree))
            .select("new_id", "corpus_id")
        )
    return _best_match(_exact_jaccard(
        cand, "new_id", "corpus_id", base_n.select("id", "grams"),
        base_c.select("id", "grams"), threshold,
    ))


MINHASH_META_FILE = "_minhash_meta.json"


def save_minhash_index(
    corpus_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> str:
    """Persist the corpus side of :func:`fuzzy_dedup_against` as an
    on-disk artifact, so daily batches dedup against a 100 TB corpus
    WITHOUT re-shingling it: ``bands/`` holds the (id, band, bh) banded
    signature table (the candidate-join side), ``grams/`` the md5
    shingle sets (the exact-verify side; linear in corpus text, the
    price of exact verification without the original text). Both are
    written from one :func:`_portable_sig_pipeline` pass, so the corpus
    is hashed once. Parameters
    and a data fingerprint land in a JSON sidecar through the Hadoop FS
    API — same posture as the z-index and IVF artifacts (reference
    index↔data checksum analog, `tdbcli/tdb_index.c:439-451`).
    """
    import json

    from .. import fsutil

    spark = corpus_df.sparkSession
    base, banded = _portable_sig_pipeline(
        corpus_df, text_col, id_col, shingle_k, num_hashes, bands
    )
    banded.write.mode("overwrite").parquet(f"{path}/bands")
    base.select("id", "grams").write.mode("overwrite").parquet(f"{path}/grams")
    base.unpersist()
    fp = {
        "bands": fsutil.data_fingerprint(spark, f"{path}/bands"),
        "grams": fsutil.data_fingerprint(spark, f"{path}/grams"),
    }
    fsutil.write_small(
        spark,
        f"{path}/{MINHASH_META_FILE}",
        json.dumps(
            {
                "shingle_k": shingle_k,
                "num_hashes": num_hashes,
                "bands": bands,
                "id_type": dict(corpus_df.dtypes)[id_col],
                "data_fingerprint": fp,
            }
        ),
    )
    return path


def _mh_subdirs(path: str, meta: dict) -> tuple[str, str]:
    """Resolve the LIVE bands/grams subdir paths — the sidecar is the
    pointer (``compact_minhash_index`` writes new generation dirs and
    repoints it); uncompacted artifacts default to ``bands``/``grams``
    (the :func:`compact_code_index` shape)."""
    return (f"{path}/{meta.get('bands_dir', 'bands')}",
            f"{path}/{meta.get('grams_dir', 'grams')}")


def append_minhash_index(
    new_corpus_rows: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Append new corpus documents to a :func:`save_minhash_index`
    artifact WITHOUT re-shingling the corpus — the third member of the
    incremental-maintenance family (with ``append_sq8_index`` /
    ``append_jl_sq8_index``; reference analog ``tdb_cons_append``,
    src/tdb_cons.c:574-657). Unlike the SQ8 artifacts there is no
    calibration grid at all: the portable hash family is FIXED
    (``_portable_perms``) and the signature parameters come from the
    sidecar, so an append is bit-identical to a rebuild on the union
    unconditionally — no envelope check, no recalibration boundary.
    Cost ∝ delta (one Arrow pass over the new rows); bands/ and grams/
    gain new files; a crash mid-append leaves the fingerprints
    mismatched → probes refuse the artifact as stale. Duplicate ids
    are the caller's contract, exactly as in the builder."""
    import json

    from .. import fsutil

    spark = new_corpus_rows.sparkSession
    raw_meta = fsutil.read_small(spark, f"{path}/{MINHASH_META_FILE}")
    if raw_meta is None:
        raise FileNotFoundError(
            f"no minhash index sidecar at {path}/{MINHASH_META_FILE}; "
            "build one with save_minhash_index"
        )
    meta = json.loads(raw_meta)
    want_t = meta.get("id_type")
    got_t = dict(new_corpus_rows.dtypes).get(id_col)
    if want_t is not None and got_t != want_t:
        raise TypeError(
            f"append_minhash_index: delta id column {id_col!r} has type "
            f"{got_t!r} but the index was built with id_type {want_t!r} "
            "— cast the delta's ids to match (mixed id types would "
            "write schema-mismatched parquet into bands/grams)"
        )
    bands_p, grams_p = _mh_subdirs(path, meta)
    for sub, live in zip(("bands", "grams"), (bands_p, grams_p)):
        want = meta["data_fingerprint"].get(sub)
        if want is not None and want != fsutil.data_fingerprint(
                spark, live):
            raise ValueError(
                f"minhash index at {path} is stale: {sub}/ changed since "
                "the sidecar was written — rebuild with save_minhash_index"
            )
    shingle_k = int(meta["shingle_k"])
    base, banded = _portable_sig_pipeline(
        new_corpus_rows, text_col, id_col, shingle_k,
        int(meta["num_hashes"]), int(meta["bands"])
    )
    banded.write.mode("append").parquet(bands_p)
    base.select("id", "grams").write.mode("append").parquet(grams_p)
    base.unpersist()
    meta["data_fingerprint"] = {
        "bands": fsutil.data_fingerprint(spark, bands_p),
        "grams": fsutil.data_fingerprint(spark, grams_p),
    }
    meta["appends"] = int(meta.get("appends", 0)) + 1
    fsutil.write_small(spark, f"{path}/{MINHASH_META_FILE}",
                       json.dumps(meta))
    return path


def compact_minhash_index(spark, path: str,
                          rows_per_file: int = 2_000_000) -> int:
    """Re-compact a :func:`save_minhash_index` artifact after many
    appends — the minhash twin of
    :func:`similarity.compact_code_index`, same pointer-safe protocol
    (write new generation dirs ``bands_g<N>``/``grams_g<N>`` → repoint
    the sidecar with fresh fingerprints = THE commit → lazy-delete
    superseded dirs, orphans swept by the next run). A pure re-layout:
    the portable hash family is fixed and signature params live in the
    sidecar, so no re-shingling and the probe is set-identical before
    and after (tested). Returns parquet data files compacted away."""
    import json

    from .. import fsutil

    raw_meta = fsutil.read_small(spark, f"{path}/{MINHASH_META_FILE}")
    if raw_meta is None:
        raise FileNotFoundError(
            f"no minhash index sidecar at {path}/{MINHASH_META_FILE}")
    meta = json.loads(raw_meta)
    bands_p, grams_p = _mh_subdirs(path, meta)
    for sub, live in zip(("bands", "grams"), (bands_p, grams_p)):
        want = meta["data_fingerprint"].get(sub)
        if want is not None and want != fsutil.data_fingerprint(
                spark, live):
            raise ValueError(
                f"minhash index at {path} is stale: {sub}/ changed since "
                "the sidecar was written — rebuild before compacting"
            )
    from .similarity import _parquet_file_count

    files_before = (_parquet_file_count(spark, bands_p)
                    + _parquet_file_count(spark, grams_p))
    grams = spark.read.parquet(grams_p)
    n = grams.count()
    # same width rule as compact_code_index: bounded file size at
    # scale, floored at cluster parallelism so small compacted
    # artifacts keep enough splits for the bucket-join scans
    parts = max(1, -(-n // rows_per_file),
                min(spark.sparkContext.defaultParallelism,
                    -(-n // 10_000)))
    gen = int(meta.get("compactions", 0)) + 1
    new_bands = f"{path}/bands_g{gen}"
    new_grams = f"{path}/grams_g{gen}"
    (spark.read.parquet(bands_p).repartition(parts)
     .write.mode("overwrite").parquet(new_bands))
    grams.repartition(parts).write.mode("overwrite").parquet(new_grams)
    meta["bands_dir"] = f"bands_g{gen}"
    meta["grams_dir"] = f"grams_g{gen}"
    meta["compactions"] = gen
    meta["data_fingerprint"] = {
        "bands": fsutil.data_fingerprint(spark, new_bands),
        "grams": fsutil.data_fingerprint(spark, new_grams),
    }
    fsutil.write_small(spark, f"{path}/{MINHASH_META_FILE}",
                       json.dumps(meta))  # the commit
    import re as _re

    _, hpath, fs = fsutil.hfs(spark, path)
    live_dirs = {meta["bands_dir"], meta["grams_dir"]}
    for st in fs.listStatus(hpath(path)):
        name = st.getPath().getName()
        if name in live_dirs:
            continue
        if name in ("bands", "grams") or _re.fullmatch(
                r"(bands|grams)_g\d+", name):
            fs.delete(st.getPath(), True)
    files_after = (_parquet_file_count(spark, new_bands)
                   + _parquet_file_count(spark, new_grams))
    return files_before - files_after


def fuzzy_dedup_against_prebuilt(
    spark,
    path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`fuzzy_dedup_against` against a :func:`save_minhash_index`
    artifact: the corpus is never re-shingled — the banded table joins
    directly and the stored gram sets serve the exact verify. Signature
    parameters come from the sidecar, so probe and build can never
    disagree. Refuses a stale artifact (cell data rewritten since the
    sidecar) — there is no primary to fall back to, the same contract as
    the IVF artifact."""
    import json

    from .. import fsutil

    raw_meta = fsutil.read_small(spark, f"{path}/{MINHASH_META_FILE}")
    if raw_meta is None:
        raise FileNotFoundError(
            f"no minhash index sidecar at {path}/{MINHASH_META_FILE}; "
            "build one with save_minhash_index"
        )
    meta = json.loads(raw_meta)
    bands_p, grams_p = _mh_subdirs(path, meta)
    fp = meta.get("data_fingerprint") or {}
    for part, live in zip(("bands", "grams"), (bands_p, grams_p)):
        want = fp.get(part)
        if want is not None and want != fsutil.data_fingerprint(
            spark, live
        ):
            raise ValueError(
                f"minhash index at {path} is stale ({part} changed since "
                "the sidecar was written) — rebuild with save_minhash_index"
            )
    shingle_k = int(meta["shingle_k"])
    num_hashes = int(meta["num_hashes"])
    bands = int(meta["bands"])

    base_n, banded_n = _portable_sig_pipeline(
        new_df, text_col, id_col, shingle_k, num_hashes, bands
    )
    banded_c = spark.read.parquet(bands_p)
    banded_n = _cap_band_buckets(banded_n, max_bucket)
    banded_c = _cap_band_buckets(banded_c, max_bucket)
    cand = (
        banded_n.select(F.col("id").alias("new_id"), "band", "bh")
        .join(banded_c.select(F.col("id").alias("corpus_id"), "band", "bh"), ["band", "bh"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    cand = _materialize(cand)
    gb = spark.read.parquet(grams_p).join(
        cand.select(F.col("corpus_id").alias("id")).distinct(), "id", "left_semi"
    )
    return _best_match(_exact_jaccard(
        cand, "new_id", "corpus_id", base_n.select("id", "grams"), gb, threshold
    ))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hasher=None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Candidate generation by the standard block-permutation trick: split the
    64-bit hash into b blocks; d differing bits touch at most d blocks, so
    any pair within distance d agrees exactly on at least b-d blocks
    (pigeonhole). For small d the classic b = d+1 / join-per-block scheme
    gives wide (>= 12-bit) block keys and a uniform shuffle. For larger d
    that degenerates — at d=6, 9-bit blocks have only 512 distinct key
    values, so every block join is an n²/512-shaped near-cross-join —
    so we switch to TWO-block agreement: b = d+2 blocks, at least 2 of
    which must agree, joined once per C(b,2) block pair on the composite
    (pair_idx, bv_i, bv_j) key. The key space widens from 2^w to 2^2w
    (~128x more selective at d=6) for a C(b,2)/b row-inflation in the
    exploded candidate table — the table is (id, 64-bit sh) so the
    inflation is bytes-cheap, while the join output shrinks ~32x. Recall
    stays exact: <= d touched blocks leave >= 2 untouched, and every
    2-subset is enumerated.

    ``token_hasher``: optional Column fn token → int64 hash. Default
    xxhash64; pass an md5-prefix hasher for cross-engine-reproducible
    hashes (the DuckDB oracle uses that form).
    """
    nblocks = max_hamming + 1
    width = 64 // nblocks
    tokens = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    if token_hasher is None:
        token_hasher = lambda t: F.xxhash64(t)  # noqa: E731 (xxhash64 is *args)
    from ..functions.vectorized import simhash_from_hashes

    sh = simhash_from_hashes(F.transform(tokens, token_hasher))
    base = _materialize(
        _spread(df).select(F.col(id_col).alias("id"), sh.alias("sh"))
    )
    return hamming_neardup_pairs(
        base, hash_col="sh", id_col="id", max_hamming=max_hamming
    )


def hamming_neardup_pairs(
    df: DataFrame,
    hash_col: str = "h",
    id_col: str = "id",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs within Hamming distance <= max_hamming over a 64-bit
    hash column — the shared candidate kernel behind ``simhash_pairs``
    (text) and ``multimodal.phash_neardup_pairs`` (images). Block
    scheme per the simhash_pairs docstring: single-block join while
    blocks stay >= 12 bits, two-block agreement (b = d+2, C(b,2)
    composite keys) for wider radii where narrow blocks would
    degenerate into near-cross-joins. Returns (id_a, id_b, hamming),
    id_a < id_b, exact (candidates verified by bit_count)."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    base = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("sh"))

    two_block = width < 12 and max_hamming >= 2
    if two_block:
        nblocks = max_hamming + 2
        width = 64 // nblocks

    def block(i):
        return F.shiftright(F.col("sh"), i * width).bitwiseAND(F.lit((1 << width) - 1))

    if two_block:
        combos = [
            (i, j) for i in range(nblocks) for j in range(i + 1, nblocks)
        ]
        blocked = base.select(
            "id",
            "sh",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(ci).alias("blk"),
                        block(i).alias("bv"),
                        block(j).alias("bv2"),
                    )
                    for ci, (i, j) in enumerate(combos)
                ])
            ).alias("b"),
        ).select(
            "id", "sh",
            F.col("b.blk").alias("blk"),
            F.col("b.bv").alias("bv"),
            F.col("b.bv2").alias("bv2"),
        )
        join_keys = ["blk", "bv", "bv2"]
    else:
        blocked = base.select(
            "id",
            "sh",
            F.explode(
                F.array(*[F.struct(F.lit(i).alias("blk"), block(i).alias("bv")) for i in range(nblocks)])
            ).alias("b"),
        ).select("id", "sh", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))
        join_keys = ["blk", "bv"]
    a = blocked.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), *join_keys
    )
    b = blocked.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), *join_keys
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    # verify BEFORE the dedup shuffle: bit_count is a codegen'd map-side
    # expression, so filtering candidates (and dropping both 64-bit hash
    # columns) here shrinks the dropDuplicates exchange to true pairs
    # only — on clone-cluster-heavy graphs the unverified candidate set
    # is the dominant shuffle. Result-identical: hamming is a pure
    # function of the pair, so dedup-after-verify keeps the same rows.
    return (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# duplicate clustering (connected components over near-dup pairs)
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 64,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (id, component) where
    component = min id reachable. This is the step that turns pairwise
    near-dup output into "keep one doc per duplicate cluster".

    Hybrid strategy: the EDGE list of a dedup job is orders of magnitude
    smaller than the corpus, so when it fits the driver comfortably
    (<= driver_threshold edges) union-find runs there exactly — one
    bounded collect of at most driver_threshold + 1 (src,dst) rows both
    decides the route and feeds it, no iteration overhead. Above the
    threshold the edge set is pinned (its rounds read it repeatedly) and
    the call runs
    the distributed large-star/small-star alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    is two groupBy-min + join passes over the edge set, and the edge set
    contracts toward stars in O(log n) rounds REGARDLESS of component
    diameter — a path graph converges logarithmically where plain
    min-label propagation needs diameter rounds. Fixpoint is detected by
    an order-independent edge-set checksum; exhausting ``max_iters``
    without a fixpoint RAISES rather than silently returning split
    clusters. The loop runs max_iters contraction rounds plus one
    confirming pass (fixpoint is only OBSERVABLE one round after it is
    reached); the default 64 covers the O(log n) contraction of any
    node-id space that fits in int64.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).filter(
        F.col("src") != F.col("dst")
    ).dropDuplicates()
    rows = edges.limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                # union by min id so the root IS the canonical label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {x for r in rows for x in (r["src"], r["dst"])}
        out = [(x, find(x)) for x in sorted(nodes)]
        # schema follows the input id type (string doc ids are legal and
        # the distributed path below handles them — the fast path must
        # not flip behavior on data volume)
        id_t = edges.schema["src"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            out, f"id {id_t}, component {id_t}"
        )

    # distributed path: large-star/small-star alternation
    edges = _materialize(edges)
    nodes = _materialize(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        """For every node u: connect each STRICTLY LARGER neighbor to
        min(Γ(u) ∪ {u}). Shrinks tall chains from both ends."""
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        """Orient edges child=max/parent=min; re-hang every node (and its
        smaller neighbors) off the minimum of its smaller neighborhood."""
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        out1 = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        out2 = mins.select("u", F.col("m").alias("v"))
        return (
            out1.unionByName(out2).filter(F.col("u") != F.col("v")).distinct()
        )

    # localCheckpoint, not persist: each round's plan references the
    # previous round's ~4 times, so an uncut lineage grows 4^rounds
    # logical nodes (observed: CacheManager OOM at round ~15 on a 64-edge
    # graph). Checkpointing truncates the plan to the materialized RDD —
    # the iterative-algorithm idiom (on a cluster, cluster-mode
    # checkpointing trades resilience for an HDFS write; local blocks are
    # re-derivable here by re-running the bounded loop).
    e = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).distinct().localCheckpoint()
    rounds = max_iters
    prev_sum = None
    converged = False
    # rounds + 1: a fixpoint first reached exactly at round `rounds` is
    # only detected by the NEXT (no-op) pass — without the extra pass the
    # effective capacity would be rounds - 1 contraction rounds
    for _ in range(rounds + 1):
        e = _small_star(_large_star(e)).localCheckpoint()
        csum = e.agg(
            F.bit_xor(F.xxhash64("u", "v")).alias("c"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if prev_sum == (csum["c"], csum["n"]):
            converged = True
            break
        prev_sum = (csum["c"], csum["n"])
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {rounds} "
            "large-star/small-star rounds — edge set still changing "
            "(pathological input?); refusing to return split clusters"
        )
    # fixpoint edge set is a union of stars: u (child, the larger id) →
    # v (its component's minimum); roots appear only on the right side.
    # groupBy-min is a no-op on a proper star but keeps the join 1:1.
    star = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    labels = nodes.join(star, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    ).localCheckpoint()  # eager: lets the inputs unpersist below
    # release the cached edge/node sets NOW (the driver path already
    # does) — without this every distributed CC call leaks its blocks for
    # the session lifetime
    nodes.unpersist()
    edges.unpersist()
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Every doc with its duplicate-cluster id and canonical flag: docs in
    no cluster are their own singleton component."""
    comp = connected_components(pairs)
    out = df.select(F.col(id_col)).join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        F.coalesce("component", F.col(id_col)).alias("component"),
    ).withColumn("is_canonical", F.col(id_col) == F.col("component"))


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware duplicate resolution: label every row with its
    near-dup component (from ``pairs``, via :func:`connected_components`)
    and keep exactly the BEST-scoring row per component — ``score`` is any
    deterministic quality Column (e.g. ``text.quality_score``); ties break
    to the smallest id so the pick is reproducible across runs and
    engines. This is the production form of "dedup the corpus": plain
    ``dedup_clusters`` keeps the arbitrary min-id copy, which on web data
    routinely discards the clean article and keeps the ad-wrapped mirror.

    Returns (id, component, score, kept) for EVERY input row — the kept
    flag rather than a filtered frame, so callers can audit what a drop
    decision was based on before applying it with ``.filter("kept")``.

    Scale: one extra hash-shuffle by component for the window rank. The
    window partitions by duplicate-cluster id, whose size is bounded by
    the largest near-dup cluster — if a pathological corpus has one giant
    cluster (all rows identical) its rank is computed by a single task,
    same boundary as the groupBy alternative; for real corpora clusters
    are tiny. Singleton docs skip the pairs entirely (left join, NULL →
    own id), so the shuffle carries only (id, component, score) — the
    text never moves.
    """
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    labeled = (
        df.select(F.col(id_col), score.alias("score"))
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
            "score",
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return labeled.withColumn("kept", F.row_number().over(w) == 1)


# --------------------------------------------------------------------------
# full fuzzy-dedup pipeline (exact collapse → LSH → clusters → keep-list)
# --------------------------------------------------------------------------

def dedup_fuzzy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pair_fn=None,
) -> DataFrame:
    """End-to-end near-duplicate removal with LINEAR output: every doc
    labeled (cluster id, is_canonical), one canonical per cluster.

    Order matters at scale: a corpus with exact-dup groups of size g makes
    any all-pairs formulation emit O(g²) rows per group (measured in
    tools/scale_smoke.py: 100k docs with 20-way dup groups → 1M+ pairs,
    300s — the pairs ARE the cost, not the LSH). So collapse exact dups
    FIRST (one hash shuffle, groups of any size become one representative),
    run MinHash-LSH only over distinct contents, cluster the representative
    pairs with connected components, then propagate the representative's
    cluster to its exact copies with one broadcast-sized join.

    ``pair_fn(reps) -> (id_a, id_b, ...)`` defaults to
    ``minhash_lsh_pairs_portable`` at 64 hashes / 16 bands, Jaccard >= 0.7,
    hot buckets capped at 64 (pure candidates → exact-verify, no
    signature prune); pass a lambda to change thresholds/method.
    Output: (id, component, is_canonical) for EVERY input doc.
    """
    pair_fn = pair_fn or (
        lambda reps: minhash_lsh_pairs_portable(
            reps, text_col, id_col, num_hashes=64, bands=16, threshold=0.7,
            max_bucket=64,
        )
    )
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    hashed = df.select(F.col(id_col), h.alias("__h"))
    rep_map = hashed.withColumn("__rep", F.min(id_col).over(w)).select(
        id_col, "__rep"
    )
    reps = df.join(
        rep_map.filter(F.col(id_col) == F.col("__rep")).select(id_col), id_col
    )
    pairs = pair_fn(reps)
    rep_clusters = dedup_clusters(reps, pairs.select("id_a", "id_b"), id_col)
    return (
        rep_map.join(
            rep_clusters.select(
                F.col(id_col).alias("__rep"), F.col("component")
            ),
            "__rep",
        )
        .select(
            id_col,
            "component",
            (F.col(id_col) == F.col("component")).alias("is_canonical"),
        )
    )


# --------------------------------------------------------------------------
# embedding near-dup (portable math: every step reproducible in ANSI SQL)
# --------------------------------------------------------------------------

_Q_SCALE = 1 << 20  # quantization: floor(v * 2^20) — exact in any engine


def _round6_half_up(x: np.ndarray) -> np.ndarray:
    """HALF_UP rounding to 6 decimal places, returned as SCALED floats
    (value × 1e6; divide by 1e6 to reconstruct the rounded double).

    np.round is banker's rounding — never use it for oracle-parity math.
    This floor(|x|·1e6 + 0.5) form matches Spark/DuckDB ROUND on every
    value except doubles whose ·1e6 product lands within one ulp of an
    exact .5 tie (quantized-cosine ratios never produce these in
    practice; the pairs/gemm equivalence tests run on real embeddings).
    Oracle-gated queries stay on the 'pairs' mode, where rounding is
    Spark's own."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5)


def _srp_planes(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes (Rademacher SRP — same LSH guarantees
    as Gaussian planes for sign projections). Small enough to inline as SQL
    literals, so an oracle engine reproduces the EXACT codes."""
    rng = np.random.RandomState(4242)
    return (rng.randint(0, 2, size=(num_planes, dim)) * 2 - 1).tolist()


def quantize_q20(col: Column) -> Column:
    """floor(v·2^20) as int64 per element — the engine-portable vector
    quantization (×2^20 is a power-of-two scale, so the multiply is
    IEEE-exact and floor unambiguous; DuckDB:
    ``CAST(floor(CAST(v[i] AS DOUBLE) * 1048576) AS BIGINT)``)."""

    @F.pandas_udf("array<long>")
    def qz(c: pd.Series) -> pd.Series:
        if len(c) == 0:  # empty Arrow batch: no rows, no vstack crash
            return pd.Series([], dtype=object)
        V = np.vstack(c.to_numpy()).astype(np.float64)
        Q = np.floor(V * _Q_SCALE).astype(np.int64)
        return pd.Series(list(Q))

    return qz(col)


def quantized_cosine_udf(a: Column, b: Column) -> Column:
    """Cosine of two quantized int64 vectors, engine-portable despite the
    numpy execution: the dot and squared norms are int64 sums (exact, so
    summation order is irrelevant — unlike float sums), and the final
    sqrt·mul·div are single correctly-rounded IEEE ops. |q| ≤ 2^20 over
    64 dims keeps every sum under 2^47 — exact in int64 AND in the
    int→double conversion (< 2^53). DuckDB mirror:
    ``list_sum([a[i]*b[i] ...]) / (sqrt(list_sum([a[i]*a[i] ...])) *
    sqrt(list_sum([b[i]*b[i] ...])))``."""

    @F.pandas_udf("double")
    def qcos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:  # empty Arrow batch: no rows, no vstack crash
            return pd.Series(np.empty(0, dtype=np.float64))
        X = np.vstack(xs.to_numpy()).astype(np.int64)
        Y = np.vstack(ys.to_numpy()).astype(np.int64)
        dot = (X * Y).sum(axis=1).astype(np.float64)
        na = np.sqrt((X * X).sum(axis=1).astype(np.float64))
        nb = np.sqrt((Y * Y).sum(axis=1).astype(np.float64))
        return pd.Series(dot / (na * nb))

    return qcos(a, b)


def portable_srp_code(col: Column, num_planes: int = 16, dim: int = 64) -> Column:
    """Engine-portable SRP code: quantize to integers (floor(v·2^20)),
    project on ±1 literal hyperplanes, pack sign bits into a long. All
    integer arithmetic after the one IEEE-exact multiply+floor, so any
    engine reproduces the identical code. One int64 GEMM per Arrow batch.
    """
    planes = np.asarray(_srp_planes(num_planes, dim), dtype=np.int64)

    @F.pandas_udf("long")
    def code_udf(c: pd.Series) -> pd.Series:
        if len(c) == 0:  # empty Arrow batch: no rows, no vstack crash
            return pd.Series(np.empty(0, dtype=np.int64))
        V = np.vstack(c.to_numpy()).astype(np.float64)
        Q = np.floor(V * _Q_SCALE).astype(np.int64)
        bits = (Q @ planes.T) >= 0  # (n, planes) integer GEMM — exact
        weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))
        return pd.Series((bits * weights).sum(axis=1))

    return code_udf(col)


def _portable_srp_banded(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int,
    bands: int,
    dim: int,
):
    """Shared portable-SRP front end: (base, banded) where base = (id, qv
    quantized vector, code) persisted + eagerly populated, banded =
    (id, band, bh) band keys sliced from the packed sign bits. ONE fused
    Arrow pass quantizes and projects (the former separate
    quantize_q20 + portable_srp_code pair floor-quantized the same
    vectors twice); identical integer math, so codes and qv are
    bit-identical to the standalone kernels. Serves the self-join
    pipeline (``embedding_neardup_pairs_portable``) and the cross-corpus
    incremental path (``embedding_neardup_against``)."""
    bits_per_band = num_planes // bands
    mask = (1 << bits_per_band) - 1
    planes = np.asarray(_srp_planes(num_planes, dim), dtype=np.int64)

    @F.pandas_udf("struct<qv: array<long>, code: long>")
    def qv_code_udf(c: pd.Series) -> pd.DataFrame:
        if len(c) == 0:  # empty Arrow batch: no rows, no vstack crash
            return pd.DataFrame(
                {"qv": pd.Series([], dtype=object),
                 "code": pd.Series([], dtype=np.int64)}
            )
        V = np.vstack(c.to_numpy()).astype(np.float64)
        Q = np.floor(V * _Q_SCALE).astype(np.int64)
        bits = (Q @ planes.T) >= 0  # (n, planes) integer GEMM — exact
        weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))
        return pd.DataFrame(
            {"qv": list(Q), "code": (bits * weights).sum(axis=1)}
        )

    base = _materialize(
        _spread(df).select(
            F.col(id_col).alias("id"),
            qv_code_udf(F.col(vec_col)).alias("qc"),
        ).select(
            "id", F.col("qc.qv").alias("qv"), F.col("qc.code").alias("code")
        )
    )
    # populate the cache distributed NOW: otherwise AQE's broadcast-build
    # for the verify joins recomputes the Arrow pass single-threaded
    # before the candidate stage fills the cache
    base.count()
    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("code"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    return base, banded


def embedding_neardup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental EMBEDDING near-dup: matches of a NEW vector batch
    against an EXISTING corpus — the embedding sibling of
    :func:`fuzzy_dedup_against` (and of the exact q65/Bloom q76 text
    paths). Returns one row per new vector with a corpus near-dup:
    ``(new_id, corpus_id, cos)``, the BEST match (max quantized cosine,
    ties → smallest corpus id); anti-join to keep only novel vectors.

    Portable math end-to-end (quantized integers, ±1 literal
    hyperplanes, integer-exact cosine — see
    ``embedding_neardup_pairs_portable``), so the cross-corpus pipeline
    reproduces in a SQL oracle (q117). Candidates come from the
    (band, bh) equi-join of the two banded code tables — never a cross
    product; verify touches survivors only.
    """
    base_n, banded_n = _portable_srp_banded(
        new_df, vec_col, id_col, num_planes, bands, dim
    )
    base_c, banded_c = _portable_srp_banded(
        corpus_df, vec_col, id_col, num_planes, bands, dim
    )
    # skew guard per side (see _cap_band_buckets): dense embedding
    # regions put whole clusters in one SRP band bucket
    banded_n = _cap_band_buckets(banded_n, max_bucket)
    banded_c = _cap_band_buckets(banded_c, max_bucket)
    cand = (
        banded_n.select(F.col("id").alias("new_id"), "band", "bh")
        .join(
            banded_c.select(F.col("id").alias("corpus_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    va = base_n.select(F.col("id").alias("new_id"), F.col("qv").alias("qa"))
    vb = base_c.select(F.col("id").alias("corpus_id"), F.col("qv").alias("qb"))
    pairs = (
        cand.join(va, "new_id")
        .join(vb, "corpus_id")
        .withColumn("cos", F.round(quantized_cosine_udf(F.col("qa"), F.col("qb")), 6))
        .filter(F.col("cos") >= threshold)
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("new_id", "corpus_id", "cos")
    )


def embedding_neardup_pairs_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Sign-random-projection near-dup with every step reproducible in
    ANSI SQL: vectors quantize to integers (floor(v·2^20) — float
    multiplication is IEEE-exact, floor is unambiguous), hyperplanes are
    ±1 literals, so the sign bits are INTEGER comparisons — no float
    summation order to match between engines (integer sums are
    associative; |q|≤2^20 · 64 dims cannot overflow int64). Verify is the
    QUANTIZED cosine over the same integers: int64 dot and norms (exact,
    order-free), then one sqrt·mul·div chain of correctly-rounded IEEE
    ops — so the kernel can run as a vectorized Arrow batch in numpy and
    still match DuckDB's list_sum bit-for-bit (a float sequential fold
    would force interpreted per-element evaluation; measured ~3× slower
    on the candidate set). The one SRP near-dup implementation,
    oracle-checked at two shapes (q38, q52).
    """
    base, banded = _portable_srp_banded(df, vec_col, id_col, num_planes, bands, dim)
    banded = _cap_band_buckets(banded, max_bucket)
    if max_bucket is not None:
        # same shared-subtree pin as minhash_lsh_pairs_portable: the cap
        # window otherwise runs once per self-join side
        banded = _materialize(banded)
        banded.count()
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("qv").alias("qa"))
    vb = base.select(F.col("id").alias("id_b"), F.col("qv").alias("qb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(quantized_cosine_udf(F.col("qa"), F.col("qb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def dedup_against(
    new: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup: keep only rows of ``new`` whose normalized
    content fingerprint does NOT appear in ``existing`` — the daily
    pipeline case (today's crawl vs the already-ingested corpus), the
    batch analog of ``streaming.ingest.streaming_dedup_exact``.

    The existing corpus reduces to DISTINCT fingerprints before the join
    (map-side combine; the fingerprint set is bounded by distinct
    contents, not corpus rows), then a left-anti hash join keyed on the
    16-byte md5 — at 100 TB the fingerprint set is written once and
    reused per increment rather than rescanned.
    """
    seen = existing.select(
        F.md5(normalize_text(F.col(text_col))).alias("__fp")
    ).distinct()
    return (
        new.withColumn("__fp", F.md5(normalize_text(F.col(text_col))))
        .join(seen, "__fp", "left_anti")
        .drop("__fp")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 64,
    threshold: float = 0.95,
    assign: str = "pairs",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding space into clusters, then drop within-cluster semantic
    duplicates, keeping one representative per near-dup group. Returns
    ``(id, cid, is_kept)`` for every input row.

    Portable construction so the WHOLE pipeline reproduces in a SQL
    oracle: centroids are the ``num_centroids`` corpus vectors with the
    smallest md5-derived key (deterministic, seedless — the rule
    ``similarity.ivf_topk_portable`` uses); each vector is assigned to its
    argmax rounded-quantized-integer-cosine centroid (id tiebreak); within
    a cell a vector is dropped iff a SMALLER-id cell mate sits at
    ``cos >= threshold`` — the keep-earliest rule exact dedup uses, made
    deterministic across partitionings.

    Scale: clustering is the point — it bounds the quadratic. The only
    O(cell²) work is the within-cell self-join and E[|cell|] =
    n/num_centroids, so num_centroids grows linearly with the corpus to
    hold the per-cell pair budget flat. The centroid table is
    metadata-scale and broadcast to every stage; the corpus shuffles once
    for the assignment argmax (``max_by`` partial aggregation — the
    broadcast-join fan-out of n×m scored rows collapses map-side, only n
    rows move) and once on cid for the self-join (at 100 TB the
    assignment is written partitioned by cid, making the self-join
    co-located and shuffle-free).

    ``assign='pairs'`` (default) scores each (vector, centroid) pair with
    the same rounded quantized cosine the SQL oracle computes — fully
    differential-testable. ``assign='gemm'`` computes the identical int64
    dots as ONE matmul per Arrow batch against the broadcast centroid
    matrix (exact: all sums < 2^53) — no n×m row fan-out at all, the
    scale kernel for large centroid counts; equivalence-tested against
    'pairs' in tests/test_dedup_text.py. Tie-break parity: HALF_UP
    rounding at 6 places, lowest cid wins.
    """
    if assign not in ("pairs", "gemm"):
        raise ValueError(f"semantic_dedup: unknown assign mode {assign!r}")
    c = df.select(F.col(id_col).alias("id"), quantize_q20(F.col(vec_col)).alias("qv"))
    hk = md5_60(F.col("id").cast("string"))
    cents = (
        c.withColumn("hk", hk)
        .orderBy("hk", "id")
        .limit(num_centroids)
        .select(F.col("id").alias("cid"), F.col("qv").alias("centv"))
    )
    if assign == "pairs":
        ccos = F.round(quantized_cosine_udf(F.col("qv"), F.col("centv")), 6)
        assign_df = (
            c.join(F.broadcast(cents))
            .withColumn("ccos", ccos)
            .groupBy("id")
            .agg(
                # argmax with id tiebreak: max over (ccos asc, -cid asc)
                # structs ≡ highest cosine, then LOWEST cid — partial
                # aggregation collapses the broadcast fan-out map-side
                F.max_by("cid", F.struct(F.col("ccos"), (-F.col("cid")).alias("nc"))).alias("cid"),
                F.first("qv").alias("qv"),
            )
            .select("id", "qv", "cid")
        )
    else:
        cent_rows = sorted(cents.collect(), key=lambda r: r["cid"])  # bounded
        cids_arr = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
        if not cent_rows:
            # empty corpus: empty labeled result, same schema as pairs mode
            # (np.array([]) would be shape-(0,) and crash the axis-1 sum)
            return c.select(
                "id",
                F.lit(None).cast("long").alias("cid"),
                F.lit(True).alias("is_kept"),
            )
        C = np.array([list(r["centv"]) for r in cent_rows], dtype=np.int64)
        cnorm = np.sqrt((C * C).sum(axis=1))  # exact int sums -> one sqrt

        @F.pandas_udf("long")
        def gemm_cell(qv: pd.Series) -> pd.Series:
            if len(qv) == 0:  # empty Arrow batch: no rows, no vstack crash
                return pd.Series(np.empty(0, dtype=np.int64))
            V = np.vstack(qv.to_numpy()).astype(np.int64)
            dots = V @ C.T  # exact in int64 (|q| <= 2^20, d = 64)
            vnorm = np.sqrt((V * V).sum(axis=1))
            cos = dots / (vnorm[:, None] * cnorm[None, :])
            # HALF_UP then first argmax over the cid-ascending centroid
            # order = lowest-cid tiebreak (see _round6_half_up's caveats)
            r6 = _round6_half_up(cos)
            return pd.Series(cids_arr[np.argmax(r6, axis=1)])

        assign_df = c.select("id", "qv", gemm_cell(F.col("qv")).alias("cid"))
    if assign == "pairs":
        a = assign_df.select(F.col("id").alias("id_a"), F.col("qv").alias("qv_a"), "cid")
        b = assign_df.select(F.col("id").alias("id_b"), F.col("qv").alias("qv_b"), "cid")
        dup_ids = (
            a.join(b, "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cos", F.round(quantized_cosine_udf(F.col("qv_a"), F.col("qv_b")), 6)
            )
            .filter(F.col("cos") >= threshold)
            .select(F.col("id_b").alias("id"))
            .distinct()
        )
    else:
        # one blocked cos matrix per cell (applyInPandas) — the SemDeDup
        # paper's per-cluster formulation. Emits each dropped id once;
        # memory is O(block × cell), never cell². r6/1e6 reconstructs the
        # exact double F.round produces (correctly-rounded decimal), so
        # the threshold comparison matches the pairs path bit-for-bit.
        def _cell_drops(pdf: pd.DataFrame) -> pd.DataFrame:
            order = np.argsort(pdf["id"].to_numpy())
            ids = pdf["id"].to_numpy()[order]
            V = np.vstack(pdf["qv"].to_numpy()[order]).astype(np.int64)
            norms = np.sqrt((V * V).sum(axis=1))
            has_smaller = np.zeros(len(ids), dtype=bool)
            for s0 in range(0, len(ids), 1024):
                s1 = min(s0 + 1024, len(ids))
                cos = (V[s0:s1] @ V.T) / (norms[s0:s1, None] * norms[None, :])
                r6 = _round6_half_up(cos) / 1e6
                # NaN (zero-norm vector, 0/0): Spark AND DuckDB order NaN
                # above every value, so the pairs path's `cos >= t`
                # ACCEPTS it — numpy's >= would reject; mirror explicitly
                hit = (r6 >= threshold) | np.isnan(r6)
                # row i (global s0+i) marks columns j > s0+i: j has a
                # smaller-id neighbor at >= threshold
                tri = hit & (
                    np.arange(len(ids))[None, :]
                    > (s0 + np.arange(s1 - s0))[:, None]
                )
                has_smaller |= tri.any(axis=0)
            return pd.DataFrame({"id": ids[has_smaller]})

        dup_ids = assign_df.groupBy("cid").applyInPandas(_cell_drops, "id long")
    return (
        assign_df.join(dup_ids.withColumn("__dup", F.lit(True)), "id", "left")
        .select("id", "cid", F.col("__dup").isNull().alias("is_kept"))
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 15,
) -> DataFrame:
    """Substring-level duplication profile (the exact-substring dedup of
    Lee et al. 2021, arXiv:2107.06499, at word-window granularity): a
    window POSITION is duplicated iff its ``window``-word gram occurs in at
    least 2 distinct documents. Returns one row per document:
    ``(doc_id, total_windows, dup_windows, dup_permille)`` — the signal
    used to drop or trim documents dominated by corpus-repeated spans.
    ``dup_permille`` is an exact integer division (portable bit-for-bit).

    The reference's gram machinery is the compression model's n-gram
    frequency counting (/root/reference/src/tdb_encode_model.c:444-486)
    re-aimed at curation; hashing reuses the portable 60-bit md5 family so
    a SQL oracle reproduces every value.

    Plan shape at 100 TB: grams travel ONLY as (doc_id, hash) pairs —
    never strings; one map-side-combined shuffle collapses them to the
    per-(doc, gram) count table, which is persisted (24 bytes/row,
    distinct-window scale; at deployment write it out partitioned by hash
    instead) and serves all three derived aggregates. The duplicated-gram
    set is bounded by grams that actually repeat across docs; the join
    back is hash-keyed with map-side combined counts on both sides — no
    stage ever shuffles text.
    """
    from .curation import md5_word_ngram_hashes_all

    ex = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id",
        F.explode(md5_word_ngram_hashes_all(F.col(text_col), window)).alias("g"),
    )
    # (doc, gram) -> multiplicity: the only pass over the corpus text;
    # persisted (LRU-evictable) because three aggregates branch off it
    cnt = _materialize(ex.groupBy("id", "g").agg(F.count("*").alias("c")))
    cnt.count()  # fill the cache distributed, once, before the branches
    tot = cnt.groupBy("id").agg(F.sum("c").alias("total_windows"))
    dup = (
        cnt.groupBy("g")
        .agg(F.count("*").alias("nd"))  # rows per gram = distinct docs
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dupw = cnt.join(dup, "g").groupBy("id").agg(F.sum("c").alias("dup_windows"))
    return (
        tot.join(dupw, "id", "left")
        .withColumn("dup_windows", F.coalesce(F.col("dup_windows"), F.lit(0)))
        .select(
            F.col("id").alias(id_col),
            "total_windows",
            "dup_windows",
            F.expr("1000 * dup_windows div total_windows").alias("dup_permille"),
        )
    )


def _bloom_positions(fp: Column, num_bits: int, num_hashes: int) -> Column:
    """``num_hashes`` bit positions for an md5-hex fingerprint via double
    hashing (Kirsch-Mitzenmacher: pos_i = h1 + i*h2 mod m) over the two
    60-bit hex halves of the digest — pure Catalyst, no Python. Safe from
    63-bit overflow for num_hashes <= 8 (h1 + 7*h2 < 2^63)."""
    h1 = F.conv(F.substring(fp, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(fp, 17, 15), 16, 10).cast("long")
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(num_hashes)]
    )


def build_bloom_filter(
    existing: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> np.ndarray:
    """Distributed Bloom-filter build over the existing corpus's distinct
    content fingerprints: positions explode map-side, the bitmap
    aggregates as ``num_bits/64`` longs via ``bit_or`` (map-side
    combined), and only the word table — metadata scale, 2 MB at the
    16M-bit default — ever reaches the driver.

    Sizing at 100 TB: one monolithic filter caps out where the bitmap
    stops broadcasting (~1 G bits / 128 MB covers ~70M distinct docs at
    1% FP with k=4). Beyond that, shard the fingerprint space by digest
    prefix into p independent filters and probe the shard each row's
    prefix selects — same code per shard, co-partitioned by construction.
    """
    fps = existing.select(
        F.md5(normalize_text(F.col(text_col))).alias("fp")
    ).distinct()
    words = (
        fps.select(
            F.explode(_bloom_positions(F.col("fp"), num_bits, num_hashes)).alias("pos")
        )
        .distinct()
        .groupBy(F.expr("pos div 64").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, cast(pos % 64 as int))")).alias("bits"))
    )
    arr = np.zeros(num_bits // 64, dtype=np.uint64)
    for r in words.collect():
        arr[int(r["w"])] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return arr


def bloom_dedup_against(
    new: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    exact: bool = True,
) -> DataFrame:
    """Incremental-ingest dedup through a broadcast Bloom filter — the
    scale path for ``dedup_against`` when the existing-corpus fingerprint
    set is too large to anti-join every increment against in full.

    The filter admits no false negatives, so rows failing ANY probe bit
    are provably new and skip the join entirely; only Bloom HITS (true
    dups + the tunable false-positive sliver) are re-checked. With
    ``exact=True`` (default) hits go through the exact fingerprint
    anti-join — the result is bit-identical to :func:`dedup_against`, but
    the join's probe side shrinks from |new| to |hits|. With
    ``exact=False`` hits are dropped outright (at-most-FP-rate
    over-deletion, zero joins) — the posture streaming pipelines take
    when a second pass over `existing` is not affordable.

    The reference's analog is the page-level inverted index: candidates
    from a compact probe structure, then exact re-check
    (/root/reference/tdbcli/tdb_index.c:559-631).
    """
    bloom = new.sparkSession.sparkContext.broadcast(
        build_bloom_filter(existing, text_col, num_bits, num_hashes)
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
            res &= ((a[(pos >> np.uint64(6)).astype(np.int64)] >> (pos & np.uint64(63)))
                    & np.uint64(1)).astype(bool)
        return pd.Series(res)

    fp_col = F.md5(normalize_text(F.col(text_col)))
    tagged = new.withColumn("__fp", fp_col).withColumn("__hit", bloom_hit(F.col("__fp")))
    misses = tagged.filter(~F.col("__hit"))
    if not exact:
        return misses.drop("__fp", "__hit")
    seen = existing.select(
        F.md5(normalize_text(F.col(text_col))).alias("__fp")
    ).distinct()
    rechecked = tagged.filter(F.col("__hit")).join(seen, "__fp", "left_anti")
    return misses.unionByName(rechecked).drop("__fp", "__hit")


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 15,
) -> DataFrame:
    """Exact-substring dedup REMOVAL (the second half of Lee et al. 2021,
    arXiv:2107.06499 — :func:`duplicated_span_stats` is the profile, this
    is the edit): drop every token covered by at least one duplicated
    ``window``-word gram (a gram is duplicated iff it occurs in ≥ 2
    distinct documents), and rebuild the surviving text in token order.
    Returns ``(doc_id, clean_text, n_tokens, n_removed)`` for every input
    document (fully-duplicated docs come back with ``clean_text = ''``).

    Coverage without a quadratic probe: a dup window starting at token
    position p covers tokens p..p+window-1, so token j is covered iff the
    most recent dup start at or before j is ≥ j-window+1 — a running-max
    over the per-doc position axis. Implemented exactly like the as-of
    join (`operators/joins.py`): union dup-start markers with token rows,
    ONE uuid-style (id) window pass computes "last dup start ≤ here" for
    every token, then one id-keyed aggregate rebuilds the text. All three
    shuffles are linear in token count; nothing is per-doc quadratic, and
    text strings never enter the gram shuffles (grams travel as 60-bit
    md5 hashes, the same portable family the DuckDB oracle recomputes).
    """
    from .curation import md5_word_ngram_hashes_all

    toks = normalize_text(F.col(text_col))
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id",
        F.filter(F.split(toks, " "), lambda t: t != "").alias("__w"),
        md5_word_ngram_hashes_all(F.col(text_col), window).alias("__g"),
    )
    # gram occurrences keyed by hash; zero-token docs contribute a
    # sentinel gram but can't have covered tokens (they emit no token
    # rows). Materialized: dup_grams and dup_starts both branch off it,
    # and re-evaluating means re-running the gram-hash UDF over the
    # corpus (same convention as duplicated_span_stats' count table;
    # token_rows needs only __w, so column pruning drops the UDF there)
    occ = _materialize(base.select("id", F.posexplode("__g").alias("p", "g")))
    occ.count()  # fill the cache distributed, once, before the branches
    dup_grams = (
        occ.select("id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup_starts = occ.join(dup_grams, "g").select(
        "id", F.col("p").alias("pos"), F.lit(0).alias("kind"), F.lit(None).cast("string").alias("tok")
    )
    token_rows = base.select(
        "id", F.posexplode("__w").alias("pos", "tok")
    ).select("id", "pos", F.lit(1).alias("kind"), "tok")
    # markers sort before tokens at the same position: a dup start at p
    # must be visible to token j = p
    w = (
        Window.partitionBy("id")
        .orderBy("pos", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = (
        dup_starts.unionByName(token_rows)
        .withColumn("last_dup", F.max(F.when(F.col("kind") == 0, F.col("pos"))).over(w))
        .filter(F.col("kind") == 1)
        .withColumn(
            "keep",
            F.col("last_dup").isNull() | (F.col("last_dup") <= F.col("pos") - window),
        )
    )
    rebuilt = marked.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("pos", F.when(F.col("keep"), F.col("tok")).alias("t"))
                        )
                    ),
                    lambda s: s["t"].isNotNull(),
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        )
    )


def set_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    feature_col: str,
    max_ids_per_feature: int = 1000,
    min_jaccard_ppm: int = 0,
) -> DataFrame:
    """Generic exact set-similarity self-join: pairwise Jaccard overlap
    (parts-per-million, exact integer arithmetic) between the feature
    SETS of every pair of ids that share at least one feature — the
    machinery under both `curation.source_overlap_matrix` (sources x
    n-gram sets) and `trails.trail_similarity_pairs` (trails x
    behavior-feature sets).

    A feature held by more than ``max_ids_per_feature`` ids is excluded
    EVERYWHERE (pair candidates AND set sizes): each such feature fans
    out O(ids²) candidate rows in the self-join, so the cap is the skew
    guard that bounds the shuffle by ``features x cap²`` — and removing
    it from the sizes too keeps Jaccard consistent (a similarity over
    the non-ubiquitous feature space). The cap is part of the operator's
    semantics, mirrored by the oracles, never a silent truncation.

    Returns ``(id_a, id_b, size_a, size_b, shared, jaccard_ppm)`` with
    ``id_a < id_b``, only pairs with ``shared >= 1`` and
    ``jaccard_ppm >= min_jaccard_ppm``.
    """
    if max_ids_per_feature < 2:
        raise ValueError(
            "set_jaccard_pairs: max_ids_per_feature must be >= 2, "
            f"got {max_ids_per_feature}"
        )
    if not (0 <= min_jaccard_ppm <= 1_000_000):
        raise ValueError(
            "set_jaccard_pairs: min_jaccard_ppm must be in [0, 1e6], "
            f"got {min_jaccard_ppm}"
        )
    from pyspark.sql import Window

    # the capped (id, f) table fans out into THREE consumers (totals and
    # both sides of the pair self-join); unpersisted, each consumer
    # re-ran the corpus scan + distinct shuffle (plan audit: 8-16
    # parquet scans per caller). The ubiquity cap as a count-over-
    # window(f) instead of aggregate+join folds the cap into the same
    # shuffle the distinct needs, and the persisted table keeps its
    # hash(f) partitioning, so the pair self-join on f reads the cache
    # without a further exchange.
    sf = _materialize(
        df.select(F.col(id_col).alias("id"), F.col(feature_col).alias("f"))
        .distinct()
        .withColumn(
            "__n_ids", F.count(F.lit(1)).over(Window.partitionBy("f"))
        )
        .filter(F.col("__n_ids") <= max_ids_per_feature)
        .select("id", "f")
    )
    totals = sf.groupBy("id").agg(F.count(F.lit(1)).alias("n_f"))
    a, b = sf.alias("a"), sf.alias("b")
    shared = (
        a.join(b, (F.col("a.f") == F.col("b.f")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(
            totals.select(F.col("id").alias("id_a"), F.col("n_f").alias("size_a")),
            "id_a",
        )
        .join(
            totals.select(F.col("id").alias("id_b"), F.col("n_f").alias("size_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            "shared",
            F.expr(
                "shared * CAST(1000000 AS BIGINT)"
                " div (size_a + size_b - shared)"
            ).alias("jaccard_ppm"),
        )
    )
    if min_jaccard_ppm > 0:
        out = out.filter(F.col("jaccard_ppm") >= min_jaccard_ppm)
    return out


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003, the MOSS algorithm): from the positional word k-gram
    hash sequence, select the MINIMUM hash of every window of ``w``
    consecutive hashes (leftmost position on ties), dedup the
    selections. Guarantees: any shared substring of at least
    ``k + w - 1`` words produces at least one SHARED fingerprint, and
    fingerprint density is ~2/(w+1) — the local, position-robust
    alternative to MinHash when you need to LOCATE matches, not just
    detect them.

    A document with fewer than ``w`` hashes contributes its single
    global minimum (one fingerprint — never zero: every doc is
    findable). Hashes are the package's 60-bit md5 family
    (`curation.md5_word_ngram_hashes_all`), so the selection is
    engine-portable and fully oracle-checkable.

    Returns distinct ``(doc_id, pos, gram_hash)`` — fingerprint hash
    plus the gram position it anchors (the MOSS match locator).

    Plan shape: one Arrow-batched hash pass (md5 once per DISTINCT gram
    per batch), posexplode, ONE struct-min window pass per doc (the
    lexicographic (h, pos) minimum IS hash-min-with-leftmost-tie),
    distinct. One doc-keyed shuffle; window frames are w-row constants. Whale docs bear the
    usual single-partition window cost.
    """
    from .curation import md5_word_ngram_hashes_all

    if k < 1:
        raise ValueError(f"winnow_fingerprints: k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"winnow_fingerprints: w must be >= 1, got {w}")
    hs = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(md5_word_ngram_hashes_all(F.col(text_col), k)).alias(
            "pos", "h"
        ),
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    wd = Window.partitionBy("doc_id")
    # ONE struct-min pass: lexicographic (h, pos) min over the frame =
    # minimum hash with LEFTMOST position on ties — both engines order
    # structs field-lexicographically, so this is oracle-portable
    located = hs.select(
        "doc_id",
        "pos",
        F.min(F.struct("h", "pos")).over(wf).alias("fp"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    full = located.filter(
        (F.col("pos") >= w - 1) | (F.col("pos") == F.col("n") - 1)
    )
    return full.select(
        "doc_id",
        F.col("fp.pos").alias("pos"),
        F.col("fp.h").alias("gram_hash"),
    ).distinct()


# --------------------------------------------------------------------------
# character-level edit-distance near-dup (Ed-Join family)
# --------------------------------------------------------------------------

def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 6,
    q: int = 3,
) -> DataFrame:
    """All pairs (id_a < id_b) with Levenshtein distance <= max_distance
    on normalized text — the character-level near-dup family (OCR noise,
    single-field edits, template fills) that token/shingle Jaccard and
    MinHash miss when the edit falls inside one token.

    Candidate generation is Ed-Join-style q-gram prefix filtering
    (Xiao, Wang, Lin, VLDB'08): one edit destroys at most ``q`` distinct
    character q-grams, so two strings within edit distance ``d`` have
    gram-SET difference <= q*d on each side; by the prefix-filter theorem
    their prefixes of length q*d + 1 under ANY globally consistent total
    order of the gram universe must intersect. The order used is
    ascending document frequency (rarest grams first) with the gram
    string as tiebreak — deterministic and engine-portable, so the DuckDB
    oracle mirrors the identical pipeline. Completeness edge: a doc with
    <= q*d distinct grams can evade the prefix argument entirely, so
    short docs fall back to a length-bucket band (bucket width d+1;
    |len diff| <= d confines a qualifying pair to the same or adjacent
    bucket) — exhaustive within the short pool only, which is empty for
    any corpus of real documents.

    Verification is exact and engine-side: Spark's banded
    ``levenshtein(a, b, threshold)`` (O(d*n) early-exit) against the
    candidate set only; survivors carry the true distance. Because BOTH
    engines verify exactly, the oracle needs only candidate-COMPLETENESS
    parity, which the mirrored prefix scheme provides.

    100 TB posture: the char-q-gram universe over normalized text is
    bounded (~|alphabet|^q), so the document-frequency table is
    metadata-scale and broadcast; the candidate join keys on each doc's
    RAREST grams (stop-grams never enter a prefix), which is exactly the
    skew story of `ngram_jaccard_pairs`; everything else is equi-join +
    distinct. No gram array is ever cached or shuffled — only
    (id, gram, len) prefix rows move. Reference analog: TrailDB has no
    similarity ops; this extends the §2 LLM-curation surface.
    """
    if max_distance < 1:
        raise ValueError(
            f"edit_distance_pairs: max_distance must be >= 1, got {max_distance}"
        )
    if q < 2:
        raise ValueError(f"edit_distance_pairs: q must be >= 2, got {q}")
    d = int(max_distance)
    prefix_len = q * d + 1

    base = _spread(df).select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("t")
    ).withColumn("l", F.length("t"))

    # distinct char q-grams, JVM-side (guard: sequence(1, n) descends when
    # n < 1, so gate on l >= q explicitly)
    grams_expr = F.when(
        F.col("l") >= q,
        F.array_distinct(
            F.expr(f"transform(sequence(1, l - {q} + 1), i -> substring(t, i, {q}))")
        ),
    ).otherwise(F.array().cast("array<string>"))
    # materialize BEFORE the explode: projection collapse would inline
    # the transform+array_distinct tree into Generate and re-evaluate it
    # once per OUTPUT gram (measured 20x+ on this exact shape — see
    # _materialize) — the array must be born once per doc
    with_grams = _materialize(
        base.select("id", "l", grams_expr.alias("grams")).withColumn(
            "ng", F.size("grams")
        )
    )

    exploded = with_grams.select("id", "l", "ng", F.explode("grams").alias("g"))
    # gram document frequency: bounded-universe aggregate, broadcast back
    gram_df = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = exploded.join(F.broadcast(gram_df), "g")
    wp = Window.partitionBy("id").orderBy("dfc", "g")
    prefix = (
        ranked.filter(F.col("ng") > q * d)
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "l", "g")
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand_prefix = pa.join(
        pb,
        (F.col("pa.g") == F.col("pb.g"))
        & (F.col("pa.id") < F.col("pb.id"))
        & (F.abs(F.col("pa.l") - F.col("pb.l")) <= d),
    ).select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))

    # short-doc completeness band: |len diff| <= d => same or adjacent
    # bucket of width d+1, so joining bucket b to {b, b+1} is exhaustive
    short = with_grams.filter(F.col("ng") <= q * d).select(
        "id", "l", (F.col("l") / (d + 1)).cast("long").alias("bkt")
    )
    sa = short.select("id", "l", F.explode(F.array("bkt", F.col("bkt") + 1)).alias("j"))
    sb = short.select(F.col("id").alias("id_b2"), F.col("l").alias("l_b"), F.col("bkt").alias("j"))
    cand_short = (
        sa.join(sb, sa["j"] == sb["j"])
        .filter((sa["id"] < sb["id_b2"]) & (F.abs(sa["l"] - sb["l_b"]) <= d))
        .select(sa["id"].alias("id_a"), sb["id_b2"].alias("id_b"))
    )

    cands = cand_prefix.unionByName(cand_short).distinct()

    texts = base.select(F.col("id"), F.col("t"))
    verified = (
        cands.join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "ta"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "tb"), "id_b")
        .withColumn("edit_distance", F.expr(f"levenshtein(ta, tb, {d})"))
        .filter(F.col("edit_distance") >= 0)
        .select("id_a", "id_b", F.col("edit_distance").cast("int").alias("edit_distance"))
    )
    return verified


def containment_pairs(
    sub_df: DataFrame,
    super_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup: all (sub, super) pairs where at least
    ``threshold`` of sub's char k-shingles appear in super —
    containment C(A,B) = |A∩B| / |A|. This is the dup class Jaccard
    misses by construction: a quote wrapped in boilerplate, an
    aggregator page embedding a full article, a doc re-published with a
    long appendix — the union term drowns the overlap, but the
    contained side still scores 1.0 here (Broder's resemblance vs
    containment distinction).

    Candidates by prefix filtering on the SUB side only: if
    |A∩B| >= ceil(t*|A|), then under ANY consistent total order A's
    prefix of its |A| - ceil(t*|A|) + 1 smallest grams must contain an
    element of B. The order used is ascending SUPER-side document
    frequency (gram string tiebreak): grams absent from the corpus sort
    FIRST (df 0 — they join nothing, pruning for free) and stop-grams
    sort last, leaving prefixes keyed on rare grams — the PPJoin skew
    story applied to the asymmetric join. The super side explodes its
    full distinct gram set (the inverted-index side — `q85`'s artifact
    shape); exact verify computes |A∩B|/|A| from the same pinned gram
    arrays, so each side is hashed once. Portable md5-60 shingles
    throughout, so the DuckDB oracle runs brute-force and output
    identity proves candidate completeness.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"containment_pairs: threshold must be in (0, 1], got {threshold}"
        )
    if k < 1:
        raise ValueError(f"containment_pairs: k must be >= 1, got {k}")
    # every doc has at least one gram (a doc shorter than k is one
    # whole-doc window), so neither side filters: a filter on the UDF
    # output would be pushed below the round-robin exchange and run the
    # md5 UDF a second time, in the one-task scan stage
    a = _materialize(
        _spread(sub_df).select(
            F.col(id_col).alias("sub_id"),
            md5_shingle_hashes(F.col(text_col), k).alias("ga"),
        ).withColumn("sz", F.size("ga"))
    )
    b = _materialize(
        _spread(super_df).select(
            F.col(id_col).alias("super_id"),
            md5_shingle_hashes(F.col(text_col), k).alias("gb"),
        )
    )
    bp = b.select("super_id", F.explode("gb").alias("g"))
    bdf = bp.groupBy("g").agg(F.count(F.lit(1)).alias("dfc"))
    # prefix length: |A| - ceil(t*|A|) + 1 (>= 1)
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    ap = (
        a.select("sub_id", plen.alias("p"), F.explode("ga").alias("g"))
        .join(bdf, "g", "left")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("sub_id").orderBy(
                    F.coalesce(F.col("dfc"), F.lit(0)), F.col("g")
                )
            ),
        )
        .filter(F.col("rn") <= F.col("p"))
        .select("sub_id", "g")
    )
    cand = (
        ap.join(bp, "g")
        .filter(F.col("sub_id") != F.col("super_id"))
        .select("sub_id", "super_id")
        .distinct()
    )
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    return (
        cand.join(a.select("sub_id", "ga", "sz"), "sub_id")
        .join(b.select("super_id", "gb"), "super_id")
        .withColumn("containment", F.round(inter / F.col("sz").cast("double"), 6))
        .filter(F.col("containment") >= threshold)
        .select(
            "sub_id",
            "super_id",
            F.col("sz").alias("sub_grams"),
            "containment",
        )
    )


def pair_set_metrics(
    pred: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Precision/recall report of one duplicate-pair set against
    another — the evaluation harness that closes the approximate-dedup
    loop: point a candidate pipeline (LSH / SimHash / SRP) at the exact
    pair set on a panel and read recall as a number instead of a hope.

    Pairs are canonicalized (unordered, deduplicated) before counting,
    so orientation and repeats never skew the score. All exact
    integers: ``precision_ppm = 10^6·common div n_pred``, ``recall_ppm
    = 10^6·common div n_truth``, ``f1_ppm = 2·10^6·common div
    (n_pred + n_truth)`` (the 2c/(p+t) identity — one truncating div).
    Empty sides report NULL for their undefined ratio. One row out.

    Scale: two pair-keyed distincts + one pair-keyed join — shuffles
    on the pair key, metadata-scale output.
    """

    def canon(df: DataFrame) -> DataFrame:
        a, b = F.col(id_a), F.col(id_b)
        return df.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        ).distinct()

    # each canonical pair set feeds its own count AND the common join;
    # unpersisted, the (expensive) upstream pair pipelines — LSH
    # candidates+verify on one side, exact all-pairs on the other —
    # executed twice each (plan audit: 10 scans for q182)
    p = _materialize(canon(pred))
    t = _materialize(canon(truth))
    np_ = p.agg(F.count(F.lit(1)).alias("n_pred"))
    nt = t.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = p.join(t, ["a", "b"]).agg(F.count(F.lit(1)).alias("n_common"))
    return (
        np_.crossJoin(nt)
        .crossJoin(nc)
        .select(
            "n_pred",
            "n_truth",
            "n_common",
            F.when(
                F.col("n_pred") > 0,
                F.expr("1000000 * n_common div n_pred"),
            ).alias("precision_ppm"),
            F.when(
                F.col("n_truth") > 0,
                F.expr("1000000 * n_common div n_truth"),
            ).alias("recall_ppm"),
            F.when(
                F.col("n_pred") + F.col("n_truth") > 0,
                F.expr("2000000 * n_common div (n_pred + n_truth)"),
            ).alias("f1_ppm"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ids_per_term: int = 1000,
    min_cosine_ppm: int = 500_000,
) -> DataFrame:
    """Weighted near-duplicate pairs: tf·idf cosine similarity between
    every pair of documents sharing at least one informative term — the
    frequency-weighted sibling of :func:`set_jaccard_pairs` (Jaccard
    treats "the the the breakthrough" and "breakthrough" alike; tf-idf
    cosine ranks by how much DISTINCTIVE vocabulary two docs share).
    Exact integers end to end: weights are ``tf · idf_bits`` with the
    whole-bit idf (``len(bin(N)) − len(bin(df))`` —
    `text.doc_keywords`' integer-log discipline), and the threshold
    evaluates as the cross-multiplied lattice::

        cos ≥ t  ⇔  dot²·10¹²  ≥  t_ppm² · Σw_a² · Σw_b²

    in decimal(38,0) — no sqrt, no float, bit-identical across engines.
    ``cos2_ppm = dot²·10⁶ // (Σw_a²·Σw_b²)`` (SQUARED cosine, ppm) is
    the reported rank score.

    Consistency contract (same as `set_jaccard_pairs`): a term whose
    document frequency exceeds ``max_ids_per_term`` is excluded from
    candidates AND norms — the skew guard that bounds the self-join
    shuffle by ``terms × cap²`` is part of the semantics, mirrored by
    oracles. Zero-idf terms (df > N/2) carry zero weight and are
    dropped wholesale; pairs sharing only those terms have cosine 0
    and cannot pass any positive threshold, so nothing is lost —
    ``min_cosine_ppm`` must therefore be ≥ 1.

    Returns ``(id_a, id_b, dot, norm_a, norm_b, cos2_ppm)`` with
    ``id_a < id_b``.
    """
    from .text import tokens

    if max_ids_per_term < 2:
        raise ValueError(
            "tfidf_cosine_pairs: max_ids_per_term must be >= 2, "
            f"got {max_ids_per_term}"
        )
    if not (1 <= min_cosine_ppm <= 1_000_000):
        raise ValueError(
            "tfidf_cosine_pairs: min_cosine_ppm must be in [1, 1e6], "
            f"got {min_cosine_ppm}"
        )
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = t.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("__n")))
    # document frequency as a count-over-window(term) folds the df cap
    # into the shuffle the old aggregate+join pipeline paid twice, and
    # the persisted weight table feeds THREE consumers (norms and both
    # self-join sides) that each re-ran scan+tokenize+shuffle before
    # (plan audit: 12 parquet scans for one q194 call). The persisted
    # table keeps hash(term) partitioning, so the pair self-join reads
    # the cache without a further exchange.
    w = _materialize(
        tf.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .filter(F.col("__df") <= max_ids_per_term)
        .crossJoin(n_docs)
        .select(
            "id",
            "term",
            (
                F.col("tf")
                * (F.length(F.bin(F.col("__n"))) - F.length(F.bin(F.col("__df"))))
            ).cast("long").alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    dec = "decimal(38,0)"
    j = (
        dots.join(
            norms.select(F.col("id").alias("id_a"), F.col("n2").alias("norm_a")),
            "id_a",
        )
        .join(
            norms.select(F.col("id").alias("id_b"), F.col("n2").alias("norm_b")),
            "id_b",
        )
    )
    d_, na_, nb_ = (
        F.col("dot").cast(dec),
        F.col("norm_a").cast(dec),
        F.col("norm_b").cast(dec),
    )
    t2 = F.lit(int(min_cosine_ppm) ** 2).cast(dec)
    return (
        j.filter(d_ * d_ * F.lit(10**12).cast(dec) >= t2 * na_ * nb_)
        .select(
            "id_a",
            "id_b",
            "dot",
            "norm_a",
            "norm_b",
            F.expr(
                "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
                " div (CAST(norm_a AS DECIMAL(38,0)) * norm_b) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )


# --------------------------------------------------------------------------
# structural near-dup families: truncation prefixes, layout templates
# --------------------------------------------------------------------------

def prefix_dup_groups(
    df: DataFrame,
    n_tokens: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Truncation-duplicate groups: documents sharing their first
    ``n_tokens`` tokens — the crawl pathology exact dedup (q33) misses
    (same page captured at different cut-offs hashes differently) and
    MinHash only catches when the shared prefix dominates the shingle
    set. Standard prefilter in crawl pipelines (RefinedWeb-style
    line/prefix dedup).

    Exact-dedup plan shape: hash the token prefix (md5_60 over the
    space-joined slice — DuckDB mirrors it verbatim), ONE groupBy on the
    uniform 60-bit key, groups of >= 2 out. Docs shorter than the prefix
    still participate (their full token list is the key) so pure clones
    of short docs are caught too. The raw text never shuffles — only
    (id, hash, n) rows do."""
    from ..functions.core import md5_60

    toks = _tokens_of(df, text_col)  # reuse the canonical tokenizer
    pref = df.select(
        F.col(id_col),
        md5_60(
            F.array_join(F.slice(toks, 1, n_tokens), " ")
        ).alias("prefix_hash"),
    )
    w = Window.partitionBy("prefix_hash")
    return (
        pref.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .filter(F.col("group_size") >= 2)
        .select(id_col, "prefix_hash", "group_size", "canonical_id")
    )


def template_signature_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Template families: documents whose token-length SHAPE matches —
    each token reduced to a length class (digit run → 'd', 1-3 letters →
    's', 4-6 → 'm', longer → 'l', else 'p'), the class string hashed.
    Boilerplate generators (error pages, product stubs, mirrors with
    substituted entities) produce distinct texts with identical shapes;
    this is the cheap structural screen that runs BEFORE pairwise
    near-dup, shrinking its candidate space.

    Same one-shuffle exact-dedup plan as prefix_dup_groups: per-doc
    signature via JVM regexp/transform (no Python), groupBy the 60-bit
    hash, emit families of >= 2 with distinct-text counts so pure exact
    clones (same text) rank below true templates (same shape, many
    texts)."""
    from ..functions.core import md5_60

    toks = _tokens_of(df, text_col)
    classes = F.transform(
        toks,
        lambda t: F.when(t.rlike("^[0-9]+$"), F.lit("d"))
        .when(t.rlike("^[A-Za-z]{1,3}$"), F.lit("s"))
        .when(t.rlike("^[A-Za-z]{4,6}$"), F.lit("m"))
        .when(t.rlike("^[A-Za-z]+$"), F.lit("l"))
        .otherwise(F.lit("p")),
    )
    sig = df.select(
        F.col(id_col),
        md5_60(F.array_join(classes, "")).alias("shape_hash"),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("content_hash"),
    )
    grouped = sig.groupBy("shape_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("content_hash").alias("n_distinct_texts"),
        F.min(id_col).alias("canonical_id"),
    )
    return grouped.filter(F.col("group_size") >= 2)


def _tokens_of(df: DataFrame, text_col: str) -> Column:
    """Canonical whitespace tokens (text.tokens) without a circular
    import at module load."""
    from .text import tokens

    return tokens(F.col(text_col))
