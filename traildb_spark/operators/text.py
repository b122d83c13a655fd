"""Text-analysis operators for corpus curation (north-star surface).

Language-ID (stopword-overlap heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting. Every function
is a pure Column expression (whole-stage codegen, no UDF) and each has an
exactly-equivalent ANSI-SQL formulation used by the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalize_text

# Tiny deterministic marker-word sets per language. The corpus fixture is
# synthetic word salad, so this is a *mechanism* demo: real deployments
# swap in proper stopword tables (broadcast join) without changing shape.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "por", "para", "con"],
}

# BPE-ish tokenization: word pieces OR numbers OR single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish regex tokens (letters runs, digit runs, symbols) —
    ``regexp_count`` stays JVM-side."""
    return F.regexp_count(col, F.lit(TOKEN_REGEX))


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: mean word length sanity,
    punctuation ratio, and alpha ratio — the C4/Gopher-style cheap filters.
    Deterministic, SQL-expressible."""
    t = normalize_text(col)
    n_chars = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, r"[^a-z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    n_tokens = token_count(col).cast("double")
    mean_wlen = F.when(n_tokens > 0, n_alpha / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((alpha_ratio + wlen_ok + punct_ok) / F.lit(3.0), 6)


def detect_language(col: Column) -> Column:
    """Stopword-overlap language ID: the language whose marker set hits the
    most tokens; ties broken alphabetically; no hits → 'und'."""
    toks = tokens(col)
    # array_max on structs compares field-by-field: max hits first; rank r
    # is ordered so ties resolve to the alphabetically FIRST language.
    ranked = []
    for i, lang in enumerate(sorted(LANG_MARKERS, reverse=True)):
        hits = F.size(F.filter(toks, lambda t: t.isin(LANG_MARKERS[lang])))
        ranked.append(F.struct(hits.alias("hits"), F.lit(i).alias("r"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*ranked))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def detect_language_vec(col: Column) -> Column:
    """Arrow-batched variant of :func:`detect_language` — identical
    semantics (max marker hits, alphabetical tie-break, 'und' on zero
    hits), one Python pass per batch instead of 4 interpreted array
    filters per row. Verified equal via the q32 DuckDB oracle."""
    import re

    markers = {lang: frozenset(ws) for lang, ws in LANG_MARKERS.items()}
    order = sorted(LANG_MARKERS)
    ws_re = re.compile(r"\s+", re.ASCII)  # mirror Java/RE2 \s (see vectorized._WS)

    @F.pandas_udf("string")
    def lid(s: pd.Series) -> pd.Series:
        out = []
        for t in s:
            toks = [w for w in ws_re.sub(" ", (t or "").lower()).strip().split(" ") if w]
            best_lang, best_hits = "und", 0
            for lang in order:
                m = markers[lang]
                h = sum(1 for w in toks if w in m)
                if h > best_hits:
                    best_hits, best_lang = h, lang
            out.append(best_lang)
        return pd.Series(out)

    return lid(col)


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (stable across
    engines; DuckDB md5() produces the identical hex)."""
    return F.md5(normalize_text(col))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document stats table — the curation feature vector."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars_raw"),
        token_count(c).alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        quality_score(c).alias("quality"),
        detect_language(c).alias("lang_detected"),
        fingerprint(c).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# boilerplate removal (paragraph-level dedup across documents)
# --------------------------------------------------------------------------

def word_chunks(col: Column, n: int = 10) -> Column:
    """Normalized text → array of fixed-size word chunks (the paragraph
    unit for corpora without structural delimiters; pass ``F.split(text,
    '\\n\\n')`` instead when real paragraphs exist)."""
    # filter the ''-token a split of empty text produces: an empty doc
    # must emit NO chunks (an '' "paragraph" occurring min_df times would
    # otherwise become boilerplate and rewrite every empty doc)
    w = F.filter(F.split(normalize_text(col), " "), lambda t: t != "")
    n_chunks = F.ceil(F.size(w) / F.lit(n)).cast("int")
    return F.when(
        F.size(w) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(w, i * n + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def remove_boilerplate(
    df: DataFrame,
    paragraphs: Column,
    id_col: str = "doc_id",
    min_df: int = 2,
    joiner: str = " ",
) -> DataFrame:
    """Drop every paragraph that appears in >= ``min_df`` documents
    (C4/RefinedWeb-style boilerplate removal: headers, footers, cookie
    banners repeat across pages; prose does not), then reassemble each
    document from its surviving paragraphs in order. Documents left with
    no paragraphs drop out entirely.

    Scale shape: the frequency count shuffles only (md5(paragraph)) with
    map-side combine, and the frequent set — boilerplate is by definition
    a small universe — comes back as a broadcast anti-join, so the corpus
    itself is never shuffled to be cleaned. Counting is per-document
    (distinct within doc) so a paragraph repeated inside ONE document is
    not boilerplate.
    """
    base = df.select(
        F.col(id_col), F.posexplode(paragraphs).alias("pos", "para")
    ).withColumn("ph", F.md5("para"))
    freq = (
        base.select(id_col, "ph")
        .distinct()
        .groupBy("ph")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
        .filter(F.col("df_cnt") >= min_df)
        .select("ph")
    )
    kept = base.join(F.broadcast(freq), "ph", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                joiner,
            ).alias("clean_text")
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of tokens
    taken by the single most frequent word, the repeated-word fraction
    (1 - distinct/total), and the repeated-2-gram fraction. High values
    flag degenerate/boilerplate text that length or stopword ratios miss.

    One Arrow-batched numpy kernel per batch (unique+counts); a pure
    Catalyst mode() per row would be an interpreted O(distinct·n)
    higher-order expression. Values round to 6dp and match the DuckDB
    list-function oracle exactly.
    """
    from .dedup import normalize_text

    @F.pandas_udf("struct<top_word_frac:double,dup_word_frac:double,dup_2gram_frac:double>")
    def rep(s: pd.Series) -> pd.DataFrame:
        import numpy as np

        top, dupw, dupg = [], [], []
        for t in s:
            words = [w for w in (t or "").split(" ") if w]
            n = len(words)
            if n == 0:
                top.append(0.0); dupw.append(0.0); dupg.append(0.0)
                continue
            _, counts = np.unique(words, return_counts=True)
            top.append(float(counts.max()) / n)
            dupw.append(1.0 - len(counts) / n)
            if n >= 2:
                grams = [f"{words[i]} {words[i+1]}" for i in range(n - 1)]
                dupg.append(1.0 - len(set(grams)) / len(grams))
            else:
                dupg.append(0.0)
        return pd.DataFrame(
            {"top_word_frac": top, "dup_word_frac": dupw, "dup_2gram_frac": dupg}
        )

    st = rep(normalize_text(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.round(st["top_word_frac"], 6).alias("top_word_frac"),
        F.round(st["dup_word_frac"], 6).alias("dup_word_frac"),
        F.round(st["dup_2gram_frac"], 6).alias("dup_2gram_frac"),
    )


def top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k distinctive terms ranked by tf/df — the TF-IDF
    idea with the idf log dropped so every score is ONE IEEE division of
    two exact integers (bit-identical in any engine; log(N/df) ranks
    identically but its libm ulps aren't portable).

    Plan shape at 100 TB: explode is map-side; term frequencies aggregate
    with map-side combine on (doc, term); document frequencies are a
    vocabulary-scale aggregate of that same table (no second corpus
    scan); the tf⋈df join broadcasts the vocabulary-sized df side so the
    corpus-sized tf table never re-shuffles onto term; one final shuffle
    ranks per doc. Ties break on the term string, so top-k is
    deterministic.
    """
    t = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.round(F.col("tf").cast("double") / F.col("df"), 6)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    # broadcast the vocabulary-sized df table so tf (corpus-sized) is never
    # re-shuffled onto term; for a vocabulary too big to broadcast, drop the
    # hint and AQE falls back to a shuffle join on term
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# Conservative, RE2-and-Java-portable PII patterns (no backrefs, no
# lookaround). Redaction order is fixed: emails first (they contain
# digits), then IPv4, then bare digit runs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("number", r"[0-9]{2,}", "<NUM>"),
]


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed",
) -> DataFrame:
    """Count and redact PII-shaped spans (emails, IPv4s, digit runs).

    Counts are taken on the ORIGINAL text per class; redaction applies the
    patterns in ``PII_PATTERNS`` order so an email's digits are consumed by
    ``<EMAIL>`` before the digit-run pass. Pure ``regexp_count`` /
    ``regexp_replace`` column expressions — whole-stage codegen, zero
    Python, trivially parallel at any scale.
    """
    out = df
    scrubbed = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn(out_col, scrubbed)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    arXiv:2112.11446 Appendix A1.1) as one declarative projection — the
    standard pre-training document gate, kept as FLAGS per rule so
    downstream pipelines can tune thresholds without re-scanning:

    1. 50 <= word count <= 100,000
    2. 3 <= mean word length <= 10
    3. symbol-to-word ratio ('#' or '...') < 0.1
    4. < 90% of lines start with a bullet
    5. < 30% of lines end with an ellipsis
    6. > 80% of words contain at least one alphabetic character
    7. at least 2 distinct required stopwords present

    Word rules run on whitespace tokens of the normalized text (the
    corpus-wide convention); LINE rules run on the RAW text's newlines
    (normalization collapses them). Pure Catalyst — one scan, zero
    shuffles, every ratio an exact integer division reproducible in SQL.
    """
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    sum_wlen = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_wlen = F.when(n_words > 0, sum_wlen.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    # tokens CONTAINING the symbol, not equal to it: '##'/'#tag' headers
    # are exactly what the hash-symbol rule exists to catch
    n_symbols = (
        F.size(F.filter(toks, lambda t: t.contains("#")))
        + F.size(F.filter(toks, lambda t: t.contains("...")))
    )
    symbol_ratio = F.when(n_words > 0, n_symbols.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_frac = F.when(n_words > 0, alpha_words.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(toks, s),
        )
    )
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), F.trim), lambda l: l != ""
    )
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        ).cast("double")
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("double")
        / n_lines,
    ).otherwise(F.lit(0.0))

    rule_words = (n_words >= 50) & (n_words <= 100_000)
    rule_wlen = (mean_wlen >= 3.0) & (mean_wlen <= 10.0)
    rule_symbol = symbol_ratio < 0.1
    rule_bullet = bullet_frac < 0.9
    rule_ellipsis = ellipsis_frac < 0.3
    rule_alpha = alpha_frac > 0.8
    rule_stop = stop_hits >= 2
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("n_stopword_kinds"),
        (
            rule_words
            & rule_wlen
            & rule_symbol
            & rule_bullet
            & rule_ellipsis
            & rule_alpha
            & rule_stop
        ).alias("passes_gopher"),
    )


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average self-information under the corpus's own
    unigram model — the perplexity-style quality signal (CCNet, Wenzek et
    al. 2020, uses an external LM; this is the model-free analog): rare
    -word-heavy documents score high, templated/common-word documents
    score low. Information is integerized to WHOLE BITS via binary-digit
    count — ``bits(w) = len(bin(total)) - len(bin(count_w))`` ≈
    ``floor(log2(total)) - floor(log2(count_w))`` — so every score is
    exact integer arithmetic, reproducible bit-for-bit in any engine
    (``log``'s libm ulps don't travel; same discipline as
    :func:`top_terms`). Returns ``(doc_id, n_tokens, surprisal_bits,
    millibits_per_token)``.

    Plan shape at 100 TB: term frequencies combine map-side on
    (doc, term); the unigram model is a vocabulary-scale aggregate OF that
    table (no second corpus scan) and broadcasts together with the 1-row
    corpus total, so the corpus-sized tf table never re-shuffles onto
    term; one final doc-keyed shuffle sums the weighted bits.
    """
    from .dedup import _materialize

    t = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # tf feeds the vocabulary aggregate AND the scored join; without a
    # persist boundary each consumer re-ran the corpus tokenize+explode+
    # (doc,term) shuffle. The aggregated tf rows are far smaller than
    # the exploded token stream; MEMORY_AND_DISK spills at scale.
    tf = _materialize(t.groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    bits = F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("cnt")))
    scored = (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * bits).alias("surprisal_bits"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("surprisal_bits"), F.lit(0)).alias("surprisal_bits"),
            F.expr(
                "CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0 "
                "ELSE 1000 * surprisal_bits div n_tokens END"
            ).alias("millibits_per_token"),
        )
    )


END_OF_WORD = "</w>"


def _merge_pair_udf(a: str, b: str):
    """Arrow kernel applying ONE merge (a,b)->ab left-to-right without
    overlap — the standard BPE replacement — to each symbol array."""

    @F.pandas_udf("array<string>")
    def merge_pair(col: pd.Series) -> pd.Series:
        out = []
        for sy in col:
            sy = list(sy)
            res, i = [], 0
            while i < len(sy):
                if i < len(sy) - 1 and sy[i] == a and sy[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(sy[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return merge_pair


def learn_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_count: int = 2,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Learn a byte-pair-encoding merge table (Sennrich et al. 2016,
    arXiv:1508.07909) over the corpus — the token-level analog of the
    reference's compression model, which likewise mines frequency-counted
    bigrams over (optionally sampled) data to build its codebook
    (/root/reference/src/tdb_encode_model.c:344-446, sampling :24-27 —
    ``sample_fraction`` mirrors that 10%-above-1M-events policy for
    100 TB corpora).

    The scalable structure: BPE statistics depend only on the DISTINCT
    -word frequency table, so the corpus is scanned and shuffled exactly
    ONCE (map-side-combined word count); every one of the ``num_merges``
    rounds then runs at vocabulary scale — explode adjacent symbol pairs
    weighted by word count, map-side-combined pair aggregate, and only
    the single argmax row (count desc, then lexicographic pair — fully
    deterministic) reaches the driver. The merge is a narrow Arrow map
    over the vocab; per-round ``localCheckpoint`` cuts the iterative
    lineage exactly as connected_components does.

    Returns the merge table: ``(rank, left, right, merged, pair_count)``.
    """
    base = df
    if sample_fraction < 1.0:
        base = df.sample(fraction=sample_fraction, seed=13)
    wf = (
        base.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = wf.select(
        "cnt",
        F.concat(F.split(F.col("w"), ""), F.array(F.lit(END_OF_WORD))).alias("syms"),
    ).localCheckpoint()

    # guard size==1: sequence(1, 0) DESCENDS in Spark rather than being empty
    pair_expr = F.expr(
        "CASE WHEN size(syms) > 1 THEN "
        "  transform(sequence(1, size(syms) - 1), "
        "            i -> struct(syms[i-1] AS a, syms[i] AS b)) "
        "ELSE cast(array() AS array<struct<a:string,b:string>>) END"
    )
    merges: list[tuple] = []
    for rank in range(num_merges):
        top = (
            vocab.select("cnt", F.explode(pair_expr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < min_count:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((rank, a, b, a + b, c))

        vocab = vocab.withColumn(
            "syms", _merge_pair_udf(a, b)(F.col("syms"))
        ).localCheckpoint()
    return df.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )


def apply_bpe(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment each document with a learned merge table: per word, apply
    the merges in RANK order (the standard greedy BPE encoder), emitting
    ``(id, bpe_tokens array<string>, n_bpe_tokens)``. The merge table is
    metadata-scale and rides a plain broadcast; encoding is a narrow
    Arrow map over the corpus — zero shuffles."""
    ranked = [
        (r["left"], r["right"]) for r in merges.orderBy("rank").collect()
    ]
    bc = df.sparkSession.sparkContext.broadcast(ranked)

    @F.pandas_udf("array<string>")
    def encode(col: pd.Series) -> pd.Series:
        pairs = bc.value
        from ..functions.vectorized import _pynorm

        cache: dict = {}

        def enc_word(w: str) -> list:
            if w in cache:
                return cache[w]
            sy = list(w) + [END_OF_WORD]
            for a, b in pairs:
                res, i = [], 0
                while i < len(sy):
                    if i < len(sy) - 1 and sy[i] == a and sy[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(sy[i])
                        i += 1
                sy = res
            cache[w] = sy
            return sy

        out = []
        for t in col:
            words = [w for w in _pynorm(t or "").split(" ") if w]
            toks: list = []
            for w in words:
                toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        encode(F.col(text_col)).alias("bpe_tokens"),
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens"))


def cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Collocation extraction: adjacent word-bigram counts scored by
    whole-bit pointwise mutual information —
    ``pmi_bits ≈ log2(P(xy) / (P(x)·P(y)))`` integerized via binary digit
    counts (``bits(c_xy) + bits(N) - bits(c_x) - bits(c_y)``, each term a
    plain bit_length ≤ 63) so the score is bit-portable across engines
    and never overflows, unlike the product form ``bits(c_xy·N)``.

    Scale: bigrams are derived with a zero-shuffle narrow map
    (``zip_with`` over two slices of the token array — no window, no
    posexplode self-join); one map-side-combined aggregate each for
    bigram and unigram counts (vocab- and vocab-pair-sized outputs, never
    event-sized); unigram counts join back in twice keyed on the words.
    ``min_count`` prunes the bigram tail BEFORE the joins, which is what
    bounds the join input at 100 TB (the distinct-bigram universe is
    dominated by count-1 pairs).

    Returns ``(w1, w2, pair_count, pmi_bits)``.
    """
    w = tokens(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    base = df.select(w.alias("__w"), bigrams.alias("__b"))
    from .dedup import _materialize

    # uni feeds BOTH marginal joins, and the bigram aggregate feeds the
    # min_count survivors AND the pre-filter total (Σ pair_count ==
    # Σ size(__b)) — unpersisted, the corpus tokenize ran once per
    # consumer (plan audit: 4 scans for q82). Pinned tables are vocab-/
    # bigram-aggregate-sized; two corpus passes remain.
    uni = _materialize(
        base.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bc = _materialize(
        base.select(F.explode("__b").alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    bi = bc.filter(F.col("pair_count") >= min_count)
    n_total = bc.agg(
        F.coalesce(F.sum("pair_count"), F.lit(0)).alias("n")
    )

    def bits(c: Column) -> Column:
        return F.length(F.bin(c.cast("long")))

    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("cnt").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cnt").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            "pair_count",
            (
                bits(F.col("pair_count")) + bits(F.col("n"))
                - bits(F.col("c1")) - bits(F.col("c2"))
            ).cast("long").alias("pmi_bits"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval index build: one posting row per (term, doc) with term
    frequency and 1-based token positions — the classic inverted index in
    its exploded (shardable) form. Emitting postings as rows rather than
    one giant list per term is deliberate: a posting LIST for a stop-term
    is corpus-sized (unbounded row), while posting ROWS partition freely
    and sort/merge by (term, doc_id) at any scale.

    One posexplode (narrow) + one map-side-combined aggregate keyed on
    (term, doc_id). Positions within one doc are bounded by doc length,
    so the per-row ``positions`` string is bounded too.

    Returns ``(term, doc_id, tf, first_pos, positions)``.
    """
    toks = tokens(F.col(text_col))
    posting = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    return posting.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.min("pos").cast("long").alias("first_pos"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("pos")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("positions"),
    )


def clean_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-side text hygiene: Unicode NFC normalization, control-char
    removal (C0 + DEL), whitespace collapse, trim — the standard first
    stage of a web-corpus pipeline. Returns ``(id, clean_text,
    n_chars_removed)``.

    NFC is the ONLY step that needs Python (Spark has no normalization
    builtin): an Arrow-batched ``pandas.Series.str.normalize`` — C-loop
    per batch, no per-row Python. Everything after runs in Catalyst so
    codegen fuses it with the surrounding plan. Mostly-ASCII corpora pay
    almost nothing for NFC (pandas short-circuits per string); the DuckDB
    oracle reproduces every step (``nfc_normalize`` + the same regexes),
    so the op is differentially checked end-to-end.
    """
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.fillna("").str.normalize("NFC")

    normalized = nfc(F.col(text_col))
    # control chars become SPACES (then collapse): deleting them outright
    # would glue the words around a newline/tab into one fabricated token
    stripped = F.regexp_replace(
        normalized, "[\\x00-\\x1f\\x7f]", " "
    )
    collapsed = F.trim(F.regexp_replace(stripped, " +", " "))
    return df.select(
        F.col(id_col),
        collapsed.alias("clean_text"),
        (
            F.length(F.coalesce(F.col(text_col), F.lit("")))
            - F.length(collapsed)
        ).cast("long").alias("n_chars_removed"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents per query — the retrieval
    operator a training-data pipeline needs for decontamination probes,
    eval-set mining, and hard-negative selection, built on the same
    tokenizer as :func:`inverted_index`.

    ENGINE-PORTABLE scoring (the module's whole-bit discipline): the
    Robertson idf is integerized to whole bits,
    ``idf_bits(t) = len(bin(N)) - len(bin(df_t))``, and the tf
    saturation uses k1 = 1.2, b = 0.75 as exact integer rationals with
    the document-length ratio rounded to thousandths:

        r       = (1000 * dl * N) div L          -- dl/avgdl in 1/1000s
        contrib = (idf_bits * 22000 * tf) div (10000*tf + 3000 + 9*r)
        score   = Σ contrib over matched distinct query terms

    Every step is int64 arithmetic (bounded: idf ≤ 63 bits, so the
    numerator stays < 2^60 for tf < 10^9), so a SQL oracle reproduces
    scores bit-for-bit — no libm log, no float summation order. Ranking
    is rank-faithful to classic BM25 up to the whole-bit idf and the
    1/1000 length-ratio granularity (both documented, deterministic).

    Scale: the tf table combines map-side on (doc, term); df/N/L are
    vocabulary- and 1-row-scale broadcasts; query terms (tiny) broadcast
    into the tf join, so the only corpus-sized shuffles key on (doc,
    term) and (query, doc). The final top-k is a per-query window —
    fine for the normal "many docs, few queries" shape; route through
    ``curation.top_k_global`` per query if a stop-word query ever makes
    one query's candidate set dominate. Returns ``(query_id, doc_id,
    score, rank)``.
    """
    from .dedup import _materialize

    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # the tf table fans out into FOUR consumers (dl, df, corpus stats,
    # and the query-term match join); without a persist boundary each
    # consumer re-runs the corpus tokenize+explode+shuffle from the scan
    # (plan audit: five `Scan parquet -> Generate` subtrees — the
    # Filter/projection variants defeat ReusedExchange). Pinning the
    # aggregated (doc, term, tf) rows — far smaller than the exploded
    # token stream — makes the corpus-scale tokenize+shuffle run once.
    tf = _materialize(
        t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    q_terms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(F.col(query_text_col))).alias("term"),
    ).distinct()
    idf_bits = F.length(F.bin(F.col("n_docs"))) - F.length(F.bin(F.col("df")))
    r = F.expr("(1000 * dl * n_docs) div total_len")
    contrib = F.expr(
        "(idf_bits * 22000 * tf) div (10000 * tf + 3000 + 9 * r)"
    )
    scored = (
        # query terms: genuinely tiny, hard broadcast. The df table is
        # VOCABULARY-scale (web corpora push it past broadcast range) —
        # no hint, AQE decides; after the q_terms semi-restriction the
        # surviving df rows are query-term-sized anyway.
        tf.join(F.broadcast(q_terms), "term")
        .join(dft, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_bits", idf_bits)
        .withColumn("r", r)
        .withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").cast("long").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def trigram_backoff_surprisal(
    df: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document trigram self-information under STUPID BACKOFF
    (Brants et al. 2007, "Large Language Models in Machine Translation")
    — the LM-quality signal one step past :func:`bigram_surprisal`, and
    the first of the family that scores against a SEPARATE model corpus
    (``model_df``; defaults to ``df``): when the model is held out,
    unseen trigrams genuinely back off, which is the whole point of the
    scheme. Backoff chain per trigram (w1 w2 w3):

    * seen trigram:   bits(count(w1 w2)) − bits(count(w1 w2 w3))
    * else seen (w2 w3): 1322 millibits + [bits(count(w2)) − bits(count(w2 w3))]·1000
    * else seen w3:   2644 + [bits(N) − bits(count(w3))]·1000
    * unknown w3:     2644 + [bits(N) − 1]·1000  (count clamped to 1)

    1322 millibits ≈ log2(1/0.4) per backoff level, integerized so the
    whole score is exact int64 (bits = binary-digit count, the
    engine-portable whole-bit discipline of the surprisal family — no
    libm log anywhere). Returns ``(doc_id, n_trigrams,
    surprisal_millibits, millibits_per_trigram)``.

    Plan shape: zip_with builds in-document trigrams with zero shuffle;
    model n-gram tables combine map-side; the five model joins carry NO
    broadcast hint — n-gram models are corpus-scale at 100 TB, so AQE
    must pick broadcast vs shuffle per actual size (same reasoning as
    the bigram model)."""
    BACKOFF_MILLIBITS = 1322  # ceil(1000·log2(2.5))
    model_df = df if model_df is None else model_df

    def ngrams(d: DataFrame, n: int):
        ws = tokens(F.col(text_col))
        if n == 1:
            out = ws
        else:
            cut = F.greatest(F.size(ws) - (n - 1), F.lit(0))
            parts = [F.slice(ws, i + 1, cut) for i in range(n)]
            out = parts[0]
            for p in parts[1:]:
                out = F.zip_with(
                    out, p, lambda a, b: F.concat(a, F.lit(" "), b)
                )
        return d.select(
            F.col(id_col).alias("doc_id"), F.explode(out).alias("g")
        )

    # the three model tables (unigram/bigram/trigram counts) used to be
    # three separate corpus passes, and uni fans out into three
    # consumers (two backoff joins + the N total) — eight model scans
    # per call in the plan audit. One TAGGED explode builds all three
    # gram streams from a single scan (shuffle volume is unchanged: the
    # same grams move, keyed (n, g) instead of three separate keys), and
    # the persisted distinct-gram count table serves every consumer.
    from .dedup import _materialize

    def tagged_ngram_arrays(d: DataFrame):
        ws = tokens(F.col(text_col))
        outs = []
        for n in (1, 2, 3):
            if n == 1:
                out = ws
            else:
                cut = F.greatest(F.size(ws) - (n - 1), F.lit(0))
                parts = [F.slice(ws, i + 1, cut) for i in range(n)]
                out = parts[0]
                for p in parts[1:]:
                    out = F.zip_with(
                        out, p, lambda a, b: F.concat(a, F.lit(" "), b)
                    )
            # single-arg lambda via factory: a two-arg transform lambda
            # would receive the ELEMENT INDEX as its second argument
            def _tag(_n):
                return lambda g: F.struct(F.lit(_n).alias("n"), g.alias("g"))

            outs.append(F.transform(out, _tag(n)))
        return d.select(
            F.explode(F.concat(*outs)).alias("ng")
        ).select(F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))

    model = _materialize(
        tagged_ngram_arrays(model_df)
        .groupBy("n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = model.filter(F.col("n") == 1).select(
        F.col("g").alias("w"), F.col("c").alias("c1")
    )
    big = model.filter(F.col("n") == 2).select(
        F.col("g").alias("b"), F.col("c").alias("c2")
    )
    tri = model.filter(F.col("n") == 3).select(
        F.col("g").alias("t"), F.col("c").alias("c3")
    )
    n_total = uni.agg(F.sum("c1").alias("__N"))  # 1-row broadcast total

    tf = ngrams(df, 3).groupBy("doc_id", F.col("g").alias("t")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    parts = tf.select(
        "doc_id",
        "t",
        "tf",
        F.concat_ws(
            " ",
            F.split_part(F.col("t"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("t"), F.lit(" "), F.lit(2)),
        ).alias("bg12"),
        F.concat_ws(
            " ",
            F.split_part(F.col("t"), F.lit(" "), F.lit(2)),
            F.split_part(F.col("t"), F.lit(" "), F.lit(3)),
        ).alias("bg23"),
        F.split_part(F.col("t"), F.lit(" "), F.lit(2)).alias("w2"),
        F.split_part(F.col("t"), F.lit(" "), F.lit(3)).alias("w3"),
    )
    j = (
        parts.join(tri, parts["t"] == tri["t"], "left")
        .drop(tri["t"])
        .join(big.withColumnRenamed("c2", "c_bg12"), parts["bg12"] == big["b"], "left")
        .drop("b")
        .join(
            big.withColumnRenamed("c2", "c_bg23").withColumnRenamed("b", "b2"),
            parts["bg23"] == F.col("b2"),
            "left",
        )
        .drop("b2")
        .join(uni.withColumnRenamed("c1", "c_w2"), parts["w2"] == uni["w"], "left")
        .drop("w")
        .join(
            uni.withColumnRenamed("c1", "c_w3").withColumnRenamed("w", "wb"),
            parts["w3"] == F.col("wb"),
            "left",
        )
        .drop("wb")
        .crossJoin(F.broadcast(n_total))
    )
    bits = lambda c: F.length(F.bin(c))  # noqa: E731
    mb = (
        F.when(
            F.col("c3").isNotNull(),
            1000 * (bits(F.col("c_bg12")) - bits(F.col("c3"))),
        )
        .when(
            F.col("c_bg23").isNotNull(),
            BACKOFF_MILLIBITS
            + 1000 * (bits(F.col("c_w2")) - bits(F.col("c_bg23"))),
        )
        .when(
            F.col("c_w3").isNotNull(),
            2 * BACKOFF_MILLIBITS
            + 1000 * (bits(F.col("__N")) - bits(F.col("c_w3"))),
        )
        .otherwise(
            2 * BACKOFF_MILLIBITS + 1000 * (bits(F.col("__N")) - F.lit(1))
        )
    )
    scored = j.groupBy("doc_id").agg(
        F.sum(F.col("tf") * mb).alias("surprisal_millibits"),
        F.sum("tf").alias("n_trigrams"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            F.coalesce(F.col("surprisal_millibits"), F.lit(0)).alias(
                "surprisal_millibits"
            ),
            F.expr(
                "CASE WHEN coalesce(n_trigrams, 0) = 0 THEN 0 "
                "ELSE surprisal_millibits div n_trigrams END"
            ).alias("millibits_per_trigram"),
        )
    )


def bigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average CONDITIONAL self-information under the
    corpus's own bigram model -- the next step up from
    :func:`unigram_surprisal` toward an LM-based quality score: a
    document full of common words in UNUSUAL order (word salad,
    shuffled boilerplate) scores high here while scoring low on the
    unigram signal. bits(w2 | w1) = bits_count(ctx w1) -
    bits_count(bigram w1,w2), integerized to whole bits via
    binary-digit counts (same engine-portable discipline as
    :func:`unigram_surprisal` -- no libm log). The first token of each
    document has no context and contributes nothing. Returns
    ``(doc_id, n_bigrams, surprisal_bits, millibits_per_bigram)``.

    Plan shape: one zip_with produces in-document adjacent bigrams with
    ZERO shuffle (the q82 PMI pattern); (doc, bigram) counts combine
    map-side. Unlike the unigram model (bounded by real vocabulary),
    the BIGRAM model grows with the corpus -- distinct adjacent pairs
    are not metadata-scale at 100 TB -- so the model and context joins
    carry NO broadcast hint: AQE broadcasts when they fit and falls
    back to bg-/w1-keyed shuffle joins when they don't (a hard
    broadcast here would be a driver OOM, the anti-pattern
    ``unigram_surprisal`` legitimately uses).
    """
    ws = tokens(F.col(text_col))
    pairs = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    t = df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("bg")
    )
    from .dedup import _materialize

    # tf feeds the model aggregate AND the scored join, and model feeds
    # the context aggregate AND the scored join — unpersisted, the
    # corpus tokenize+zip_with+explode ran once per consumer (plan
    # audit: 4 scans for q107). Both tables are far smaller than the
    # exploded bigram stream.
    tf = _materialize(t.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("tf")))
    model = _materialize(tf.groupBy("bg").agg(F.sum("tf").alias("cnt")))
    ctx = model.groupBy(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("cnt").alias("ctx_cnt"))
    bits = F.length(F.bin(F.col("ctx_cnt"))) - F.length(F.bin(F.col("cnt")))
    scored = (
        tf.join(model, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * bits).alias("surprisal_bits"),
            F.sum("tf").alias("n_bigrams"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("surprisal_bits"), F.lit(0)).alias("surprisal_bits"),
            F.expr(
                "CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0 "
                "ELSE 1000 * surprisal_bits div n_bigrams END"
            ).alias("millibits_per_bigram"),
        )
    )


def source_divergence(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source token-distribution divergence from the REST of the
    corpus, as exact total-variation distance -- the curation signal that
    ranks sources by how much their vocabulary usage deviates from
    everything else (a crawl slice gone boilerplate-heavy, a source
    whose language mix shifted), sibling of
    :func:`~..operators.analytics.distribution_drift` on the text axis.

    For source s with unigram counts ``cnt_w`` (total ``tot_s``) and
    rest-of-corpus counts ``rest_w = wtot_w - cnt_w`` (total ``tot_r``)::

        TVD(s) = 1/2 * sum_w | cnt_w/tot_s - rest_w/tot_r |

    The sum runs over the UNION vocabulary, but a token absent from s
    contributes exactly ``rest_w * tot_s`` to the cross-multiplied
    numerator, so the whole absent-token mass folds into the closed form
    ``(tot_r - sum_{w in s} rest_w) * tot_s`` -- the plan only ever
    materializes (source, token) pairs that EXIST, never the
    sources x vocabulary grid. Exact decimal(38,0) integer arithmetic
    end to end (the ``distribution_drift`` discipline): ``tvd_ppm`` is
    bit-identical across engines/partitionings, bounded by 1e6, NULL
    when s is the whole corpus (tot_r = 0).

    Plan shape: one explode scan; groupBy(source, token) with map-side
    combine; token-keyed join for corpus counts (AQE-decided -- vocab is
    NOT assumed broadcastable at 100 TB); then two metadata-scale
    broadcasts (per-source totals, single-row corpus total) and a final
    groupBy(source). Nothing after the explode is event-sized.
    """
    tok = df.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    )
    from .dedup import _materialize

    # sc feeds the corpus counts AND the pair join; pairs feeds the
    # per-source totals AND the final TVD aggregate — unpersisted, each
    # consumer re-ran the corpus tokenize+explode+shuffle (plan audit:
    # 5 scans for q122). Both tables are (source, token)-aggregate-sized.
    sc = _materialize(
        tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = sc.groupBy("w").agg(F.sum("cnt").alias("wtot"))
    pairs = _materialize(sc.join(wc, "w"))
    per_src = pairs.groupBy("source").agg(
        F.sum("cnt").alias("tot_s"),
        F.sum(F.col("wtot") - F.col("cnt")).alias("rest_seen"),
    )
    total_row = wc.agg(F.sum("wtot").alias("total"))
    totals = F.broadcast(
        per_src.crossJoin(F.broadcast(total_row)).select(
            "source",
            "tot_s",
            "rest_seen",
            (F.col("total") - F.col("tot_s")).alias("tot_r"),
        )
    )
    dec = "decimal(38,0)"
    ca = F.col("cnt").cast(dec)
    cr = (F.col("wtot") - F.col("cnt")).cast(dec)
    present = (
        pairs.join(totals, "source")
        .groupBy("source")
        .agg(
            F.first("tot_s").alias("tot_s"),
            F.first("tot_r").alias("tot_r"),
            F.first("rest_seen").alias("rest_seen"),
            F.sum(
                F.abs(
                    ca * F.col("tot_r").cast(dec)
                    - cr * F.col("tot_s").cast(dec)
                )
            ).alias("numer_present"),
        )
    )
    return present.select(
        "source",
        F.col("tot_s").alias("n_tokens_src"),
        F.col("tot_r").alias("n_tokens_rest"),
        F.when(
            (F.col("tot_s") > 0) & (F.col("tot_r") > 0),
            F.expr(
                f"(numer_present + CAST(tot_r - rest_seen AS {dec})"
                f" * CAST(tot_s AS {dec})) * CAST(1000000 AS {dec})"
                f" div (CAST(2 AS {dec}) * CAST(tot_s AS {dec})"
                f" * CAST(tot_r AS {dec}))"
            ),
        ).alias("tvd_ppm"),
    )


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10,
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: how many NEW token types each
    slice of the corpus contributes, in ``id_col`` order — the corpus
    diagnostic that separates "more of the same" ingest batches from
    genuinely novel material (a flattening curve means dedup/quota time;
    a spiking tail means a new domain entered the crawl).

    Documents are assigned to ``n_buckets`` equal-width id ranges
    (``(id - min_id) * n_buckets div (max_id - min_id + 1)`` — exact
    integer arithmetic, no rank shuffle); a token type belongs to the
    bucket of its FIRST occurrence (min doc id). Returns per bucket::

        bucket, n_docs, n_token_occurrences, new_types, cum_types

    ``cum_types`` is a running sum over at most ``n_buckets`` rows — the
    single-partition window is bucket-sized, never corpus-sized.

    Plan shape: one metadata-scale min/max aggregate (broadcast); one
    explode scan; groupBy(token) min-id (vocab-sized, map-side
    combined); two bucket-keyed aggregates + one bucket-sized join.
    Nothing after the explode is event-sized — holds at 100 TB.
    """
    if n_buckets < 1:
        raise ValueError(f"vocab_growth: n_buckets must be >= 1, got {n_buckets}")
    from .dedup import _materialize

    # the 1-row bounds table is crossJoined into three branches; without
    # a persist boundary each branch re-ran the corpus-wide min/max scan.
    bounds = F.broadcast(
        _materialize(
            df.agg(
                F.min(id_col).alias("min_id"), F.max(id_col).alias("max_id")
            )
        )
    )
    bucket_of = lambda c: F.expr(
        f"({c} - min_id) * {n_buckets} div (max_id - min_id + 1)"
    )
    docs = df.crossJoin(bounds).select(
        bucket_of(id_col).alias("bucket"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
    )
    per_bucket = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_token_occurrences"),
    )
    first_seen = (
        docs.select("id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.min("id").alias("first_id"))
        .crossJoin(bounds)
        .select(bucket_of("first_id").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    out = per_bucket.join(first_seen, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_token_occurrences",
        F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return out.withColumn("cum_types", F.sum("new_types").over(w))


def split_sentences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sentence segmentation: explode each document into trimmed,
    non-empty sentence rows — the unit :func:`~..operators.curation.
    chunk_documents` (token windows) deliberately is not; RAG-style
    chunking wants sentence boundaries, not mid-sentence cuts.

    Semantics chosen for engine portability: sentences are the maximal
    runs between terminator runs ``[.!?]+`` of the NORMALIZED text
    (lowercase, collapsed whitespace — the same normalization every
    text operator here uses), trimmed, empties dropped; ``sent_idx``
    numbers surviving sentences 0..n-1 in document order. No
    lookbehind/lookahead in the pattern — RE2 engines (DuckDB) don't
    support them, and the portable subset is the whole point.

    Plan shape: pure narrow map (split + posexplode + filter) — zero
    shuffles, trivially parallel at any scale.
    """
    sents = F.filter(
        F.transform(
            F.split(normalize_text(F.col(text_col)), r"[.!?]+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(sents).alias("pos", "sentence")
    )
    # the empty-filter runs BEFORE posexplode, so pos is already dense
    # over surviving sentences
    return ex.select(
        "doc_id",
        F.col("pos").alias("sent_idx"),
        "sentence",
        F.length("sentence").alias("n_chars"),
        F.size(F.filter(F.split(F.col("sentence"), " "), lambda t: t != "")).alias(
            "n_tokens"
        ),
    )


def corpus_card(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-row corpus card — the summary table a dataset release ships:
    document and token totals, vocabulary size, exact-duplicate volume,
    and length stats, all integer-exact (counts, truncating-div means,
    ppm rates) so the card is bit-reproducible on any engine::

        n_docs, n_tokens, vocab_size, mean_tokens (x1000),
        dup_docs (docs whose normalized text repeats), dup_ppm,
        min/max_tokens

    Plan: one tokens pass feeding three aggregates (doc stats map-side;
    vocabulary = distinct-token count; duplicate volume = fingerprint
    groups with count > 1) — all vocabulary-/doc-scale, no joins back
    to the corpus.
    """
    from .dedup import _materialize

    toks = tokens(F.col(text_col))
    # per_doc feeds the doc-stats aggregate AND the duplicate-volume
    # aggregate — unpersisted, the corpus tokenize+fingerprint ran twice
    # (plan audit: 3 scans for q148); doc-scale rows, free to pin
    per_doc = _materialize(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("n_toks"),
            F.md5(normalize_text(F.col(text_col))).alias("fp"),
        )
    )
    doc_stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.min("n_toks").alias("min_tokens"),
        F.max("n_toks").alias("max_tokens"),
    )
    vocab = df.select(F.explode(toks).alias("w")).agg(
        F.count_distinct("w").alias("vocab_size")
    )
    dups = (
        per_doc.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
            ).alias("dup_docs")
        )
    )
    return (
        doc_stats.crossJoin(vocab)
        .crossJoin(dups)
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            F.expr("CASE WHEN n_docs > 0 THEN 1000 * n_tokens div n_docs END").alias(
                "mean_tokens_x1000"
            ),
            "min_tokens",
            "max_tokens",
            "dup_docs",
            F.expr(
                "CASE WHEN n_docs > 0 THEN dup_docs * 1000000 div n_docs END"
            ).alias("dup_ppm"),
        )
    )


def source_balance(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """One-row corpus balance card: Gini concentration of documents and
    character mass across sources — the "is this corpus dominated by one
    crawl" diagnostic that decides whether `temperature_mix` /
    `upsample_corpus` is needed before training.

    Exact integers end to end. Gini over per-source masses x_1 <= ... <=
    x_n (rank ties broken by source name — the value is tie-order
    invariant since equal x contribute equally at either rank)::

        gini_ppm = 10^6 * (2*sum(i*x_i) - (n+1)*sum(x)) div (n*sum(x))

    truncating division on a non-negative numerator, products carried in
    decimal(38,0) (n*sum(chars) at 100 TB exceeds int64; the quotient is
    ppm-scale so the engine's exact decimal div applies). 0 = perfectly
    uniform, ->1e6 = one source is the corpus.

    Plan shape: one map-side-combined groupBy(source) — everything after
    is SOURCE-count-sized (metadata scale), so the two unpartitioned
    rank windows are deliberate and safe. `top_share_ppm` is the largest
    single source's document share.
    """
    per = df.groupBy(F.col(group_col).alias("key")).agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.length(F.col(text_col))).alias("nc"),
    )
    w_d = Window.orderBy("nd", "key")
    w_c = Window.orderBy("nc", "key")
    ranked = per.select(
        "key",
        "nd",
        "nc",
        F.row_number().over(w_d).alias("rd"),
        F.row_number().over(w_c).alias("rc"),
    )
    dec = "decimal(38,0)"
    c = lambda e: F.expr(e).cast(dec)
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("nd").alias("total_docs"),
        F.sum("nc").alias("total_chars"),
        F.sum(c("rd") * c("nd")).alias("__sd"),
        F.sum(c("rc") * c("nc")).alias("__sc"),
        F.max("nd").alias("__maxd"),
    )
    gini = (
        lambda s, tot: f"(CAST(2 AS {dec}) * {s} - (CAST(n_sources AS {dec})"
        f" + CAST(1 AS {dec})) * CAST({tot} AS {dec}))"
        f" * CAST(1000000 AS {dec})"
        f" div (CAST(n_sources AS {dec}) * CAST({tot} AS {dec}))"
    )
    return agg.select(
        "n_sources",
        "total_docs",
        "total_chars",
        # zero-mass guards: an all-empty-text corpus has total_chars = 0
        # (caught by test_source_balance_matches_python_oracle) — Gini of
        # zero mass is undefined, not a divide-by-zero
        F.when(
            F.col("total_docs") > 0, F.expr(gini("__sd", "total_docs"))
        ).alias("gini_docs_ppm"),
        F.when(
            F.col("total_chars") > 0, F.expr(gini("__sc", "total_chars"))
        ).alias("gini_chars_ppm"),
        F.when(
            F.col("total_docs") > 0,
            F.expr(f"CAST(__maxd AS {dec}) * CAST(1000000 AS {dec})"
                   f" div CAST(total_docs AS {dec})"),
        ).alias("top_share_ppm"),
    )


def lexical_richness(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source lexical diversity: type-token ratio and hapax rate —
    the corpus-linguistics signal that separates template/boilerplate
    mills (few types, no hapax legomena) from genuinely diverse prose,
    per slice so a bad crawl can't hide inside a healthy aggregate.

    Exact integers: ``ttr_ppm = 10^6 * n_types div n_tokens``,
    ``hapax_ppm = 10^6 * n_hapax div n_types`` (hapax = tokens occurring
    EXACTLY ONCE within their source — the classic productivity
    numerator), truncating division on non-negative operands.

    Plan shape: one explode → groupBy(source, token) map-side-combined
    count (the only corpus-scale shuffle, keyed wide enough that no
    stop-word hot-spots a reducer), then a per-source fold over the
    (source × vocabulary) table. No joins back to documents.
    """
    tok = df.select(
        F.col(group_col).alias("key"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    )
    per_tok = tok.groupBy("key", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_tok.groupBy("key")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "key",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
            F.expr("n_hapax * 1000000 div n_types").alias("hapax_ppm"),
        )
    )


def ngram_coverage(
    train: DataFrame,
    probe: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """How much of a held-out slice the training corpus already covers:
    the fraction of the probe split's distinct word n-grams that occur
    anywhere in the training split — high coverage means the held-out
    loss is partly memorization, not generalization (the aggregate
    companion to `contamination_report`'s per-pair audit and
    `decontaminate`'s removal).

    One row, all exact integers: distinct probe grams, how many appear
    in train, ``coverage_ppm = 10^6 * covered div probe_grams``.

    Plan shape: both sides reduce to DISTINCT gram sets (map-side
    combined — gram vocabulary, not corpus, after the explode); the
    membership test is a gram-keyed left semi-style join aggregated to
    one row. No doc pairs, no text re-reads; at 100 TB both gram sets
    shard by hash and the join co-locates.
    """
    if n < 1:
        raise ValueError(f"ngram_coverage: n must be >= 1, got {n}")
    from .dedup import word_ngrams

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("g")
        ).distinct()

    tg = grams(train).withColumn("__in_train", F.lit(1))
    pg = grams(probe)
    j = pg.join(tg, "g", "left")
    return j.agg(
        F.count(F.lit(1)).alias("probe_grams"),
        F.coalesce(
            F.sum(F.coalesce(F.col("__in_train"), F.lit(0))), F.lit(0)
        ).alias("covered_grams"),
    ).select(
        "probe_grams",
        "covered_grams",
        # an EMPTY probe frame still aggregates to one row — coverage of
        # nothing is undefined, not a divide-by-zero
        F.when(
            F.col("probe_grams") > 0,
            F.expr("covered_grams * 1000000 div probe_grams"),
        ).alias("coverage_ppm"),
    )


def hash_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-free text vectors by the hashing trick (Weinberger et al.
    2009): each token lands in bucket ``md5_60(token) % dim`` with sign
    ±1 from the next hash bit; the doc vector is the signed count per
    bucket. Bridges raw text into the vector-similarity stack (cosine
    top-k, SRP-LSH, IVF) with NO trained model and NO embeddings table
    — and deterministically: the same doc hashes to the same vector in
    any engine, rerun, or language, unlike learned embeddings.

    Output (id, vector array<long>) — integer vectors on purpose: exact
    cross-engine equality, and the downstream quantized-cosine kernels
    take integer inputs natively. Docs with zero tokens emit no row.

    Plan shape: ZERO shuffles — the vector is a pure per-doc function,
    so it is built inside one Arrow batch (md5 runs once per DISTINCT
    token in the batch via factorize, the `_md5_shingle_flat`
    discipline; measured 3.6× over the explode → groupBy(id, bucket) →
    re-assemble formulation at 500k docs, which also paid two
    token-scale exchanges). The DuckDB oracle keeps the relational
    formulation — same math, engine-portable md5-60.
    """
    if dim < 1:
        raise ValueError(f"hash_embedding: dim must be >= 1, got {dim}")
    import hashlib

    import numpy as np

    from ..functions.vectorized import _pynorm

    @F.pandas_udf("array<long>")
    def vec_udf(s: pd.Series) -> pd.Series:
        texts = [_pynorm(t or "") for t in s]
        words = [w for t in texts for w in t.split(" ") if w]
        counts = np.fromiter(
            (sum(1 for w in t.split(" ") if w) for t in texts),
            dtype=np.int64,
            count=len(texts),
        )
        if words:
            codes, uniq = pd.factorize(pd.Series(words, dtype=object))
            h = np.fromiter(
                (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    for w in uniq
                ),
                dtype=np.int64,
                count=len(uniq),
            )
            bkt = (h % dim)[codes]
            sgn = np.where(((h // dim) % 2 == 0)[codes], 1, -1).astype(np.int64)
        else:
            bkt = np.empty(0, np.int64)
            sgn = np.empty(0, np.int64)
        doc_ix = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
        flat = np.zeros(len(texts) * dim, dtype=np.int64)
        np.add.at(flat, doc_ix * dim + bkt, sgn)
        out = [
            flat[i * dim : (i + 1) * dim] if counts[i] else None
            for i in range(len(texts))
        ]
        return pd.Series(out, dtype=object)

    return (
        df.select(F.col(id_col), vec_udf(F.col(text_col)).alias("vector"))
        .filter(F.col("vector").isNotNull())
    )


def zipf_slope(
    df: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Zipf rank-frequency slope per group: OLS of log2(frequency) on
    log2(rank) over the group's term table — natural corpora fit slope
    ≈ −1 (Zipf's law); templated/synthetic/degenerate corpora flatten
    or steepen, making the slope a corpus-health signal next to
    :func:`vocab_growth`'s Heaps curve.

    Both logs are integerized to WHOLE BITS (``len(bin(x))`` — the
    :func:`unigram_surprisal` discipline), so the regression is exact
    integer arithmetic: ``slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)``
    reported as ``slope_num``/``slope_den`` plus sign-factored
    ``slope_ppm`` (truncating division on non-negative operands — Spark
    div and DuckDB // agree). NULL slope when every rank has the same
    bit length (degenerate x variance, e.g. a 1-term vocabulary).

    Plan shape: (group, term) frequencies combine map-side; ranking is
    a window over the GROUP's vocabulary (vocab-scale rows, never
    doc-scale — the same posture as `top_terms`); the OLS moments are
    one further vocab-scale aggregate. Ranks tie-break by term so the
    ranking, and therefore the slope, is deterministic.
    """
    t = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = t.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("grp").orderBy(F.col("freq").desc(), F.col("term"))
    ranked = tf.withColumn("rank", F.row_number().over(w))
    x = F.length(F.bin(F.col("rank")))
    y = F.length(F.bin(F.col("freq")))
    dec = "decimal(38,0)"
    m = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
    )
    num = (
        F.col("n_terms").cast(dec) * F.col("sxy")
        - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    )
    den = (
        F.col("n_terms").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    return (
        m.withColumn("__num", num)
        .withColumn("__den", den)
        .select(
            F.col("grp").alias(group_col),
            "n_terms",
            F.when(F.col("__den") > 0, num.cast("long")).alias("slope_num"),
            F.when(F.col("__den") > 0, den.cast("long")).alias("slope_den"),
            # sign-factored truncating div on exact decimals (Spark div
            # truncates; the oracle mirrors with DuckDB // on positives)
            F.when(
                F.col("__den") > 0,
                F.when(
                    F.col("__num") >= 0,
                    F.expr("(__num * 1000000) div __den"),
                ).otherwise(-F.expr("((-__num) * 1000000) div __den")),
            ).alias("slope_ppm"),
        )
    )


def langid_confusion(
    df: DataFrame, text_col: str = "text", label_col: str = "lang"
) -> DataFrame:
    """Confusion matrix of the n-gram language detector against labeled
    ground truth — the evaluation harness for :func:`detect_language`:
    per (actual, predicted) cell, document count and an exact per-cell
    accuracy flag. Languages outside the detector's stopword tables
    (predicted 'und') surface as their own column value, which is the
    honest failure mode a quality dashboard needs to see.

    One scan, one (label × prediction)-keyed aggregate — lexicon²
    output, map-side combined.
    """
    return (
        df.select(
            F.col(label_col).alias("lang_actual"),
            detect_language(F.col(text_col)).alias("lang_detected"),
        )
        .groupBy("lang_actual", "lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "is_match", F.col("lang_actual") == F.col("lang_detected")
        )
    )


def dedup_sentences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document sentence deduplication — the within-page line
    dedup step of web-corpus pipelines (repeated nav/footer/CTA lines
    inside one page), distinct from corpus-level
    :func:`remove_boilerplate` (lines repeated ACROSS documents):
    keep each document's FIRST occurrence of every sentence (the
    :func:`split_sentences` segmentation), rebuild the text, and report
    exact removal stats.

    Returns ``(doc_id, n_sentences, n_unique, removed_ppm,
    text_deduped)`` with sentences re-joined by '. '. Documents with no
    sentences survive with empty text and zero counts — dedup must
    never drop rows.

    Plan shape: pure narrow map (split + array ops per row) — zero
    shuffles, no explode; the dedup is first-occurrence filtering
    INSIDE the sentence array, so nothing row-multiplies.
    """
    sents = F.filter(
        F.transform(
            F.split(normalize_text(F.col(text_col)), r"[.!?]+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    # first-occurrence filter by position (engine-portable semantics;
    # array_distinct also preserves first order in Spark but the
    # position form is the contract the oracle mirrors)
    uniq = F.expr(
        "filter(__ss, (s, i) -> array_position(__ss, s) = i + 1)"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), sents.alias("__ss"))
        .withColumn("__u", uniq)
        .select(
            "doc_id",
            F.size("__ss").cast("long").alias("n_sentences"),
            F.size("__u").cast("long").alias("n_unique"),
            F.expr(
                "CASE WHEN size(__ss) = 0 THEN 0 ELSE "
                "1000000 * (size(__ss) - size(__u)) div size(__ss) END"
            ).cast("long").alias("removed_ppm"),
            F.array_join("__u", ". ").alias("text_deduped"),
        )
    )


def token_stats(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Tokenizer fertility per group — the "how many tokens does this
    language cost" table that drives per-language budget and sampling
    decisions: per group, document/whitespace-token/BPE-ish-token/char
    totals plus the exact derived rates::

        fertility_ppm        = 10^6 * n_bpe_tokens div n_ws_tokens
        chars_per_token_milli = 1000 * n_chars div n_ws_tokens
        tokens_per_doc_milli  = 1000 * n_ws_tokens div n_docs

    Whitespace tokens use the normalized-text tokenization every text
    operator here shares; BPE-ish tokens are the :data:`TOKEN_REGEX`
    count over the RAW text (letter runs / digit runs / single symbols
    — the subword-cost proxy). High fertility = scripts the whitespace
    model underestimates (CJK, URLs, code). All integer-exact.

    One scan, one lexicon-keyed aggregate with map-side combine.
    """
    norm = normalize_text(F.col(text_col))
    m = (
        df.select(
            F.col(group_col).alias("grp"),
            token_count(F.col(text_col)).cast("long").alias("ws"),
            bpe_token_count(F.col(text_col)).cast("long").alias("bpe"),
            F.length(norm).cast("long").alias("ch"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("n_ws_tokens"),
            F.sum("bpe").alias("n_bpe_tokens"),
            F.sum("ch").alias("n_chars"),
        )
    )
    nz = F.col("n_ws_tokens") > 0
    return m.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_ws_tokens",
        "n_bpe_tokens",
        "n_chars",
        F.when(nz, F.expr("1000000 * n_bpe_tokens div n_ws_tokens")).alias(
            "fertility_ppm"
        ),
        F.when(nz, F.expr("1000 * n_chars div n_ws_tokens")).alias(
            "chars_per_token_milli"
        ),
        F.expr("1000 * n_ws_tokens div n_docs").alias("tokens_per_doc_milli"),
    )


def doc_keywords(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document — tf·idf keyword
    extraction with the whole-bit idf (``idf_bits = len(bin(n_docs)) −
    len(bin(df_term))``, the :func:`unigram_surprisal` integer-log
    discipline), so scores are exact integers and the ranking is
    bit-reproducible: the labeling / RAG-metadata step ("what is this
    page about") as a deterministic operator instead of a float model.

    Ties break (score desc, term asc). Returns ``(doc_id, term, tf,
    idf_bits, score, rank)`` for each document's top k.

    Plan shape: (doc, term) tf combines map-side; document frequencies
    are a vocab-scale aggregate broadcast back; the top-k is a window
    per DOCUMENT — partitions are single-document term lists (bounded
    by doc length), never corpus-scale.
    """
    if k < 1:
        raise ValueError(f"doc_keywords: k must be >= 1, got {k}")
    t = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    from .dedup import _materialize

    # tf feeds the document-frequency aggregate AND the scored join —
    # unpersisted, the corpus tokenize+explode+shuffle ran twice (plan
    # audit: 3 scans for q183)
    tf = _materialize(
        t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("__n")))
    idf = F.length(F.bin(F.col("__n"))) - F.length(F.bin(F.col("df")))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(n_docs)
        .withColumn("idf_bits", idf.cast("long"))
        .withColumn("score", (F.col("tf") * F.col("idf_bits")).cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "idf_bits", "score", "rank")
    )


def pattern_scan(
    df: DataFrame,
    patterns: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist / banned-term audit: exact substring occurrence counts
    for a bounded pattern list over every document — the safety-scan
    pass a release pipeline runs before anything ships. Counting is the
    pure-SQL occurrence identity ``(len(t) − len(replace(t, p, ''))) /
    len(p)`` (JVM-side, no regex engine differences, overlapping
    occurrences counted non-overlapping like every replace-based
    scanner), evaluated on a broadcast pattern table crossed against
    the corpus — one narrow pass per document row, patterns-sized
    output after the aggregate.

    Case-sensitive by contract (fold the corpus and the patterns
    through lower() upstream for case-insensitive scans). Empty
    patterns are refused (the identity divides by len(p)).

    Returns ``(pattern, n_docs, n_hits)`` — documents containing the
    pattern, and total occurrences across the corpus.
    """
    if not patterns:
        raise ValueError("pattern_scan: patterns must be non-empty")
    if any(not p for p in patterns):
        raise ValueError("pattern_scan: empty pattern")
    spark = df.sparkSession
    pats = spark.createDataFrame(
        [(p,) for p in sorted(set(patterns))], "pattern string"
    )
    t = F.col(text_col)
    p = F.col("pattern")
    hits = (
        (F.length(t) - F.length(F.replace(t, p, F.lit("")))) / F.length(p)
    ).cast("long")
    return (
        df.select(text_col)
        .crossJoin(F.broadcast(pats))
        .select("pattern", hits.alias("h"))
        .groupBy("pattern")
        .agg(
            F.sum(F.when(F.col("h") > 0, 1).otherwise(0))
            .cast("long").alias("n_docs"),
            F.sum("h").cast("long").alias("n_hits"),
        )
    )


def mixed_script_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Homoglyph / script-mixing signal: per document, how many
    whitespace tokens mix Latin letters with Cyrillic or Greek — the
    classic spoofing and low-quality-scrape tell ("pаypal" with a
    Cyrillic а). Pure explicit-codepoint-range regex (``[A-Za-z]``
    with ``[\\x{0400}-\\x{04FF}]`` or ``[\\x{0370}-\\x{03FF}]`` — the
    escape form BOTH Java regex and RE2 accept; ``\\uXXXX`` is
    Java-only) so the engines agree without unicode property classes.
    One narrow pass; per-document output with exact ppm.

    Returns ``(doc_id, n_tokens, n_mixed, mixed_ppm)``.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    latin = "[A-Za-z]"
    confus = "[\\x{0400}-\\x{04FF}\\x{0370}-\\x{03FF}]"
    is_mixed = (
        F.col("tok").rlike(latin) & F.col("tok").rlike(confus)
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(is_mixed, 1).otherwise(0)).alias("n_mixed"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_mixed").cast("long").alias("n_mixed"),
            F.expr("n_mixed * 1000000 div n_tokens")
            .cast("long").alias("mixed_ppm"),
        )
    )


def window_cooccurrence(
    df: DataFrame,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Windowed co-occurrence collocations: UNORDERED token pairs
    within ±``window`` positions, whole-bit PMI scored — the word2vec/
    GloVe-style co-occurrence statistic that :func:`cooccurrence_pmi`'s
    adjacent bigrams are the window=1 special case of (with order
    folded: pairs canonicalize to (least, greatest), so "data table"
    and "table data" pool their counts — the symmetric-context
    convention). A token pairs once per (position, offset), the
    standard unweighted flat window.

    Derivation stays zero-shuffle: one ``zip_with`` of two array slices
    per offset (``window`` narrow maps), one explode, then the same
    map-side-combined pair/unigram aggregates and broadcast joins as
    the bigram form — vocab²-bounded after ``min_count`` prunes the
    count-1 tail (which dominates the distinct-pair universe).

    Whole-bit PMI = bits(c_pair) + bits(N_pairs) − bits(c_w1·appear) −
    bits(c_w2): marginals here are UNIGRAM occurrence counts, matching
    cooccurrence_pmi's convention.

    Returns ``(w1, w2, pair_count, pmi_bits)`` with ``w1 <= w2``.
    """
    if window < 1:
        raise ValueError(
            f"window_cooccurrence: window must be >= 1, got {window}"
        )
    w = tokens(F.col(text_col))
    pair_arrays = [
        F.zip_with(
            F.slice(w, 1, F.greatest(F.size(w) - off, F.lit(0))),
            F.slice(w, 1 + off, F.greatest(F.size(w) - off, F.lit(0))),
            lambda a, b: F.struct(
                F.least(a, b).alias("w1"), F.greatest(a, b).alias("w2")
            ),
        )
        for off in range(1, window + 1)
    ]
    base = df.select(
        w.alias("__w"), F.concat(*pair_arrays).alias("__p")
    )
    from .dedup import _materialize

    # uni feeds BOTH marginal joins, and the pair aggregate feeds the
    # min_count survivors AND the pre-filter total (Σ pair_count over
    # the aggregate == Σ size(__p) over the corpus) — unpersisted, the
    # corpus tokenize+zip_with ran once per consumer (plan audit: 4
    # scans for q228). Both pinned tables are vocab-/pair-aggregate-
    # sized; two corpus passes remain (token explode, pair explode).
    uni = _materialize(
        base.select(F.explode("__w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pc = _materialize(
        base.select(F.explode("__p").alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    pairs = pc.filter(F.col("pair_count") >= int(min_count))
    n_total = pc.agg(
        F.coalesce(F.sum("pair_count"), F.lit(0)).alias("n")
    )

    def bits(c: Column) -> Column:
        return F.length(F.bin(c.cast("long")))

    # unigram joins stay AQE-decided (vocab can exceed broadcast size at
    # corpus scale — cooccurrence_pmi's rule); only the 1-row N broadcasts
    return (
        pairs.join(
            uni.select(F.col("t").alias("w1"), F.col("cnt").alias("c1")),
            "w1")
        .join(
            uni.select(F.col("t").alias("w2"), F.col("cnt").alias("c2")),
            "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.col("pair_count").cast("long").alias("pair_count"),
            (
                bits(F.col("pair_count")) + bits(F.col("n"))
                - bits(F.col("c1")) - bits(F.col("c2"))
            ).cast("long").alias("pmi_bits"),
        )
    )


def keyword_in_context(
    df: DataFrame,
    term: str,
    window_tokens: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits_per_doc: int = 10,
) -> DataFrame:
    """KWIC concordance: every occurrence of ``term`` as a NORMALIZED
    token (the corpus tokenizer's lowercase/whitespace rules), with
    ``window_tokens`` of left and right context — the corpus-inspection
    view quality work starts from ("show me how this word is actually
    used"). One narrow tokenize + posexplode, an equality filter ON THE
    TOKEN (so only matching positions survive the explode), and a
    slice-join back to the doc's own token array for context —
    per-hit output, ``max_hits_per_doc`` caps pathological repeats.

    Returns ``(doc_id, position, left_ctx, right_ctx)`` — positions
    1-based, contexts space-joined (possibly empty at doc edges).
    """
    if not term:
        raise ValueError("keyword_in_context: term must be non-empty")
    if window_tokens < 0:
        raise ValueError("keyword_in_context: window_tokens must be >= 0")
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__w"))
    hits = (
        base.select(
            "doc_id",
            "__w",
            F.posexplode("__w").alias("__p0", "__tok"),
        )
        .filter(F.col("__tok") == term)
        .withColumn("position", F.col("__p0") + 1)
    )
    wcap = Window.partitionBy("doc_id").orderBy("position")
    hits = hits.withColumn("__hn", F.row_number().over(wcap)).filter(
        F.col("__hn") <= int(max_hits_per_doc)
    )
    left = F.slice(
        F.col("__w"),
        F.greatest(F.col("position") - window_tokens, F.lit(1)),
        F.least(F.lit(window_tokens), F.col("position") - 1),
    )
    right = F.slice(
        F.col("__w"),
        F.col("position") + 1,
        F.least(
            F.lit(window_tokens), F.size("__w") - F.col("position")
        ),
    )
    return hits.select(
        "doc_id",
        F.col("position").cast("long").alias("position"),
        F.array_join(left, " ").alias("left_ctx"),
        F.array_join(right, " ").alias("right_ctx"),
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
    threshold: int = 0,
) -> DataFrame:
    """Linear bag-of-hashed-tokens classifier — the fastText /
    logistic-regression quality-filter SHAPE (hash tokens, sum weights,
    threshold) with everything Spark-side staying in built-in functions:
    tokenize → md5_60 per token → per-doc integer sum → label.

    ``weights``: optional (token STRING, weight LONG) model table,
    broadcast-joined (a trained model's vocabulary is classifier-scale,
    never corpus-scale); tokens absent from the table score 0. Without
    it, the DEFAULT weight is derived from the token hash itself —
    ``w(t) = md5_60(t) % 17 - 8`` ∈ [-8, 8] — a deterministic random
    linear model: exactly the plumbing a real filter runs (and what the
    SQL oracle re-derives bit-for-bit), with the learned weights swapped
    out. Integer end-to-end, so scores are associativity-proof.

    Returns (id, n_tokens, score, label). Reference parity note: the
    reference has no classifiers — this is north-star pipeline surface
    (BASELINE.json), the model-based quality gate next to the heuristic
    q31/q72 gates."""
    from ..functions.core import md5_60

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.col(text_col))).alias("__tok"),
    )
    # the empty-doc contract rides on NULL: explode_outer emits one NULL
    # token for an empty doc, and its weight must STAY NULL so count()
    # sees 0 tokens and sum() yields NULL (folded to score 0 below)
    if weights is not None:
        w = toks.join(
            F.broadcast(weights.select(
                F.col("token").alias("__tok"),
                F.col("weight").cast("long").alias("__w"),
            )),
            "__tok", "left",
        ).select(
            "id",
            F.when(
                F.col("__tok").isNotNull(),
                F.coalesce("__w", F.lit(0)),
            ).alias("__w"),
        )
    else:
        w = toks.select(
            "id",
            F.when(
                F.col("__tok").isNotNull(),
                md5_60(F.col("__tok")) % 17 - 8,
            ).alias("__w"),
        )
    agg = w.groupBy("id").agg(
        F.count(F.col("__w")).alias("__n"),
        F.sum("__w").alias("score"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        # explode_outer keeps empty docs as one NULL token (n 0, score 0)
        F.when(F.col("score").isNull(), F.lit(0))
        .otherwise(F.col("__n")).cast("long").alias("n_tokens"),
        F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("score"),
        (F.coalesce(F.col("score"), F.lit(0)) > threshold).alias("keep"),
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility by detected language: subword tokens per
    word and characters per subword — the first thing a tokenizer
    audit asks of a multilingual corpus (high fertility = the tokenizer
    fragments that language, training pays more compute per word).
    Subwords = the BPE-ish regex tokens over RAW text (q179's contract);
    words = whitespace tokens of the normalized text. Integer sums with
    one truncating division per ratio, so the ppm values are exact."""
    per = df.select(
        detect_language_vec(F.col(text_col)).alias("lang"),
        token_count(F.col(text_col)).cast("long").alias("__w"),
        bpe_token_count(F.col(text_col)).cast("long").alias("__s"),
        F.length(F.col(text_col)).cast("long").alias("__c"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("__W"),
        F.sum("__s").alias("__S"),
        F.sum("__c").alias("__C"),
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long"),
        F.col("__W").alias("n_words"),
        F.col("__S").alias("n_subwords"),
        # integer `div`, not float `/`: 1e6·Σ exceeds double's 53-bit
        # exact range long before it exceeds int64
        F.when(F.col("__W") > 0,
               F.expr("(1000000 * __S) div __W")).alias("fertility_ppm"),
        F.when(F.col("__S") > 0,
               F.expr("(1000000 * __C) div __S"))
        .alias("chars_per_subword_ppm"),
    )


def simpson_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group lexical concentration: Simpson index
    Σ nᵢ(nᵢ−1) / (N(N−1)) over token frequencies (the probability two
    tokens drawn without replacement are equal — 0 = maximally diverse,
    1e6 ppm = one token repeated). Duplicate-heavy or template-heavy
    sources stick out immediately; the integer numerator/denominator
    make the ppm exact. Two shuffles: (group, token) count, then group
    fold."""
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    )
    counts = tok.groupBy("grp", "__tok").agg(
        F.count(F.lit(1)).alias("__n")
    )
    agg = counts.groupBy("grp").agg(
        F.sum("__n").alias("__N"),
        F.sum(F.col("__n") * (F.col("__n") - 1)).alias("__pairs"),
        F.count(F.lit(1)).alias("distinct_tokens"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("__N").alias("n_tokens"),
        F.col("distinct_tokens").cast("long"),
        # decimal(38,0) `div`: 1e6·pairs and N(N−1) both blow past
        # int64/double exactness on a 100 TB source — the 128-bit
        # lattice keeps the ppm a true integer floor
        F.when(
            F.col("__N") > 1,
            F.expr(
                "CAST(1000000 AS DECIMAL(38,0)) * CAST(__pairs AS"
                " DECIMAL(38,0)) div (CAST(__N AS DECIMAL(38,0)) *"
                " CAST(__N - 1 AS DECIMAL(38,0)))"
            ).cast("long"),
        ).otherwise(F.lit(0)).alias("simpson_ppm"),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    max_vocab_rows: int = 2_000_000,
) -> DataFrame:
    """Learn byte-pair-encoding merges from a corpus (Sennrich et al.
    2016 — the tokenizer-TRAINING step; ``bpe_token_count``/q179 only
    counts with a fixed regex). Returns one row per learned merge:
    ``(round, left, right, pair_count)``.

    Semantics pinned for determinism: words are whitespace tokens of
    the normalized text, weighted by corpus frequency; symbols start as
    characters; each round picks the adjacent pair with the highest
    total count (ties → lexicographically smallest (left, right)) and
    merges it greedily left-to-right inside every word. Stops early
    when no pair occurs twice.

    Scale shape: the corpus-scale work is ONE tokenize+count shuffle —
    everything after runs on the DISTINCT-WORD table (vocabulary-
    bounded, refused above ``max_vocab_rows`` rather than silently
    thrashing). Each round is: adjacent-pair explode + sum (map-side
    partial), a 1-row argmax collect (the merge decision IS
    driver-scale), and an Arrow-batched greedy merge over the vocab,
    localCheckpointed so 10 rounds don't stack 10 UDF plans. The merge
    loop is iterative by nature — the differential gate is a
    pure-Python BPE reference in tests, not a SQL oracle (driver
    records the rows-only check; same posture as label_propagation's
    fixpoint)."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # ONE tokenize+count corpus pass: the eager checkpoint materializes
    # the vocab and the size guard counts the CHECKPOINTED blocks —
    # counting `words` first re-ran the full corpus explode+shuffle
    # (separate actions share no shuffle lineage). The guard therefore
    # fires after the vocab lands in executor storage rather than
    # before; that write is distinct-word-scale (the merge rounds the
    # cap protects hold the same data), while the pass it saves is
    # corpus-scale.
    vocab = words.select(
        F.split(F.col("w"), "").alias("sym"), "cnt"
    ).localCheckpoint(eager=True)
    n_vocab = vocab.count()
    if n_vocab > max_vocab_rows:
        raise ValueError(
            f"bpe_train: {n_vocab} distinct words exceeds max_vocab_rows="
            f"{max_vocab_rows}; raise the cap explicitly if the executors "
            "can hold the vocab through the merge rounds"
        )

    merges = []
    for rnd in range(num_merges):
        pairs = (
            vocab.filter(F.size("sym") > 1)
            .select(
                F.explode(
                    F.expr(
                        "transform(slice(sym, 1, size(sym) - 1),"
                        " (x, i) -> struct(x AS l,"
                        " element_at(sym, i + 2) AS r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("total"))
        )
        best = pairs.orderBy(
            F.desc("total"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not best or best[0]["total"] < 2:
            break
        left, right, total = best[0]["l"], best[0]["r"], int(best[0]["total"])
        merges.append((rnd, left, right, total))

        @F.pandas_udf("array<string>")
        def merge_pair(s: pd.Series) -> pd.Series:
            out = []
            for seq in s:
                seq = list(seq)
                res = []
                i = 0
                n = len(seq)
                while i < n:
                    if (
                        i + 1 < n
                        and seq[i] == left
                        and seq[i + 1] == right
                    ):
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(seq[i])
                        i += 1
                out.append(res)
            return pd.Series(out)

        vocab = vocab.select(
            merge_pair(F.col("sym")).alias("sym"), "cnt"
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges, "round int, left string, right string, pair_count long"
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document readability on the exact milli lattice — the classic
    pre-LLM quality prior (C4 kept Flesch-ish heuristics; Gopher reports
    them) still used to bucket curricula.

    Counts are regex counts (JVM-side ``regexp_count``, whole-stage
    codegen): words = letter runs, syllables = vowel-group runs in the
    lowercased text, sentences = terminal-punctuation runs + 1. The
    Flesch score is computed with BIGINT floor division end-to-end —
    ``206835 - (1015*W) // S - (84600*Syl) // W`` — so the DuckDB
    oracle (q247) agrees bit-for-bit; no float ratio ever forms.
    One narrow projection of the corpus, no shuffle at all.
    """
    low = F.lower(F.col(text_col))
    words = F.regexp_count(low, F.lit(r"[a-z]+"))
    syllables = F.regexp_count(low, F.lit(r"[aeiouy]+"))
    sentences = F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")) + F.lit(1)
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
    ).withColumn(
        "flesch_milli",
        F.when(
            F.col("n_words") > 0,
            F.lit(206835).cast("long")
            - F.expr("(1015 * n_words) div n_sentences")
            - F.expr("(84600 * n_syllables) div n_words"),
        ),
    )


def stopword_discovery(
    df: DataFrame,
    min_df_ppm: int = 600_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-driven stopword list: tokens present in at least
    ``min_df_ppm`` (ppm of documents) — document frequency, not raw
    frequency (q56's top_terms), which is the right axis for stopwords:
    a token repeated heavily in few docs is topical, one appearing in
    most docs is glue. Feeds the stopword-ratio quality gates (q31/q72)
    with a PER-CORPUS list instead of a fixed English one — the
    multilingual-corpus fix.

    One explode of per-doc DISTINCT tokens, one vocabulary-bounded
    groupBy, doc total broadcast as a one-row crossJoin. Exact ppm by
    floor division."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
    )
    freq = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    total = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    return (
        freq.crossJoin(F.broadcast(total))
        .withColumn(
            "df_ppm", F.expr("(1000000 * doc_freq) div __n_docs").cast("long")
        )
        .filter(F.col("df_ppm") >= min_df_ppm)
        .select("token", "doc_freq", "df_ppm")
    )
