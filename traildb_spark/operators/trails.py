"""Per-trail operators: the cursor surface re-expressed as window/group ops.

The reference's primary API is "iterate one trail's events in time order"
(`src/tdb_decode.c:122-329`, `src/traildb.h:300-326`). Spark-native
equivalents: window functions over ``partitionBy(uuid).orderBy(time)``, and
one sorted-run walker for arbitrary trail programs (``repartition(uuid)`` →
``sortWithinPartitions(uuid, time)`` → ``mapInPandas``, sliced on uuid
change): ``apply_to_trails_chunked`` runs a fold over it and
``apply_to_trails`` a whole-trail function. Every operator here is
shuffle-aware: one hash partition on uuid, reused across chained trail ops
(Catalyst recognizes the shared partitioning and does not re-shuffle).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

UUID_COL = "uuid"
TIME_COL = "time"


def _trail_window(uuid_col: str = UUID_COL, time_col: str = TIME_COL, *tiebreak: str):
    return Window.partitionBy(uuid_col).orderBy(time_col, *tiebreak)


def trail_lengths(df: DataFrame, uuid_col: str = UUID_COL) -> DataFrame:
    """Events per trail (reference ``tdb_get_trail_length``,
    `src/tdb_decode.c:219-225`). Map-side partial aggregation makes this a
    light shuffle even at 100 TB."""
    return df.groupBy(uuid_col).agg(F.count(F.lit(1)).alias("trail_length"))


def collect_trails(
    df: DataFrame,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    fields: list[str] | None = None,
) -> DataFrame:
    """Assemble each trail as a time-sorted array of event structs —
    the batch analog of draining a cursor (`src/tdb_decode.c:227-329`).

    Bounded by max-trail-length (reference allows 2^50 events/trail but
    practical trails are small); for whale trails write the program as a
    fold for ``apply_to_trails_chunked``, which holds one Arrow batch plus
    the fold state, never the whole trail.
    """
    fields = fields or [c for c in df.columns if c not in (uuid_col, time_col)]
    ev = F.struct(F.col(time_col).alias(time_col), *[F.col(c) for c in fields])
    return df.groupBy(uuid_col).agg(
        F.sort_array(F.collect_list(ev)).alias("events"),
        F.count(F.lit(1)).alias("trail_length"),
    )


def trail_ids(df: DataFrame, uuid_col: str = UUID_COL) -> DataFrame:
    """uuid → dense sequential trail_id in uuid sort order (reference
    assigns ids by sorted uuid, `src/tdb.c:544-589`).

    Scalable construction: the naive ``dense_rank() over (order by uuid)``
    funnels ALL rows through one partition. Instead rank only the distinct
    uuid set with a two-phase prefix (the ``curation.pack_sequences``
    pattern, pure DataFrame API — no RDD, so the plan stays visible to
    Catalyst and ``plans.audit``): range-partition the uuids (partition i
    holds strictly smaller uuids than partition i+1 regardless of where
    the sampled boundaries fall), bring the PER-PARTITION COUNTS — one row
    per partition, metadata-scale — to the driver for the prefix scan,
    and add each partition's base offset to a partition-local row_number.
    The distinct uuid set is ~num_trails rows (44 M in the reference's
    wikipedia db) — far smaller than the event table.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    uuids = (
        df.select(uuid_col)
        .distinct()
        .repartitionByRange(n, uuid_col)
        .withColumn("__pid", F.spark_partition_id())
        # pin ONE materialization: range boundaries come from sampling, so
        # the count pass and the ranking pass must see identical partitions
        .localCheckpoint()
    )
    counts = uuids.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    acc = 0
    bases = []
    for r in sorted(counts, key=lambda r: r["__pid"]):
        bases.append((r["__pid"], acc))
        acc += r["__n"]
    base = F.broadcast(
        df.sparkSession.createDataFrame(bases or [(0, 0)], ["__pid", "__base"])
    )
    w = Window.partitionBy("__pid").orderBy(uuid_col)
    return (
        uuids.join(base, "__pid")
        .withColumn(
            "trail_id", (F.col("__base") + F.row_number().over(w) - 1).cast("long")
        )
        .select(uuid_col, "trail_id")
    )


def only_diff_items(
    df: DataFrame,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    fields: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Edge decode: emit a field's value only when it CHANGED vs. the
    previous event of the trail (reference ``TDB_OPT_ONLY_DIFF_ITEMS``,
    `src/tdb_decode.c:238-321`; first event emits all fields,
    `tests/c-tests/opt_only_diff_items.c:42-57`).

    Suppressed (unchanged) values become '' — the reference returns item 0
    (NULL) for them. Deliberate deviation (SURVEY §7.4): the reference is
    approximate ("removes *most* duplicates"); ``lag()`` is exact — a
    strictly cleaner result documented as such.
    """
    tiebreak = tiebreak or []
    fields = fields or [
        c for c in df.columns if c not in (uuid_col, time_col, *tiebreak)
    ]
    w = _trail_window(uuid_col, time_col, *tiebreak)
    first = F.row_number().over(w) == 1
    out = [F.col(uuid_col), F.col(time_col)] + [F.col(c) for c in tiebreak]
    for c in fields:
        prev = F.lag(F.col(c)).over(w)
        # null-safe change test: with a bare !=, a transition to or from
        # NULL compares to NULL and the value is wrongly suppressed
        out.append(
            F.when(first | ~prev.eqNullSafe(F.col(c)), F.col(c))
            .otherwise(F.lit(""))
            .alias(c)
        )
    return df.select(*out)


def sessionize(
    df: DataFrame,
    gap: int = 1800,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
) -> DataFrame:
    """Assign a session id per event: a new session starts when the gap to
    the previous event exceeds ``gap`` seconds (reference tutorial's
    canonical trail program, `examples/tutorial_wikipedia_sessions.c:26-47`,
    30-minute rule `doc/docs/tutorial.md:188-256`).

    Classic two-window formulation: flag starts with ``lag``, then a
    running sum converts flags to ids. Single shuffle on uuid.
    """
    w = _trail_window(uuid_col, time_col)
    is_new = F.when(
        F.col(time_col) - F.lag(F.col(time_col)).over(w) > F.lit(gap), 1
    ).otherwise(0)
    wsum = _trail_window(uuid_col, time_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(is_new).over(wsum))


def session_stats(
    df: DataFrame, gap: int = 1800, uuid_col: str = UUID_COL, time_col: str = TIME_COL
) -> DataFrame:
    """Per-trail session count + event count (the tutorial's output,
    `doc/docs/tutorial.md:188-256`)."""
    s = sessionize(df, gap, uuid_col, time_col)
    return s.groupBy(uuid_col).agg(
        (F.max("session_id") + 1).alias("num_sessions"),
        F.count(F.lit(1)).alias("num_events"),
    )


def multi_cursor_merge(
    dfs: list[DataFrame],
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
) -> DataFrame:
    """K-way timestamp-ordered merge of trails across datasets (reference
    multi-cursor, `src/tdb_multi_cursor.c:84-300`; uuid-stitching of
    time-sharded dbs, `doc/docs/technical_overview.md:219-234`).

    Spark-native: UNION ALL then let downstream trail ops impose
    (uuid, time) order via their window sort — the shuffle sort-merge
    (TimSort over pre-sorted runs) replaces the reference's binary heap
    with the same O(n log k) run-exploiting behavior.
    """
    from functools import reduce

    if not dfs:
        raise ValueError("multi_cursor_merge: need at least one dataset")
    merged = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
    value_cols = [c for c in merged.columns if c not in (uuid_col, time_col)]
    # ''-fill applies to STRING value columns (the canonical schema —
    # normalize_events casts all fields to string); non-string extras keep
    # NULL, which still orders deterministically (nulls first) downstream
    return merged.fillna("", subset=value_cols)


def merged_trail_stream(
    dfs: list[DataFrame], uuid_col: str = UUID_COL, time_col: str = TIME_COL
) -> DataFrame:
    """Merge + explicit per-trail event position (what a multi-cursor
    consumer observes). Position ties broken by source order are undefined
    in the reference (heap order, `src/tdb_multi_cursor.c:50-53`); we add a
    deterministic tiebreak on the full row for reproducibility."""
    merged = multi_cursor_merge(dfs, uuid_col, time_col)
    value_cols = [c for c in merged.columns if c not in (uuid_col, time_col)]
    w = Window.partitionBy(uuid_col).orderBy(time_col, *value_cols)
    return merged.withColumn("event_pos", F.row_number().over(w))


def apply_to_trails(
    df: DataFrame,
    fn: Callable,
    schema,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    max_events_per_trail: int | None = 10_000_000,
) -> DataFrame:
    """The cursor-program escape hatch (reference extension model: iterate
    a trail from C/Python and compute anything, `doc/docs/index.md:21-26`).

    ``fn(pdf: pandas.DataFrame) -> pandas.DataFrame`` runs once per trail
    on the WHOLE trail, sorted by time, with a fresh ``RangeIndex``; an
    empty result emits no rows. Events with equal ``time`` arrive in an
    unspecified order: a program that needs a total order sorts by its
    own tiebreak column. It is a whole-trail fold on
    :func:`apply_to_trails_chunked` (same shuffle, sort and trail
    slicer), so each trail materializes as ONE pandas frame in a worker —
    a whale trail is a worker-OOM hazard (SCALE.md, "Whale-trail memory
    bound").

    ``max_events_per_trail`` is the guard rail: before launching the
    program, one cheap ``groupBy(uuid).count()`` pre-check (a
    map-side-combined agg over distinct uuids) finds the longest trail
    and REFUSES when it exceeds the bound, naming
    :func:`apply_to_trails_chunked` — the constant-memory fold whose
    contract any whale-safe program must adopt (the reference analog:
    cursors stream trails through a fixed decode buffer so no trail
    must fit in memory, ``src/tdb_decode.c:227-329``). An automatic
    reroute is impossible: ``fn`` sees the whole trail at once, a fold
    does not. Pass ``None`` to skip the pre-check (and its extra scan)
    when trail lengths are known-bounded.
    """
    import pandas as pd

    if max_events_per_trail is not None:
        top = (df.groupBy(uuid_col).count()
               .orderBy(F.desc("count")).limit(1).collect())
        if top and top[0]["count"] > max_events_per_trail:
            raise ValueError(
                f"apply_to_trails: trail {top[0][uuid_col]!r} has "
                f"{top[0]['count']} events (> max_events_per_trail="
                f"{max_events_per_trail}) — a trail this long "
                "materializes as one pandas frame and can OOM a worker. "
                "Rewrite the program as a fold and use "
                "apply_to_trails_chunked (constant-memory), or raise/"
                "disable the bound explicitly if the workers are sized "
                "for it."
            )

    def step(chunks, chunk):
        chunks.append(chunk)
        return chunks, None

    def finish(chunks):
        trail = pd.concat(chunks, ignore_index=True)
        chunks.clear()  # free the chunks before fn holds the whole trail
        return fn(trail)

    return apply_to_trails_chunked(
        df, lambda u: [], step, finish, schema, uuid_col, time_col
    )


def apply_to_trails_chunked(
    df: DataFrame,
    init: Callable,
    step: Callable,
    finish: Callable,
    schema,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    chunk_size: int | None = None,
) -> DataFrame:
    """Bounded-memory cursor programs for whale trails: stream each trail
    through a user FOLD in time-ordered chunks instead of materializing it
    as one pandas frame.

    This is the Spark form of the reference cursor's stream-at-any-length
    contract: ``tdb_cursor_next`` refills a fixed 1000-event decode buffer
    however long the trail is (`src/tdb_decode.c:227-329`; trail limit
    2^50 events, `src/tdb_limits.h:19`), so a cursor program's memory is
    O(buffer + its own state). ``apply_to_trails`` is the whole-trail
    fold on this walker — fine to ~10M events (measured, SCALE.md), but
    a 100M+-event whale pressures one executor. Here the trail never
    materializes: events are hash-clustered per uuid, externally sorted
    within partitions by (uuid, time) — shuffle spill keeps the sort
    disk-backed — and ``mapInPandas`` walks the partition's Arrow batches
    in order, slicing on uuid boundaries and threading the user's state
    across consecutive chunks of the same trail. Peak memory is one Arrow
    batch plus the fold state, independent of trail length.

    User contract (a fold, not a whole-trail function):
      - ``init(uuid) -> state`` — called at the first chunk of each trail
      - ``step(state, chunk_pdf) -> (state, out_pdf | None)`` — consecutive
        time-ordered chunks of ONE trail (each a pandas frame with the
        full row schema); may emit incremental output
      - ``finish(state) -> out_pdf | None`` — end-of-trail output

    Events with equal ``time`` arrive in an unspecified order; a program
    that needs a total order breaks ties on its own column.

    ``chunk_size`` further splits Arrow batches before ``step`` (the
    analog of ``TDB_OPT_CURSOR_EVENT_BUFFER_SIZE``); default is the Arrow
    batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``).

    Prefer ``apply_to_trails`` when trails are known-bounded (simpler
    whole-trail functions); write the fold directly when any trail may
    exceed executor memory. For folds expressible as window/agg
    expressions, use those — they stay JVM-side.
    """
    if chunk_size is not None and chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")

    def run(batches):
        import numpy as np

        cur_uuid = None
        started = False
        state = None

        def emit(out):
            return out is not None and len(out) > 0

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[uuid_col].to_numpy()
            change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
            starts = np.concatenate(([0], change)).astype(np.int64)
            ends = np.concatenate((change, [n])).astype(np.int64)
            for s, e in zip(starts, ends):
                u = ids[s]
                if not started or u != cur_uuid:
                    if started:
                        out = finish(state)
                        if emit(out):
                            yield out
                    cur_uuid = u
                    started = True
                    state = init(u)
                if chunk_size is None:
                    state, out = step(state, pdf.iloc[s:e])
                    if emit(out):
                        yield out
                else:
                    for cs in range(s, e, chunk_size):
                        state, out = step(state, pdf.iloc[cs : min(cs + chunk_size, e)])
                        if emit(out):
                            yield out
        if started:
            out = finish(state)
            if emit(out):
                yield out

    clustered = df.repartition(uuid_col).sortWithinPartitions(uuid_col, time_col)
    return clustered.mapInPandas(run, schema=schema)


def _session_fold(gap: int, uuid_col: str, time_col: str):
    """The reference tutorial's session count
    (`examples/tutorial_wikipedia_sessions.c:26-47`) as an
    ``(init, step, finish)`` cursor fold: state is (last timestamp,
    session count, event count), O(1) per trail no matter how many events
    stream through. Shared by the batch walker and the streaming cursor,
    so their outputs coincide."""
    import pandas as pd

    def init(u):
        return {"uuid": u, "last": None, "sessions": 0, "events": 0}

    def step(st, chunk):
        ts = chunk[time_col].to_numpy()
        if len(ts):
            gaps = int((ts[1:] - ts[:-1] > gap).sum())
            if st["last"] is None:
                st["sessions"] += 1 + gaps
            else:
                st["sessions"] += gaps + (1 if ts[0] - st["last"] > gap else 0)
            st["last"] = int(ts[-1])
            st["events"] += len(ts)
        return st, None

    def finish(st):
        return pd.DataFrame(
            {
                uuid_col: [st["uuid"]],
                "num_sessions": [st["sessions"]],
                "num_events": [st["events"]],
            }
        )

    return init, step, finish


def session_stats_chunked(
    df: DataFrame,
    gap: int = 1800,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    chunk_size: int | None = None,
) -> DataFrame:
    """``session_stats`` computed through the bounded-memory chunked
    cursor path (:func:`_session_fold`) — same output as the window
    formulation (the parity is oracle-checked)."""
    uuid_t = dict(df.dtypes)[uuid_col]  # follow the caller's uuid type
    return apply_to_trails_chunked(
        df.select(uuid_col, time_col),
        *_session_fold(gap, uuid_col, time_col),
        schema=f"{uuid_col} {uuid_t}, num_sessions long, num_events long",
        uuid_col=uuid_col,
        time_col=time_col,
        chunk_size=chunk_size,
    )


def trail_similarity_pairs(
    df: DataFrame,
    feature: Column,
    uuid_col: str = UUID_COL,
    max_trails_per_feature: int = 1000,
    min_jaccard_ppm: int = 0,
) -> DataFrame:
    """Behavioral trail similarity: exact Jaccard overlap (ppm) between
    the distinct FEATURE SETS of every pair of trails that share at
    least one feature — the "users who behave alike" cohorting a
    TrailDB caller writes as a double cursor loop, distributed as one
    feature-keyed self-join. ``feature`` is any per-event Column (an
    event field, a concat of fields, a bigram built with lag/lead —
    caller's choice of what "behavior" means).

    Delegates to :func:`~.dedup.set_jaccard_pairs`: the
    ``max_trails_per_feature`` ubiquity cap is the skew guard (a
    feature every trail has — 'click' — would fan out O(trails²) pair
    rows) AND part of the semantics: similarity is measured over the
    non-ubiquitous feature space, where it is actually informative.
    ``min_jaccard_ppm`` prunes the output (applied after the exact
    computation — it bounds result size, not the join).

    Returns ``(uuid_a, uuid_b, features_a, features_b, shared,
    jaccard_ppm)`` with ``uuid_a < uuid_b``.
    """
    from .dedup import set_jaccard_pairs

    feats = df.select(F.col(uuid_col).alias("uuid"), feature.alias("f"))
    return set_jaccard_pairs(
        feats,
        "uuid",
        "f",
        max_ids_per_feature=max_trails_per_feature,
        min_jaccard_ppm=min_jaccard_ppm,
    ).select(
        F.col("id_a").alias("uuid_a"),
        F.col("id_b").alias("uuid_b"),
        F.col("size_a").alias("features_a"),
        F.col("size_b").alias("features_b"),
        "shared",
        "jaccard_ppm",
    )


def trail_vectors(
    df: DataFrame,
    field: str = "event_type",
    uuid_col: str = UUID_COL,
    max_lexicon: int = 10_000,
) -> DataFrame:
    """Bag-of-events vector per trail: ``(uuid, n_events, vec)`` where
    ``vec[i]`` counts the i-th lexicon value (ascending value order —
    the deterministic dense-id convention of `lexicon_dump`) in the
    trail. The bridge from trails to the vector stack: feed ``vec``
    (cast to float) to `similarity`/`dedup` SRP/IVF operators for
    population-scale behavioral pairing — the sketch half q127's
    panel-exact Jaccard docstring promises.

    The lexicon is collected to the driver (lexicon-sized — the
    `semantic_dedup` centroid policy) and shipped as an array literal,
    so the vector layout is part of the PLAN, not a join;
    ``max_lexicon`` guards against accidentally vectorizing an
    unbounded-cardinality field (ids, urls) where a bag-of-values
    vector is the wrong tool anyway.

    Plan shape: one groupBy(uuid, value) with map-side combine, one
    groupBy(uuid) building a value→count map, then a transform over the
    literal lexicon — no pivot, no per-value joins.
    """
    lex = sorted(
        r["v"]
        for r in df.select(F.col(field).alias("v")).distinct().collect()
        if r["v"] is not None
    )
    if len(lex) > max_lexicon:
        raise ValueError(
            f"trail_vectors: {field} has {len(lex)} distinct values "
            f"(> max_lexicon={max_lexicon}) — a bag-of-values vector "
            "over an unbounded field is a modeling error; bucket or "
            "hash the field first"
        )
    counts = (
        df.filter(F.col(field).isNotNull())
        .groupBy(F.col(uuid_col).alias("uuid"), F.col(field).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per = counts.groupBy("uuid").agg(
        F.sum("cnt").alias("n_events"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("v"), F.col("cnt")))
        ).alias("m"),
    )
    lex_arr = F.array(*[F.lit(v) for v in lex])
    return per.select(
        "uuid",
        "n_events",
        F.transform(
            lex_arr, lambda v: F.coalesce(F.element_at(F.col("m"), v), F.lit(0))
        ).alias("vec"),
    )


def trail_sequence_distance(
    df: DataFrame,
    field: str = "event_type",
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    tiebreak_col: str = "event_id",
    max_lexicon: int = 90,
    max_trails: int = 2000,
    min_similarity_ppm: int = 0,
) -> DataFrame:
    """ORDER-sensitive behavioral similarity between trails: Levenshtein
    distance over the trails' event-type SEQUENCES — two users who did
    the same things in the same order score high even when their
    feature-set Jaccard (`trail_similarity_pairs`, order-blind) ties
    them with everyone else on the same pages.

    Construction: the field lexicon (bounded, guarded by
    ``max_lexicon`` <= 94) maps each value to one single-byte ASCII
    codepoint (33 + rank in value sort order — single-byte ON PURPOSE:
    DuckDB's levenshtein is byte-level while Spark's is
    character-level, so any multi-byte alphabet silently diverges
    across engines; the oracle derives the identical mapping with
    row_number + chr); each trail
    renders to a string in (time, tiebreak) order; pairwise distance is
    the engine's native ``levenshtein``. ``similarity_ppm =
    10^6 * (max_len - d) div max_len`` (1e6 = identical sequences).

    PANEL-EXACT operator: pairwise edit distance is quadratic in cohort
    size and quadratic in trail length by definition, so this runs on
    deterministic fixed-size panels (`curation.hash_bucket`, the q127
    discipline) and hard-raises above ``max_trails`` — the full-
    population screen is `trail_similarity_pairs` / MinHash; this is
    the exact refinement stage. Reference analog: per-trail cursor
    iteration renders the same sequences (src/tdb_decode.c); the
    alignment metric extends §2.9.
    """
    if not (1 <= max_lexicon <= 94) or max_trails < 2:
        raise ValueError(
            f"trail_sequence_distance: bad guards max_lexicon={max_lexicon} "
            f"(must be 1..94 — single-byte ASCII alphabet) "
            f"max_trails={max_trails}"
        )
    spark = df.sparkSession
    # NULL ≡ '' (the reference's empty-value convention, filters.py P6):
    # a NULL field would silently drop its events at the map join
    fval = F.coalesce(F.col(field).cast("string"), F.lit(""))
    lex = [
        r["v"]
        for r in df.select(fval.alias("v")).distinct().orderBy("v").limit(
            max_lexicon + 1
        ).collect()
    ]
    if len(lex) > max_lexicon:
        raise ValueError(
            f"trail_sequence_distance: field lexicon exceeds max_lexicon="
            f"{max_lexicon}; this is a panel-exact operator — screen with "
            f"trail_similarity_pairs instead"
        )
    ch_map = F.broadcast(
        spark.createDataFrame(
            [(v, chr(33 + i)) for i, v in enumerate(lex)] or [("", "")],
            "v string, ch string",
        )
    )
    seqs = (
        df.select(
            F.col(uuid_col).alias("uuid"),
            F.col(time_col).alias("t"),
            F.col(tiebreak_col).alias("tb"),
            fval.alias("v"),
        )
        .join(ch_map, "v")
        .groupBy("uuid")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(t, tb, ch))),"
                " x -> x.ch), '')"
            ).alias("seq")
        )
    )
    # seqs feeds the guard count AND both sides of the panel pair join —
    # unpersisted, the corpus render pass ran three times; panel-sized
    # (≤ max_trails rows), the bounded cartesian itself is the point
    from .dedup import _materialize

    seqs = _materialize(seqs)
    n = seqs.count()
    if n > max_trails:
        raise ValueError(
            f"trail_sequence_distance: {n} trails exceed max_trails="
            f"{max_trails}; pass a hash_bucket panel"
        )
    a = seqs.select(
        F.col("uuid").alias("uuid_a"), F.col("seq").alias("sa")
    )
    b = seqs.select(
        F.col("uuid").alias("uuid_b"), F.col("seq").alias("sb")
    )
    pairs = a.join(b, F.col("uuid_a") < F.col("uuid_b"))
    la, lb = F.length("sa"), F.length("sb")
    mx = F.greatest(la, lb)
    return (
        pairs.select(
            "uuid_a",
            "uuid_b",
            la.cast("int").alias("len_a"),
            lb.cast("int").alias("len_b"),
            F.levenshtein("sa", "sb").cast("int").alias("seq_distance"),
            F.expr(
                "CAST((greatest(length(sa), length(sb)) - levenshtein(sa, sb))"
                " * 1000000 div greatest(length(sa), length(sb)) AS BIGINT)"
            ).alias("similarity_ppm"),
        )
        .filter(F.col("similarity_ppm") >= min_similarity_ppm)
    )


def session_stats_capped(
    df: DataFrame,
    gap: int = 1800,
    max_duration: int = 24 * 3600,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    chunk_size: int | None = None,
) -> DataFrame:
    """Sessionization with BOTH cut rules production analytics uses: a
    new session opens on inactivity > ``gap`` OR when the current
    session's span would exceed ``max_duration`` (the "sessions reset
    after 24h no matter what" rule — a bot hammering every minute for a
    week is not one session). Returns (uuid, num_sessions, num_events,
    longest_session_events).

    The duration cap makes assignment a RUNNING FOLD — each session's
    start depends on where the previous one ended, which no
    fixed-frame window can express (the gap-only form is a prefix sum
    of boundary flags; this is not) — so it runs on the bounded-memory
    chunked cursor (`apply_to_trails_chunked`, the reference cursor
    contract, src/tdb_decode.c:227-329): state is (session start, last
    timestamp, counts), O(1) per trail at any trail length.
    Differentially tested against an independent sequential python
    reference; gap-only results reduce to `session_stats` exactly when
    ``max_duration`` is infinite.
    """
    if gap < 0 or max_duration <= 0:
        raise ValueError(
            f"session_stats_capped: bad gap={gap} max_duration={max_duration}"
        )
    import pandas as pd

    def init(u):
        return {
            "uuid": u,
            "start": None,  # current session's first timestamp
            "last": None,
            "sessions": 0,
            "events": 0,
            "cur_n": 0,
            "best_n": 0,
        }

    def step(st, chunk):
        for t in chunk[time_col].to_numpy():
            t = int(t)
            new = (
                st["last"] is None
                or t - st["last"] > gap
                or t - st["start"] > max_duration
            )
            if new:
                st["best_n"] = max(st["best_n"], st["cur_n"])
                st["sessions"] += 1
                st["start"] = t
                st["cur_n"] = 0
            st["last"] = t
            st["cur_n"] += 1
            st["events"] += 1
        return st, None

    def finish(st):
        return pd.DataFrame(
            {
                uuid_col: [st["uuid"]],
                "num_sessions": [st["sessions"]],
                "num_events": [st["events"]],
                "longest_session_events": [max(st["best_n"], st["cur_n"])],
            }
        )

    uuid_t = dict(df.dtypes)[uuid_col]
    return apply_to_trails_chunked(
        df.select(uuid_col, time_col),
        init,
        step,
        finish,
        schema=(
            f"{uuid_col} {uuid_t}, num_sessions long, num_events long, "
            "longest_session_events long"
        ),
        uuid_col=uuid_col,
        time_col=time_col,
        chunk_size=chunk_size,
    )
