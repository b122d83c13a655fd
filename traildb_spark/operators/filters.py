"""CNF event-filter engine.

Re-expresses the reference's query surface (reference `src/tdb.c:803-899`
filter builder, `src/tdb_decode.c:15-61` evaluator, `tdbcli/filter.c:61-140`
string parser) as a compiler from a filter spec to ONE Catalyst `Column`.
Because the output is a plain Column, Catalyst pushes the predicate into the
Parquet scan (dictionary/min-max/row-group pruning) — the Spark-native
equivalent of the reference's page-level inverted index
(`tdbcli/tdb_index.c:559-631`), with exact re-check for free.

Semantics preserved from the reference:

* CNF: clauses are ANDed; terms inside a clause are ORed
  (`src/tdb_decode.c:15-61`).
* empty string ≡ NULL — one value (`src/tdb.c:488-495,513-524`),
  implemented with explicit IsNull/IsNotNull branches rather than a
  ``coalesce`` wrapper (coalesce around the column would block Parquet
  predicate pushdown — see the inline note in ``compile``); Spark's
  three-valued logic still never drops a row the reference would keep.
* negated terms use two-valued logic: ``f != v`` matches rows where f is
  NULL/empty (the reference compares dictionary ids, which always exist).
* unknown field or unknown value → item 0: a positive term matches nothing,
  a negated term matches everything (`src/tdb_decode.c:47-52`,
  `tests/c-tests/event_filter_simple.c:138-149`). We can only detect
  unknown *fields* statically (schema); unknown *values* fall out naturally
  (equality with a value not present matches nothing).
* time-range terms are start-inclusive, end-exclusive and OR with item
  terms inside a clause (`src/tdb.c:861-879`, `src/tdb_decode.c:33-38`).
* match-all / match-none short-circuit (`src/tdb.c:818-832`) — compiled to
  literal True/False, which Catalyst constant-folds (filter elimination /
  empty relation).
* a filter with zero clauses matches everything; a clause with zero terms
  matches nothing (`tests/c-tests/event_filter_simple.c:98-110`).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import local_frame

TIME_COL = "time"


@dataclass(frozen=True)
class Term:
    """field=value or field!=value (value '' matches NULL too)."""

    field: str
    value: str
    negative: bool = False


@dataclass(frozen=True)
class TimeRange:
    """start <= time < end (end-exclusive, reference src/tdb.c:861-879)."""

    start: int
    end: int


ClauseTerm = Union[Term, TimeRange]


@dataclass
class EventFilter:
    """A CNF filter: AND of clauses, each clause an OR of terms.

    Mirrors the reference builder API
    (``tdb_event_filter_new/new_clause/add_term/add_time_range``,
    `src/tdb.c:803-899`) but keeps the spec as plain data so it is
    introspectable (reference `src/tdb.c:901-1044`) and serializable.
    """

    clauses: list[list[ClauseTerm]] = dc_field(default_factory=list)
    match_all: bool = False
    match_none: bool = False

    # -- builder API -------------------------------------------------------
    @classmethod
    def all(cls) -> "EventFilter":
        return cls(match_all=True)

    @classmethod
    def none(cls) -> "EventFilter":
        return cls(match_none=True)

    def new_clause(self) -> "EventFilter":
        self.clauses.append([])
        return self

    def _ensure_clause(self) -> list[ClauseTerm]:
        if not self.clauses:
            self.clauses.append([])
        return self.clauses[-1]

    def add_term(self, field: str, value: str, negative: bool = False) -> "EventFilter":
        self._ensure_clause().append(Term(field, value, negative))
        return self

    def add_time_range(self, start: int, end: int) -> "EventFilter":
        self._ensure_clause().append(TimeRange(int(start), int(end)))
        return self

    # -- introspection (reference src/tdb.c:901-1044) ----------------------
    def num_clauses(self) -> int:
        return len(self.clauses)

    def num_terms(self, clause: int) -> int:
        return len(self.clauses[clause])

    def get_term(self, clause: int, term: int) -> ClauseTerm:
        return self.clauses[clause][term]

    def term_fields(self) -> set[str]:
        """Field names referenced by item terms (time ranges excluded) —
        used by the index router (`TrailDataset.df`) to decide whether an
        auxiliary z-ordered copy covers this filter, the analog of the
        reference matching CNF items against its inverted index
        (`tdbcli/tdb_index.c:559-631`)."""
        return {
            t.field
            for clause in self.clauses
            for t in clause
            if isinstance(t, Term)
        }

    # -- compiler ----------------------------------------------------------
    def compile(
        self,
        schema_fields: list[str] | None = None,
        time_col: str = TIME_COL,
    ) -> Column:
        """Compile to a single Catalyst Column (the whole point).

        ``schema_fields``: known field names; terms referencing unknown
        fields get the reference's item-0 semantics. Pass None to skip the
        check (all fields assumed known).
        """
        if self.match_none:
            return F.lit(False)
        if self.match_all or not self.clauses:
            return F.lit(True)

        clause_cols: list[Column] = []
        for clause in self.clauses:
            if not clause:
                # empty clause matches nothing → whole filter matches nothing
                clause_cols.append(F.lit(False))
                continue
            term_cols: list[Column] = []
            for t in clause:
                if isinstance(t, TimeRange):
                    c = (F.col(time_col) >= F.lit(t.start)) & (F.col(time_col) < F.lit(t.end))
                else:
                    known = schema_fields is None or t.field in schema_fields
                    if not known:
                        # item 0: positive matches nothing, negative everything
                        c = F.lit(bool(t.negative))
                    else:
                        # ''≡NULL duality (reference src/tdb.c:488-495,
                        # 520-524) expressed WITHOUT coalesce(): a coalesce
                        # wrapper blocks Parquet predicate pushdown, turning
                        # every filtered scan into a full read. These
                        # branches are semantically identical (explicit
                        # three-valued logic) and every leaf is a pushable
                        # IsNull/EqualTo/Not(EqualTo).
                        col = F.col(t.field).cast("string")
                        if t.negative:
                            if t.value == "":
                                c = col.isNotNull() & (col != F.lit(""))
                            else:
                                c = col.isNull() | (col != F.lit(t.value))
                        else:
                            if t.value == "":
                                c = col.isNull() | (col == F.lit(""))
                            else:
                                c = col == F.lit(t.value)
                term_cols.append(c)
            acc = term_cols[0]
            for c in term_cols[1:]:
                acc = acc | c
            clause_cols.append(acc)
        out = clause_cols[0]
        for c in clause_cols[1:]:
            out = out & c
        return out

    def apply(self, df: DataFrame, time_col: str = TIME_COL) -> DataFrame:
        return df.filter(self.compile(df.columns, time_col=time_col))


def parse_filter(text: str) -> EventFilter:
    """Parse the reference CLI filter language → EventFilter.

    Grammar (reference `tdbcli/filter.c:61-140`): terms separated by
    whitespace OR within a clause; ``&`` separates clauses (AND);
    ``field=value`` / ``field!=value``; ``field=`` matches empty/NULL;
    a value of ``@path`` reads the value from a file.
    Extension: ``time>=S<E`` is not in the reference CLI (time ranges are
    API-only there); we accept ``time:[S,E)`` as a term for completeness.
    """
    f = EventFilter()
    text = text.strip()
    if not text:
        return EventFilter.all()
    for raw_clause in text.split("&"):
        if not raw_clause.strip():
            # 'a=1 &' / 'a=1 && b=2': an empty clause would compile to
            # lit(False) and silently turn the WHOLE filter into
            # match-nothing — reject the malformed expression instead
            raise ValueError(f"empty clause in filter expression: {text!r}")
        f.new_clause()
        for tok in raw_clause.split():
            if tok.startswith("time:[") and tok.endswith(")"):
                body = tok[len("time:[") : -1]
                start_s, end_s = body.split(",")
                f.add_time_range(int(start_s), int(end_s))
                continue
            # reference grammar (tdbcli/filter.c): scan for the FIRST '='
            # and inspect the char before it — '!=' inside a VALUE must
            # stay part of the value ('note=a!=b' is field 'note',
            # positive value 'a!=b', not a negated 'note=a' term)
            eq = tok.find("=")
            if eq < 0:
                raise ValueError(f"bad filter term: {tok!r}")
            if eq > 0 and tok[eq - 1] == "!":
                fld, val = tok[: eq - 1], tok[eq + 1 :]
                neg = True
            else:
                fld, val = tok[:eq], tok[eq + 1 :]
                neg = False
            if val.startswith("@"):
                with open(val[1:], "r", encoding="utf-8") as fh:
                    val = fh.read().rstrip("\n")
            f.add_term(fld, val, negative=neg)
    return f


# Largest literal whitelist sent through ``isin``. Each literal costs one
# py4j call (~0.6 ms on 4 cores); the broadcast semi-join instead pays for
# createDataFrame and a broadcast job, a near-constant cost. Whole queries
# against a 120-file, 4000-trail dataset, median of 5 (isin / semi-join):
# 10 uuids 562 / 989 ms, 100: 552 / 901 ms, 250: 566-723 / 734-805 ms,
# 500: 787-822 / 677-703 ms, 1k: 1224 / 674 ms, 10k: 8911 / 866 ms.
MAX_PUSHED_UUIDS = 256


def uuid_whitelist(df: DataFrame, uuids: list[str] | DataFrame, uuid_col: str = "uuid") -> DataFrame:
    """Restrict to trails in the whitelist (reference ``--uuids``,
    `tdbcli/filter.c:142-243`: match-none db filter + match-all overrides).

    A driver-provided list of up to ``MAX_PUSHED_UUIDS`` uuids becomes an
    ``isin`` predicate, which Parquet receives as a pushed ``In`` filter:
    no whitelist relation, no join, no broadcast job. A longer list rides
    an explicitly broadcast semi-join (no shuffle of the big side). A
    DataFrame whitelist is left UNhinted: F.broadcast is a hard override
    that would force a multi-GB whitelist through the driver — without
    the hint Catalyst/AQE broadcast when it fits the threshold and fall
    back to a shuffle semi-join when it doesn't.
    """
    if isinstance(uuids, DataFrame):
        wl = uuids.select(
            F.lower(F.col(uuids.columns[0]).cast("string")).alias(uuid_col)
        ).distinct()
        return df.join(wl, uuid_col, "left_semi")
    # normalize to the engine's canonical lowercase uuid form
    # (normalize_events lowercases at ingest — a raw uppercase-hex
    # whitelist would otherwise silently match nothing); an empty list is
    # the reference's match-none db filter
    wanted = sorted({u.lower() for u in uuids})
    if len(wanted) <= MAX_PUSHED_UUIDS:
        return df.filter(F.col(uuid_col).isin(wanted))
    wl = local_frame(df.sparkSession, [(u,) for u in wanted], f"{uuid_col} string")
    return df.join(F.broadcast(wl), uuid_col, "left_semi")


def trail_filter_spec_join(
    df: DataFrame,
    spec: DataFrame,
    id_cols: tuple[str, ...] = ("uuid", "time", "event_id"),
    db_filter: EventFilter | None = None,
    uuid_col: str = "uuid",
    time_col: str = TIME_COL,
    max_terms_per_trail: int | None = 10_000,
) -> DataFrame:
    """Per-trail filter overrides as a JOIN against a filter-spec TABLE —
    the scale form of :func:`trail_filter_overrides` (reference
    ``tdb_set_trail_opt``, `src/tdb.c:753-778`). The CASE-expression
    form compiles every distinct override into the plan, which stops
    scaling somewhere in the thousands of distinct filters; a
    million-trail override map is DATA, so here it stays data:

    ``spec`` columns: ``(uuid, clause, field, value, negative)`` — one
    row per CNF term, ``clause`` numbering clauses within the trail's
    filter (terms of one clause OR together, clauses AND). Reference
    term semantics apply: '' matches NULL/empty, negation is
    two-valued, a ``field`` not in the schema gets item-0 semantics
    (positive term never matches, negated always —
    `src/tdb_decode.c:47-52`). Trails absent from ``spec`` fall back to
    ``db_filter`` (resolution order trail > db,
    `src/tdb_decode.c:136-181`).

    ``id_cols`` must uniquely identify an event (the engine's standard
    (uuid, time, event_id) tiebreak): term matches aggregate per event
    and join back on it — deterministic under retries, unlike a
    monotonically-increasing surrogate. Shuffle accounting: one
    uuid-keyed join (events × their OWN trail's terms — bounded by
    spec-per-trail, never cross-trail), two event-keyed aggregates, one
    id join back. All linear; nothing trail-count-shaped reaches the
    driver or the plan.

    The "bounded by spec-per-trail" claim is ENFORCED, not assumed:
    ``max_terms_per_trail`` (default 10k) raises loudly if any trail's
    spec exceeds it — a pathological spec (thousands of terms on a whale
    trail) would otherwise silently multiply that trail's events in the
    join. The check is one aggregate over the spec table (spec-sized,
    never event-sized); pass ``None`` to skip it for trusted specs.
    Spec rows with a NULL ``uuid``/``clause``/``field``/``value``/
    ``negative`` raise at execution (a NULL would otherwise ride through
    the max/min aggregates into a NULL keep flag and silently flip the
    trail onto the db-filter branch).
    """
    fields = [c for c in df.columns if c != uuid_col]
    spec_ok = (
        F.col("uuid").isNotNull()
        & F.col("clause").isNotNull()
        & F.col("field").isNotNull()
        & F.col("value").isNotNull()
        & F.col("negative").isNotNull()
    )
    # assert_true returns NULL when the row is valid; folding it into the
    # __neg expression (instead of a dropped side column) keeps it alive
    # through column pruning
    neg_checked = F.coalesce(
        F.assert_true(
            spec_ok,
            F.lit(
                "trail_filter_spec_join: spec row with NULL "
                "uuid/clause/field/value/negative — fix the spec table "
                "(NULLs would silently flip the trail to the db filter)"
            ),
        ).cast("boolean"),
        F.col("negative").cast("boolean"),
    )
    sp = spec.select(
        F.lower(F.col("uuid").cast("string")).alias(uuid_col),
        F.col("clause").cast("long").alias("__clause"),
        F.col("field").cast("string").alias("__field"),
        F.col("value").cast("string").alias("__value"),
        neg_checked.alias("__neg"),
    )
    if max_terms_per_trail is not None:
        whale = (
            sp.groupBy(uuid_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_terms_per_trail))
            .limit(1)
            .collect()
        )
        if whale:
            raise ValueError(
                f"trail_filter_spec_join: trail {whale[0][uuid_col]!r} has "
                f"{whale[0]['__n']} spec terms (> max_terms_per_trail="
                f"{max_terms_per_trail}); the events-by-terms join fan-out "
                "for that trail would be unbounded. Split the filter, raise "
                "max_terms_per_trail explicitly, or pass None to bypass."
            )

    def term_for(col_name: str) -> Column:
        col = F.col(col_name).cast("string")
        v = F.col("__value")
        # NULL-safe: a positive non-empty term against a NULL column is
        # FALSE, not SQL NULL — a NULL here would ride through the
        # max/min aggregates into a NULL keep flag and flip the row into
        # the "no override" db-filter branch (the compiled-Column form
        # gets this for free from WHERE semantics; the aggregate path
        # must be explicit)
        pos = F.when(
            v == "", col.isNull() | (col == F.lit(""))
        ).otherwise(col.isNotNull() & (col == v))
        neg = F.when(
            v == "", col.isNotNull() & (col != F.lit(""))
        ).otherwise(col.isNull() | (col != v))
        return F.when(F.col("__neg"), neg).otherwise(pos)

    match: Column = None  # type: ignore[assignment]
    for c in fields:
        branch = F.when(F.col("__field") == c, term_for(c))
        match = branch if match is None else match.when(
            F.col("__field") == c, term_for(c)
        )
    # unknown field → item-0 semantics
    match = (
        match.otherwise(F.col("__neg")) if match is not None else F.col("__neg")
    )

    ids = list(id_cols)
    joined = df.join(sp, uuid_col, "inner").withColumn("__match", match)
    per_clause = joined.groupBy(*ids, "__clause").agg(
        F.max("__match").alias("__sat")
    )
    per_event = per_clause.groupBy(*ids).agg(
        F.min("__sat").alias("__keep")
    )
    out = df.join(per_event, ids, "left")
    base = (
        db_filter.compile(df.columns, time_col)
        if db_filter is not None
        else F.lit(True)
    )
    # trails with a spec use its verdict; others use the db filter;
    # re-select to preserve the caller's column order (the id join moves
    # key columns to the front)
    return out.filter(
        F.when(F.col("__keep").isNotNull(), F.col("__keep")).otherwise(base)
    ).select(*df.columns)


def trail_filter_overrides(
    df: DataFrame,
    db_filter: EventFilter | None,
    overrides: dict[str, EventFilter],
    uuid_col: str = "uuid",
    time_col: str = TIME_COL,
) -> DataFrame:
    """Per-trail filter overrides (reference ``tdb_set_trail_opt``,
    `src/tdb.c:753-778`; resolution order trail > db,
    `src/tdb_decode.c:136-181`).

    Implemented as a CASE over the uuid: each distinct override filter
    becomes one WHEN branch guarded by ``uuid IN (...)``; trails without an
    override use the db filter. Branch predicates stay pure Column
    expressions, so pushdown still applies per-branch. For very large
    override maps, group uuids by identical filter first (done here) — the
    documented uses (whitelist/blacklist, technical_overview.md:163-196)
    produce only 1-2 distinct filters.
    """
    fields = df.columns
    base = db_filter.compile(fields, time_col) if db_filter is not None else F.lit(True)
    if not overrides:
        return df.filter(base)
    # group uuids by identical filter spec to minimize branches
    by_spec: dict[str, tuple[EventFilter, list[str]]] = {}
    for u, filt in overrides.items():
        key = repr(filt)
        # canonical lowercase uuid form, same normalization as
        # uuid_whitelist — an uppercase-hex override key would otherwise
        # silently never apply
        by_spec.setdefault(key, (filt, []))[1].append(u.lower())
    expr = None
    covered = None
    for filt, uuids in by_spec.values():
        cond = F.col(uuid_col).isin(uuids)
        branch = cond & filt.compile(fields, time_col)
        expr = branch if expr is None else (expr | branch)
        covered = cond if covered is None else (covered | cond)
    expr = expr | (~covered & base)
    return df.filter(expr)
