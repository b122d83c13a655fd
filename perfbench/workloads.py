"""The two workloads, the closed-loop client loop and the per-layer
metrics. Each workload generates its inputs from the seed (cached), runs an
untimed warm-up, is set up three times (timed), then runs rounds of calls
into the public API until the run's time is up, checking every output
against the generator's closed form.

Why these two: ``batch`` is the only one that writes (CSV and .tdb decode,
shuffle, sort, Parquet write, index build), then scans what it wrote with
the cursor programs (shuffle, sort, window, Arrow transfer, a whale trail
as the slowest task) and deduplicates a document corpus (the MinHash
operators and the Arrow shingle kernels); ``point_queries`` is bound by
planning, scheduling and how much of the layout a scan can skip, with no
shuffle.
"""

from __future__ import annotations

import io
import json
import math
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd

import gen
from instrument import median, self_times

# Sizes keep a batch round near one run's length on 4 cores, so that a
# steadiness sweep of both workloads fits its time budget (see README.md).
BATCH_TRAILS = 1000
WARM_TRAILS = 100
CORPUS_DOCS, CORPUS_NEW = 1000, 200
WARM_DOCS, WARM_NEW = 100, 20
POINT_TRAILS = 4000
SEEDS_PER_DATASET = 100
WARM_REQUESTS = 20
INDEX_COLS = ["event_type", "country"]
TIME_SHARD = "yyyy-MM-dd"


def run_op(tracer, name: str, items: int, ops: list, fn, check, leaf: bool = True):
    """Times one op. ``check(result)`` returns True when the output matches
    the closed form; an op that raises or fails its check counts as
    failed and the loop goes on. ``leaf`` ops are one call into the
    program (their Spark stages are read when traced); composite ops
    open a plain span around the calls ``fn`` makes itself."""
    rec = {"name": name, "items": items, "ok": False, "s": float("nan")}
    try:
        if leaf:
            with tracer.call(name, rec):
                res = fn()
        else:
            with tracer.span(name):
                t0 = time.perf_counter()
                res = fn()
                rec["s"] = time.perf_counter() - t0
        rec["ok"] = bool(check(res))
        if not rec["ok"]:
            print(f"check failed: {name}: {str(res)[:500]}", file=sys.stderr)
    except Exception:
        traceback.print_exc(file=sys.stderr)
    ops.append(rec)
    return rec


def checksum_agg(df, *extra):
    """Forces every column of ``df``: row count, an xxhash64 checksum over
    all columns (never a bare count(), which lets Catalyst prune columns
    and skip window work) plus ``extra`` aggregates."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("xx"),
        *extra,
    )


def checksum_row(df, *extra):
    return checksum_agg(df, *extra).collect()[0]


def force_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(s: pd.Series) -> pd.Series:
    return s


def warm_workers(spark) -> None:
    """Forks the session's Python workers (a fresh session has none) and
    makes each import pandas and pyarrow, as every workload's first pandas
    UDF or Arrow call would otherwise do inside a timed op."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    force_noop(spark.range(0, 4 * n, 1, n).select(F.pandas_udf(_identity, "long")("id")))


def dir_stats(path: Path, skip_index: bool = False) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` (not counting
    checksums and markers; without ``_zindex`` when ``skip_index``)."""
    total = files = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if skip_index:
            dirnames[:] = [d for d in dirnames if d != "_zindex"]
        for f in filenames:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, f))
            files += 1
    return total, files


class Workload:
    name = ""
    min_rounds = 1  # whole rounds a run measures, however long they take

    def __init__(self, seed: int, work: Path, program: str):
        self.seed = seed
        self.work = work
        self.program = program
        self.inputs_sha256 = ""
        self.spark = None

    def cache(self, tag: str, keyed_by_program: bool = False, seed: int | None = None) -> Path:
        key = f"{tag}-g{gen.GEN_VERSION}-s{self.seed if seed is None else seed}"
        if keyed_by_program:
            key += f"-p{self.program}"
        return self.work / "cache" / key

    @staticmethod
    def build_once(path: Path, fill) -> Path:
        """Fills ``path`` via ``fill(tmpdir)`` unless it exists; the rename
        makes a half-written cache entry impossible."""
        if not path.exists():
            tmp = path.with_name(path.name + f".tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            fill(tmp)
            os.replace(tmp, path)
        return path

    def prepare(self, spark) -> None:
        pass

    def open(self, spark):
        raise NotImplementedError

    def warm(self, state) -> None:
        """The light warm-up inside each timed set-up."""
        raise NotImplementedError

    def warm_round(self, state, tracer) -> None:
        """One untimed round in the JVM's first session (on a small slice
        where a full one is costly), so the measured rounds find the JVM's
        compiled code and Spark's generated classes in place (a cold first
        pass ran twice as slow)."""
        raise NotImplementedError

    def mix(self) -> dict[str, int]:
        """Op name -> ops of that name in one round."""
        raise NotImplementedError

    def round(self, state, tracer, ops, stop) -> None:
        """One round of ops; returns early once ``stop()`` is true."""
        raise NotImplementedError


# -- batch: write a dataset, then scan what was written ----------------------------


def _events_files(ev: gen.Events, d: Path) -> None:
    """Half the rows (the generator's order is already shuffled) as CSV,
    the other half as a native .tdb written by the program's own encoder,
    plus the closed forms of everything a round checks."""
    from traildb_spark.sources.tdbfile import write_tdb

    half = ev.n // 2
    with open(d / "events.csv", "w", newline="") as fh:
        gen.write_events_csv(ev, fh, np.arange(half))
    write_tdb(ev.row_strings(np.arange(half, ev.n)), list(gen.FIELDS), str(d / "events.tdb"))
    rest = io.StringIO()  # the .tdb half as CSV: the denominator of bytes stored per input byte
    gen.write_events_csv(ev, rest, np.arange(half, ev.n))
    gen.save_json({
        "csv_bytes": os.path.getsize(d / "events.csv") + len(rest.getvalue().encode()),
        "sha256": gen.sha256_arrays(ev.arrays()),
        "buy_rows": int((ev.event_type == gen.EVENT_TYPES.index("buy")).sum()),
        **gen.trail_scan_expect(ev),
    }, str(d / "expect.json"))


def _corpus_files(c: gen.Corpus, d: Path) -> None:
    gen.write_docs_parquet(0, c.texts, str(d / "corpus.parquet"))
    gen.write_docs_parquet(len(c.texts), c.new_texts, str(d / "new.parquet"))
    gen.save_json({
        "sha256": gen.sha256_arrays(c.arrays()), "docs": len(c.texts),
        "new": len(c.new_texts), "text_mb": sum(len(t.encode()) for t in c.texts) * 1e-6,
        "group": c.group.tolist(), "pairs": c.pairs.tolist(),
        "new_match": c.new_match.tolist(),
    }, str(d / "expect.json"))


class Batch(Workload):
    """TrailDB's write-once, scan-many job: a round writes a dataset from
    CSV and native .tdb inputs, runs six cursor programs over it, then
    deduplicates a corpus and a new batch of documents against it."""

    name = "batch"

    def generate(self) -> None:
        def inputs(trails):
            return lambda d: _events_files(gen.make_events(self.seed, trails), d)

        self.main = self.build_once(self.cache(f"batch-t{BATCH_TRAILS}", True),
                                    inputs(BATCH_TRAILS))
        self.small = self.build_once(self.cache(f"batch-t{WARM_TRAILS}", True),
                                     inputs(WARM_TRAILS))
        self.expect = json.loads((self.main / "expect.json").read_text())

        def corpus(docs, new):
            return self.build_once(self.cache(f"corpus-d{docs}-n{new}"),
                                   lambda d: _corpus_files(gen.make_corpus(self.seed, docs, new), d))

        self.corpus = corpus(CORPUS_DOCS, CORPUS_NEW)
        self.small_corpus = corpus(WARM_DOCS, WARM_NEW)
        self.dedup = DedupCheck(json.loads((self.corpus / "expect.json").read_text()))
        self.inputs_sha256 = gen.sha256_arrays([np.frombuffer(
            (self.expect["sha256"] + self.dedup.e["sha256"]).encode(), np.uint8)])
        self.out = self.work / f"out-{os.getpid()}"
        self.passes = 0

    def sizes(self) -> dict:
        return {"events": self.expect["events"], "trails": self.expect["trails"],
                "csv_bytes": self.expect["csv_bytes"],
                "tdb_bytes": dir_stats(self.main / "events.tdb")[0],
                "docs": self.dedup.e["docs"], "new_docs": self.dedup.e["new"],
                "planted_pairs": len(self.dedup.pairs)}

    def open(self, spark):
        self.spark = spark
        return None

    def warm(self, state) -> None:
        """Python workers for the .tdb decode kernel and the fold programs."""
        warm_workers(self.spark)

    def warm_round(self, state, tracer) -> None:
        """A round over a 100-trail slice and a 100-doc corpus, unchecked.
        The dedup runs beside the ingest, and the programs beside each other
        once the ingest is done (they only read), which halves the
        warm-up's wall time."""
        with ThreadPoolExecutor(1 + len(PROGRAMS)) as pool:
            dedup = pool.submit(self._dedup, tracer, [], self.small_corpus, None)
            ds = self._ingest(tracer, [], self.small, None)
            list(pool.map(lambda name: run_program(ds, name, tracer, [], None), PROGRAMS))
            dedup.result()
        shutil.rmtree(self.out, ignore_errors=True)

    def mix(self) -> dict[str, int]:
        return {"ingest": 1, **{program_op(p): 1 for p in PROGRAMS},
                **{f"operators.dedup.{d}": 1 for d in DEDUP_OPS}}

    def round(self, state, tracer, ops, stop) -> None:
        ds = self._ingest(tracer, ops, self.main, self.expect)
        if ds is not None:
            for name in PROGRAMS:
                if stop():
                    break
                run_program(ds, name, tracer, ops, self.expect)
        shutil.rmtree(self.out, ignore_errors=True)
        if not stop():
            self._dedup(tracer, ops, self.corpus, self.dedup)

    def _dedup(self, tracer, ops, src: Path, check: "DedupCheck | None") -> None:
        """``dedup_fuzzy`` over the corpus, then ``fuzzy_dedup_against`` of
        the new batch; items are documents. When traced, the Arrow shingle
        kernel also runs alone, as a projection forced by an aggregate."""
        from pyspark.sql import functions as F

        from traildb_spark import dedup
        from traildb_spark.functions.vectorized import char_shingle_hashes_udf

        corpus = self.spark.read.parquet(str(src / "corpus.parquet"))
        new = self.spark.read.parquet(str(src / "new.parquet"))
        docs = check.e["docs"] if check else 0
        if tracer.enabled and check:
            run_op(tracer, "functions.vectorized.char_shingle_hashes_udf", docs, ops,
                   lambda: corpus.select(char_shingle_hashes_udf(F.col("text")).alias("h"))
                   .agg(F.sum(F.size("h")), F.bit_xor(F.xxhash64("h"))).collect()[0],
                   lambda r: r[0] > 0)
        run_op(tracer, "operators.dedup.dedup_fuzzy", docs, ops,
               lambda: dedup.dedup_fuzzy(corpus).toPandas(),
               check.fuzzy if check else lambda r: True)
        run_op(tracer, "operators.dedup.fuzzy_dedup_against",
               docs + (check.e["new"] if check else 0), ops,
               lambda: dedup.fuzzy_dedup_against(new, corpus, num_hashes=64, bands=16,
                                                 threshold=0.7).toPandas(),
               check.against if check else lambda r: True)
        if check:  # operators.dedup keeps its intermediates persisted for the session
            self.spark.catalog.clearCache()

    def _ingest(self, tracer, ops, src: Path, expect: dict | None):
        """make_from_csv + open_tdb -> merge -> finalize(daily shards) ->
        build_index into a fresh directory; returns it opened."""
        from traildb_spark import TrailDataset
        from traildb_spark.sources.make import make_from_csv

        spark = self.spark
        self.passes += 1
        out = self.out / f"pass{self.passes}"
        out.parent.mkdir(parents=True, exist_ok=True)
        fields = ["uuid", "time", *gen.FIELDS]
        facts, written = {}, {}

        def fn():
            with tracer.call("sources.make.make_from_csv"):
                a = make_from_csv(spark, str(src / "events.csv"), fields=fields)
            if tracer.enabled:  # the decode cost itself, which finalize hides
                with tracer.call("sources.make.make_from_csv.decode"):
                    force_noop(a.df)
            with tracer.call("sources.tdbfile.open_tdb"):
                b = TrailDataset.open_tdb(spark, str(src / "events.tdb"))
            if tracer.enabled:
                with tracer.call("sources.tdbfile.open_tdb.decode"):
                    force_noop(b.df)
            with tracer.call("dataset.merge"):
                m = TrailDataset.merge([a, b])
            with tracer.call("dataset.finalize"):
                m.finalize(str(out), time_shard=TIME_SHARD)
            with tracer.call("dataset.build_index"):
                TrailDataset.build_index(spark, str(out), INDEX_COLS)
            if tracer.enabled:
                with tracer.overhead():
                    facts["finalize"] = dir_stats(out, skip_index=True)
                    facts["index"] = dir_stats(out / "_zindex")
            with tracer.call("dataset.open"):
                written["ds"] = TrailDataset.open(spark, str(out))
            return written["ds"]

        def check(ds):
            # the programs that follow check the content; here, that the
            # index was registered and answers a filter routed to it
            if expect is None:
                return True
            with tracer.call("bench.check"):
                routed = ds.with_filter(_parse("event_type=buy")).df
                return _routed(routed) and checksum_row(routed)["rows"] == expect["buy_rows"]

        rec = run_op(tracer, "ingest", expect["events"] if expect else 0, ops, fn, check,
                     leaf=False)
        rec.update(facts)
        return written.get("ds")


DEDUP_OPS = ("dedup_fuzzy", "fuzzy_dedup_against")


class DedupCheck:
    """Checks dedup outputs against the planted groups and keeps the
    quality figures of the last check."""

    def __init__(self, e: dict):
        self.e = e
        group = np.array(e["group"], dtype=np.int64)
        self.pairs = np.array(e["pairs"], dtype=np.int64).reshape(-1, 2)
        self.new_match = np.array(e["new_match"], dtype=np.int64)
        # a doc's planted group, or a singleton group of its own
        self.key = np.where(group >= 0, group, -1 - np.arange(len(group)))
        self.quality: dict[str, float] = {}

    def fuzzy(self, pdf) -> bool:
        """Every doc labelled; every planted pair (and every exact-copy
        group) in one component; no component joins two planted groups."""
        comp = np.full(len(self.key), -1, dtype=np.int64)
        comp[pdf["doc_id"].to_numpy()] = pdf["component"].to_numpy()
        if len(pdf) != len(self.key) or (comp < 0).any():
            return False
        a, b = self.pairs[:, 0], self.pairs[:, 1]
        self.quality["recall"] = float((comp[a] == comp[b]).mean()) if len(a) else 1.0
        # one key per component and one component per key
        pairs = np.unique(np.stack([comp, self.key], axis=1), axis=0)
        one_to_one = (len(np.unique(pairs[:, 0])) == len(pairs)
                      and len(np.unique(pairs[:, 1])) == len(pairs))
        return self.quality["recall"] == 1.0 and one_to_one

    def against(self, pdf) -> bool:
        """Exactly the planted edits of the new batch match, each once and
        each to a doc of the edited doc's group."""
        new_ids = pdf["new_id"].to_numpy() - self.e["docs"]
        planted = self.new_match[new_ids]
        good = (planted >= 0) & (self.key[pdf["corpus_id"].to_numpy()]
                                 == self.key[np.maximum(planted, 0)])
        self.quality["pairs_emitted"] = len(pdf)
        self.quality["pair_precision"] = float(good.mean()) if len(pdf) else 1.0
        return (bool(good.all()) and int(good.sum()) == int((self.new_match >= 0).sum())
                and len(np.unique(new_ids)) == len(new_ids))


def _parse(text: str):
    from traildb_spark import parse_filter

    return parse_filter(text)


def _routed(df) -> bool:
    """True when the query reads the z-index copy instead of the primary."""
    return any("/_zindex/" in f for f in df.inputFiles())


WINDOW_PROGRAMS = ("session_stats", "only_diff_items", "merged_trail_stream", "funnel_times")
FOLD_PROGRAMS = ("session_stats_chunked", "apply_to_trails")
PROGRAMS = WINDOW_PROGRAMS + FOLD_PROGRAMS


def _trail_pages(pdf):
    return pd.DataFrame({"uuid": [pdf["uuid"].iloc[0]], "n": [len(pdf)],
                         "pages": [int(pdf["page"].nunique())]})


def run_program(ds, name, tracer, ops, e) -> None:
    """Runs one cursor program over the dataset, forced by a checksum
    aggregate; ``e`` holds the closed forms (None: unchecked)."""
    from pyspark.sql import functions as F

    from traildb_spark import analytics, trails

    df = ds.df
    if name in ("session_stats", "session_stats_chunked"):
        def fn():
            out = getattr(trails, name)(df)
            return checksum_row(out, F.sum("num_sessions").alias("s"),
                                F.sum(F.col("num_sessions") * F.col("num_sessions")).alias("s2"),
                                F.sum("num_events").alias("n"))

        def check(r):
            return (r["rows"], r["s"], r["s2"], r["n"]) == (
                e["trails"], e["sessions"], e["sessions_sq"], e["events"])
    elif name == "only_diff_items":
        def fn():
            out = trails.only_diff_items(df)
            return checksum_row(out, *[F.sum((F.col(c) != "").cast("long")).alias(c)
                                       for c in gen.FIELDS])

        def check(r):
            return r["rows"] == e["events"] and all(
                r[c] == e["diff_items"][c] for c in gen.FIELDS)
    elif name == "merged_trail_stream":
        mid = gen.T0 + gen.SPAN_DAYS // 2 * gen.DAY
        halves = [ds.with_filter(_parse(f"time:[0,{mid})")).df,
                  ds.with_filter(_parse(f"time:[{mid},{2**40})")).df]

        def fn():
            out = trails.merged_trail_stream(halves)
            return checksum_row(out, F.sum("event_pos").alias("pos"))

        def check(r):
            return r["rows"] == e["events"] and r["pos"] == e["event_pos_sum"]
    elif name == "funnel_times":
        def fn():
            out = analytics.funnel_times(df, [F.col("event_type") == s for s in gen.FUNNEL])
            return checksum_row(out, *[F.count(f"s{i}").alias(f"s{i}")
                                       for i in range(len(gen.FUNNEL))])

        def check(r):
            return [r[f"s{i}"] for i in range(len(gen.FUNNEL))] == e["funnel"]
    else:
        def fn():
            out = trails.apply_to_trails(df, _trail_pages, "uuid string, n long, pages long")
            return checksum_row(out, F.sum("n").alias("n"), F.sum("pages").alias("p"))

        def check(r):
            return (r["rows"], r["n"], r["p"]) == (e["trails"], e["events"], e["distinct_pages"])

    if e is None:
        run_op(tracer, program_op(name), 0, ops, fn, lambda r: True)
    else:
        run_op(tracer, program_op(name), e["events"], ops, fn, check)


def program_op(name: str) -> str:
    layer = "operators.analytics" if name == "funnel_times" else "operators.trails"
    return f"{layer}.{name}"


# -- point queries -------------------------------------------------------------------


class PointQueries(Workload):
    """Requests against a dataset written once: the request stream comes
    from the seed, the dataset from ``seed // SEEDS_PER_DATASET``, so runs
    with nearby seeds reuse one finalized dataset (writing it took ~12 s of
    a fresh JVM) and a seed SEEDS_PER_DATASET or more away gets fresh data."""

    name = "point_queries"
    # request latency still falls through a session's first ~50 requests,
    # so a run that measured fewer of them read slower: every run measures
    # at least the same 40 (~15 s), whatever the host's speed
    min_rounds = 2

    def generate(self) -> None:
        data_seed = self.seed // SEEDS_PER_DATASET
        ev = gen.make_events(data_seed, POINT_TRAILS)
        self.requests = gen.point_requests(ev, self.seed)
        self.inputs_sha256 = gen.sha256_arrays(
            ev.arrays() + [np.frombuffer(json.dumps(self.requests).encode(), np.uint8)])
        self.events, self.trails = ev.n, len(ev.uuids)
        self.raw = self.build_once(
            self.cache(f"points-t{POINT_TRAILS}", seed=data_seed),
            lambda d: gen.write_events_parquet(ev, str(d / "events.parquet")))
        self.db_cache = self.cache(f"points-db-t{POINT_TRAILS}", True, seed=data_seed)
        self.next = 0

    def sizes(self) -> dict:
        return {"events": self.events, "trails": self.trails}

    def prepare(self, spark) -> None:
        """The finalized, indexed dataset the requests run against, written
        by the program itself (untimed, cached per program version)."""
        from traildb_spark import TrailDataset

        def fill(d: Path) -> None:
            path = str(d / "db")
            ds = TrailDataset.from_dataframe(spark.read.parquet(str(self.raw / "events.parquet")))
            ds.finalize(path, time_shard=TIME_SHARD)
            TrailDataset.build_index(spark, path, INDEX_COLS)

        self.db = self.build_once(self.db_cache, fill) / "db"

    def open(self, spark):
        from traildb_spark import TrailDataset

        self.spark = spark
        return TrailDataset.open(spark, str(self.db))

    def warm(self, ds) -> None:
        """One lookup (no request runs Python code, so no workers to fork)."""
        ds.trail(self.requests[0]["uuid"]).collect()

    def warm_round(self, ds, tracer) -> None:
        """WARM_REQUESTS requests from the far end of the stream, ``nproc``
        at a time. Request latency keeps falling for 50 and more requests
        in a fresh JVM (lookups from ~600 to ~250 ms) while the JIT compiles
        the planner and scan paths; concurrent callers reach the same call
        counts in less wall time. A count, not a time, so that a slow host
        does not also measure a colder JVM."""
        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            list(pool.map(lambda req: self._request(ds, tracer, [], req),
                          self.requests[-WARM_REQUESTS:]))

    def mix(self) -> dict[str, int]:
        return {kind: gen.REQUEST_PATTERN.count(i) for i, kind in enumerate(gen.REQUEST_KINDS)}

    def round(self, ds, tracer, ops, stop) -> None:
        """One pass of the request pattern."""
        for _ in gen.REQUEST_PATTERN:
            if stop():
                break
            self._request(ds, tracer, ops, self.requests[self.next % len(self.requests)])
            self.next += 1

    def _request(self, ds, tracer, ops, req) -> None:
        """One request = (compile the filter) + plan + execute, each its own
        call so plan and execution time show separately when traced."""
        kind = req["kind"]
        got = {}

        def fn():
            if kind == "lookup":
                with tracer.call("dataset.df.plan.lookup"):
                    q = ds.trail(req["uuid"])
                    q._jdf.queryExecution().executedPlan()
                with tracer.call("dataset.lookup"):
                    rows = q.collect()
                got["rows"] = len(rows)
                got["time_sum"] = sum(r["time"] for r in rows)
                got["sorted"] = all(rows[i]["time"] <= rows[i + 1]["time"]
                                    for i in range(len(rows) - 1))
                return got
            if kind == "whitelist":
                with tracer.call("dataset.df.plan.whitelist"):
                    q = checksum_agg(ds.select_uuids(req["uuids"]).df, _time_sum())
                    q._jdf.queryExecution().executedPlan()
                exec_name = "dataset.select_uuids"
            else:
                with tracer.call("operators.filters.compile"):
                    f = _parse(req["filter"])
                with tracer.call(f"dataset.df.plan.{kind}"):
                    q = checksum_agg(ds.with_filter(f).df, _time_sum())
                    q._jdf.queryExecution().executedPlan()
                if tracer.enabled:
                    with tracer.overhead():
                        got["routed"] = _routed(q)
                exec_name = "dataset.filter"
            with tracer.call(exec_name):
                row = q.collect()[0]
            got["rows"], got["time_sum"] = row["rows"], row["ts"] or 0
            return got

        def check(g):
            return (g["rows"] == req["rows"] and g["time_sum"] == req["time_sum"]
                    and g.get("sorted", True))

        rec = run_op(tracer, kind, 1, ops, fn, check, leaf=False)
        rec["rows"] = got.get("rows", 0)
        if "routed" in got:
            rec["routed"] = got["routed"]


def _time_sum():
    from pyspark.sql import functions as F

    return F.sum("time").alias("ts")


WORKLOADS = {w.name: w for w in (Batch, PointQueries)}


# -- client loop ---------------------------------------------------------------------


def measure(wl, state, tracer, seconds: float) -> tuple[list[dict], float]:
    """Closed loop, one caller: ops until ``seconds`` have passed, but at
    least ``wl.min_rounds`` whole rounds, so every op name has samples and
    every run measures the same first ops."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds
    with tracer.span("run"):
        for _ in range(wl.min_rounds):
            wl.round(state, tracer, ops, lambda: False)
        while time.perf_counter() < deadline:
            wl.round(state, tracer, ops, lambda: time.perf_counter() >= deadline)
    return ops, time.perf_counter() - t0


def end_to_end(mix: dict[str, int], ops: list[dict]) -> dict[str, float]:
    """The latency and throughput metrics, both from each op name's median
    latency, so a run that ends inside a round or meets a slow moment in
    one call still reads the same. ``p50_geomean_s``: the geometric mean of
    the medians (every kind of op weighs the same, whatever it costs);
    ``items_per_s``: the items of one round ÷ its time at median latencies.
    An op name without a successful call raises."""
    p50, items = {}, {}
    for name in mix:
        ok = [o for o in ops if o["name"] == name and o["ok"]]
        if not ok:
            raise ValueError(f"no successful {name} op to take a median of")
        p50[name] = median([o["s"] for o in ok])
        items[name] = median([o["items"] for o in ok])
    return {
        "p50_geomean_s": math.exp(sum(math.log(x) for x in p50.values()) / len(p50)),
        "items_per_s": (sum(mix[n] * items[n] for n in mix)
                        / sum(mix[n] * p50[n] for n in mix)),
    }


def per_op_summary(ops: list[dict]) -> dict:
    out = {}
    for name in sorted({o["name"] for o in ops}):
        xs = [o["s"] for o in ops if o["name"] == name and o["ok"]]
        out[name] = {"n": len(xs), "p50_ms": median(xs) * 1e3 if xs else None,
                     "failed": sum(1 for o in ops if o["name"] == name and not o["ok"])}
    return out


# -- per-layer metrics ---------------------------------------------------------------

def per_layer_table() -> list[dict]:
    """The per-layer metrics (name, unit, better) as BENCHMARK.json lists
    them. Every traced run reports every name; a layer the workload never
    calls reads 0."""
    return json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json")
                      .read_text())["per_layer"]


class _Calls:
    """Per call-name view of the traced spans and their stage counters."""

    def __init__(self, spans, nproc: int):
        self.nproc = nproc
        self.by: dict[str, list] = {}
        for s in spans:
            if s.counters:
                self.by.setdefault(s.name, []).append(s)

    def wall_s(self, name) -> float:
        xs = self.by.get(name)
        return median([s.dur for s in xs]) if xs else 0.0

    def med(self, name, counter, scale=1.0) -> float:
        xs = self.by.get(name)
        return median([s.counters[counter] for s in xs]) * scale if xs else 0.0

    def total(self, name, counter) -> float:
        return sum(s.counters[counter] for s in self.by.get(name, []))

    def busy(self, name) -> float:
        xs = self.by.get(name, [])
        wall = sum(s.dur for s in xs)
        return self.total(name, "run_ms") / 1e3 / (wall * self.nproc) if wall else 0.0


def per_layer(wl, tracer, traced_ops, record, nproc) -> dict:
    """Every per-layer metric from the traced phase's spans and counters,
    plus set-up medians and the tracing overhead against the untraced
    phase (per call name, over names both phases ran)."""
    c = _Calls(tracer.spans, nproc)
    MB = 1e-6
    table = per_layer_table()
    m: dict[str, float] = {x["name"]: 0.0 for x in table}
    setup = record["setup"]
    m["session.gateway_s"] = setup["gateway_s"]
    m["session.start_s"] = median(setup["start_s"])
    m["session.warm_s"] = median(setup["warm_s"])
    m["session.warm_round_s"] = setup["warm_round_s"]
    m["dataset.open.ms"] = median(setup["open_s"]) * 1e3
    m["session.peak_rss_mb"] = record["peak_rss_mb"]

    if isinstance(wl, Batch):
        csv_mb = os.path.getsize(wl.main / "events.csv") * MB
        tdb_mb = dir_stats(wl.main / "events.tdb")[0] * MB
        dec = "sources.make.make_from_csv.decode"
        m["sources.make.make_from_csv.wall_s"] = c.wall_s(dec)
        m["sources.make.make_from_csv.input_mb_per_s"] = csv_mb / max(c.wall_s(dec), 1e-9)
        m["sources.make.make_from_csv.tasks"] = c.med(dec, "tasks")
        dec = "sources.tdbfile.open_tdb.decode"
        m["sources.tdbfile.open_tdb.wall_s"] = c.wall_s(dec)
        m["sources.tdbfile.open_tdb.decode_mb_per_s"] = tdb_mb / max(c.wall_s(dec), 1e-9)
        m["sources.tdbfile.open_tdb.tasks"] = c.med(dec, "tasks")
        m["sources.tdbfile.open_tdb.busy_share"] = c.busy(dec)
        passes = [o for o in traced_ops if o["name"] == "ingest" and "finalize" in o]
        fin_b = median([o["finalize"][0] for o in passes]) if passes else 0.0
        idx_b = median([o["index"][0] for o in passes]) if passes else 0.0
        m["dataset.finalize.bytes_written"] = fin_b
        m["dataset.finalize.files_written"] = median([o["finalize"][1] for o in passes]) if passes else 0
        m["dataset.build_index.bytes_written"] = idx_b
        m["dataset.stored_bytes_per_input_byte"] = (fin_b + idx_b) / wl.expect["csv_bytes"]
        name = "functions.vectorized.char_shingle_hashes_udf"
        m[f"{name}.mb_per_s"] = wl.dedup.e["text_mb"] / max(c.wall_s(name), 1e-9)
        m[f"{name}.busy_share"] = c.busy(name)
        for p in DEDUP_OPS:
            name = f"operators.dedup.{p}"
            m[f"{name}.wall_s"] = c.wall_s(name)
            m[f"{name}.shuffle_write_mb"] = c.med(name, "shuffle_write_bytes", MB)
            m[f"{name}.spill_mb"] = c.med(name, "spill_bytes", MB)
        for k in ("recall", "pairs_emitted", "pair_precision"):
            m[f"operators.dedup.{k}"] = wl.dedup.quality.get(k, 0.0)
    for name in ("dataset.finalize", "dataset.build_index"):
        m[f"{name}.wall_s"] = c.wall_s(name)
        m[f"{name}.shuffle_write_mb"] = c.med(name, "shuffle_write_bytes", MB)
    m["dataset.finalize.spill_mb"] = c.med("dataset.finalize", "spill_bytes", MB)
    m["dataset.finalize.busy_share"] = c.busy("dataset.finalize")
    m["dataset.build_index.jobs"] = c.med("dataset.build_index", "jobs")

    for kind in ("lookup", "index_dump", "time_dump", "whitelist"):
        m[f"dataset.df.plan_ms.{kind}"] = c.wall_s(f"dataset.df.plan.{kind}") * 1e3
    m["operators.filters.compile_ms"] = c.wall_s("operators.filters.compile") * 1e3
    dumps = [o for o in traced_ops if "routed" in o]
    if dumps:
        m["dataset.df.index_routed_share"] = sum(o["routed"] for o in dumps) / len(dumps)
    returned = {"dataset.lookup": ("lookup",), "dataset.filter": ("index_dump", "time_dump")}
    for name, kinds in returned.items():
        m[f"{name}.exec_ms"] = c.wall_s(name) * 1e3
        m[f"{name}.input_mb"] = c.med(name, "input_bytes", MB)
        m[f"{name}.tasks"] = c.med(name, "tasks")
        rows = sum(o.get("rows", 0) for o in traced_ops if o["name"] in kinds)
        if rows:
            m[f"{name}.rows_scanned_per_row_returned"] = c.total(name, "input_rows") / rows
    m["dataset.select_uuids.exec_ms"] = c.wall_s("dataset.select_uuids") * 1e3

    for p in PROGRAMS:
        name = program_op(p)
        m[f"{name}.wall_s"] = c.wall_s(name)
        m[f"{name}.shuffle_write_mb"] = c.med(name, "shuffle_write_bytes", MB)
        m[f"{name}.busy_share"] = c.busy(name)
        if p != "funnel_times":
            m[f"{name}.spill_mb"] = c.med(name, "spill_bytes", MB)
            m[f"{name}.max_task_over_p50"] = c.med(name, "max_task_over_p50")

    leaves = [s for xs in c.by.values() for s in xs]
    run_ms = sum(s.counters["run_ms"] for s in leaves)
    m["spark.failed_tasks"] = sum(s.counters["failed_tasks"] for s in leaves)
    m["spark.gc_share"] = sum(s.counters["gc_ms"] for s in leaves) / run_ms if run_ms else 0.0

    # tracing overhead, directly (counter reads) and as the difference of
    # the traced and untraced medians of the calls both phases ran (the
    # traced phase runs second, so further JVM warm-up biases it down)
    untraced = {}
    for name, s in record["untraced_calls"]:
        untraced.setdefault(name, []).append(s)
    common = [n for n in c.by if n in untraced]
    if common:
        m["trace.call_delta_share"] = (sum(c.wall_s(n) for n in common)
                                       / sum(median(untraced[n]) for n in common) - 1.0)
    st = self_times(tracer.spans)
    root = next(s for s in tracer.spans if s.name == "run")
    m["trace.overhead_share"] = tracer.overhead_s / root.dur
    m["trace.covered_share"] = sum(st[s.id] for s in leaves) / root.dur
    m["trace.unaccounted_share"] = 1.0 - m["trace.covered_share"] - m["trace.overhead_share"]
    unknown = set(m) - {x["name"] for x in table}
    if unknown:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {x["name"]: (m[x["name"]], x["unit"]) for x in table}
