"""``tdb``-compatible command-line front end.

Mirrors the reference CLI surface (`tdbcli/main.c:93-117`): ``make``,
``dump``, ``merge``, ``index``, plus ``info``. Commands map 1:1 onto the
library operators, so everything a reference user runs today
(`tdb make -o out -c -f 2:uuid,5:time input.csv`,
`tdb dump -i db --filter 'a=1 b=2 & c!=3' --uuids @file`) has a direct
equivalent over Parquet datasets.

Differences, by design:
- a "tdb" is a Parquet dataset directory (SURVEY §1.6), so ``-o``/``-i``
  take directories;
- ``dump`` writes a dataset by default; ``-o -`` streams rows to stdout for
  interactive use (driver-side collect — bounded by --limit);
- ``index`` builds a z-ordered auxiliary copy in a new generation
  ``<db>/_zindex/_g<N>`` and commits it by registering it in the sidecar
  (the previous generation serves until then): the finalize() layout
  already prunes on uuid/time, so the optional index targets CNF filters
  over OTHER columns — the same role as the reference's optional inverted-index artifact
  (SURVEY §2.8 X1-X3); ``dump --no-index`` opts out.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _spark():
    from .session import get_spark

    return get_spark("traildb-spark-cli")


def _split_fields(s: str | None) -> list[str] | None:
    return [f for f in s.split(",") if f] if s else None


def cmd_make(args) -> int:
    from .sources.make import make_from_csv, make_from_json

    from .dataset import TrailDataset

    spark = _spark()
    if args.from_package:
        bad = [
            name for name, val in (
                ("--delimiter", args.delimiter is not None),
                ("--csv-header", args.csv_header),
                ("--skip-bad-input", args.skip_bad_input),
                ("--fields", bool(args.fields)),
                ("--buckets", args.buckets is not None),
            ) if val
        ]
        if bad:
            print(f"make: {', '.join(bad)} not applicable with "
                  "--from-package (the package IS a finalized dataset)",
                  file=sys.stderr)
            return 1
        from .dataset import import_package

        import_package(spark, args.inputs, args.output)
        info = TrailDataset.open(spark, args.output).info()
        print(f"unpacked {args.inputs} -> {args.output}: "
              f"{info.num_events} events, {info.num_trails} trails")
        return 0
    if args.parquet or args.orc or args.from_tdb:
        # CSV/JSON-only knobs have no meaning for columnar/native ingest;
        # error instead of silently ignoring them (these formats are typed)
        flag = (
            "-p/--parquet" if args.parquet
            else "-O/--orc" if args.orc
            else "--from-tdb"
        )
        bad = [
            name
            for name, val in (
                ("--delimiter", args.delimiter is not None),
                ("--csv-header", args.csv_header),
                ("--skip-bad-input", args.skip_bad_input),
            )
            if val
        ]
        if bad:
            print(f"make: {', '.join(bad)} not applicable with {flag}",
                  file=sys.stderr)
            return 1
        if args.from_tdb:
            # native TrailDB import: the reference's own artifact format
            # (dir or tar package) — schema comes from the tdb's fields
            # file, so a field spec is not applicable either
            if args.fields:
                print("make: --fields not applicable with --from-tdb "
                      "(the tdb declares its own schema)", file=sys.stderr)
                return 1
            ds = TrailDataset.open_tdb(spark, args.inputs)
            ds.finalize(args.output, num_buckets=args.buckets,
                        mode="overwrite")
            info = TrailDataset.open(spark, args.output).info()
            print(f"created {args.output}: {info.num_events} events, "
                  f"{info.num_trails} trails")
            return 0
        from .sources.make import make_from_dataframe

        raw = (
            spark.read.parquet(args.inputs)
            if args.parquet
            else spark.read.orc(args.inputs)
        )
        cols = _split_fields(args.fields)
        if cols:
            raw = raw.select(*cols)
        # accept the common (uuid,time) aliases parquet event dumps use
        ren = {"user_id": "uuid", "ts": "time"}
        for src, dst in ren.items():
            if dst not in raw.columns and src in raw.columns:
                raw = raw.withColumnRenamed(src, dst)
        ds = make_from_dataframe(raw)
    elif args.json:
        ds = make_from_json(
            spark, args.inputs, fields=_split_fields(args.fields),
            skip_bad_input=args.skip_bad_input,
        )
    else:
        ds = make_from_csv(
            spark, args.inputs, fields=_split_fields(args.fields),
            delimiter=args.delimiter or ",", header=args.csv_header,
            skip_bad_input=args.skip_bad_input,
        )
    ds.finalize(args.output, num_buckets=args.buckets, mode="overwrite")
    # summarize from the just-written clustered output, not the ingest
    # lineage — ds.info() would re-read and re-normalize the whole input
    info = TrailDataset.open(spark, args.output).info()
    print(f"created {args.output}: {info.num_events} events, {info.num_trails} trails")
    return 0


def cmd_dump(args) -> int:
    from .dataset import TrailDataset
    from .operators.filters import parse_filter, uuid_whitelist
    from .sources.dump import dump_csv, dump_json, project_fields

    if args.package:
        bad = [
            name for name, val in (
                ("--filter", bool(args.filter)),
                ("--uuids", bool(args.uuids)),
                ("-f/--fields", bool(args.fields)),
                ("format flags", args.csv or args.json or args.parquet
                 or args.orc or args.to_tdb or args.tdb_compress),
                ("--json-no-empty", args.json_no_empty),
            ) if val
        ]
        if bad:
            print(f"dump: {', '.join(bad)} not applicable with --package "
                  "(the package carries the dataset as-is; extract with "
                  "`tdb make --from-package` and dump from there)",
                  file=sys.stderr)
            return 1
        from .dataset import export_package

        export_package(args.input, args.package)
        print(f"packaged {args.input} -> {args.package}")
        return 0

    spark = _spark()
    ds = TrailDataset.open(spark, args.input, use_index=not args.no_index)
    if args.filter:
        # route through the dataset so pure-time-range clauses prune
        # time shards (the sidecar open() just loaded exists for this)
        ds = ds.with_filter(parse_filter(args.filter))
    df = ds.df
    if args.uuids:
        with open(args.uuids, "r", encoding="utf-8") as fh:
            wl = [ln.strip() for ln in fh if ln.strip()]
        df = uuid_whitelist(df, wl)
    fields = _split_fields(args.fields)
    if (args.parquet or args.orc or args.to_tdb) and args.output == "-":
        print("dump: --parquet/--orc/--tdb needs -o (cannot stream to stdout)",
              file=sys.stderr)
        return 1
    if args.tdb_compress and not args.to_tdb:
        print("dump: --tdb-compress only applies with -T/--tdb",
              file=sys.stderr)
        return 1
    if args.to_tdb:
        from .sources.dump import project_fields as _pf
        from .sources.tdbfile import write_tdb

        out_df = _pf(df, fields)
        cols = out_df.columns
        if cols[:2] != ["uuid", "time"]:
            print("dump: --tdb needs uuid and time as the leading fields",
                  file=sys.stderr)
            return 1
        ofields = cols[2:]
        sel = out_df.select(
            "uuid", F.col("time").cast("long"),
            *[F.col(c).cast("string") for c in ofields]
        )
        # driver-side single-file assembly: the tdb format IS one file —
        # bounded-extract export, streamed through toLocalIterator
        write_tdb(
            (tuple(r) for r in sel.toLocalIterator()),
            list(ofields),
            args.output,
            package=args.output.endswith(".tdb"),
            compress=args.tdb_compress,
        )
        print(f"created {args.output}")
        return 0
    if args.output == "-":
        rows = project_fields(df, fields).limit(args.limit).collect()
        cols = fields or df.columns
        if args.json:
            # -j on stdout: NDJSON lines, honoring --json-no-empty —
            # the reference's JSON dump surface, interactively
            import json as _json

            for r in rows:
                obj = {
                    c: r[c]
                    for c in cols
                    if not (args.json_no_empty and (r[c] is None or r[c] == ""))
                }
                # default=str: non-JSON-native column types (timestamp,
                # date, binary, decimal) degrade to strings instead of
                # raising — parity with the file-based Spark JSON writer
                print(_json.dumps(obj, sort_keys=True, default=str))
        else:
            if args.csv_header:
                print(args.delimiter.join(cols))
            for r in rows:
                print(args.delimiter.join("" if r[c] is None else str(r[c]) for c in cols))
    elif args.parquet:
        project_fields(df, fields).write.mode("overwrite").parquet(args.output)
    elif args.orc:
        project_fields(df, fields).write.mode("overwrite").orc(args.output)
    elif args.json:
        dump_json(df, args.output, fields=fields, no_empty=args.json_no_empty, mode="overwrite")
    else:
        dump_csv(df, args.output, fields=fields, delimiter=args.delimiter,
                 header=args.csv_header, mode="overwrite")
    return 0


def cmd_merge(args) -> int:
    from .dataset import TrailDataset
    from .operators.filters import parse_filter

    spark = _spark()
    paths = args.inputs.split(",") if isinstance(args.inputs, str) else args.inputs
    dss = [TrailDataset.open(spark, p) for p in paths]
    # reference: --filter and --uuids apply in merge mode too
    # (tdbcli/main.c usage: "Filters are supported in the 'dump' and
    # 'merge' modes"; merge tests exercise --uuids)
    if args.filter:
        f = parse_filter(args.filter)
        dss = [d.with_filter(f) for d in dss]
    if args.uuids:
        with open(args.uuids, "r", encoding="utf-8") as fh:
            wl = [ln.strip() for ln in fh if ln.strip()]
        dss = [d.select_uuids(wl) for d in dss]
    merged = TrailDataset.merge(dss)
    merged.finalize(args.output, num_buckets=args.buckets, mode="overwrite")
    info = TrailDataset.open(spark, args.output).info()
    print(f"merged {len(dss)} datasets -> {args.output}: {info.num_events} events, {info.num_trails} trails")
    return 0


def cmd_info(args) -> int:
    from .dataset import TrailDataset

    spark = _spark()
    ds = TrailDataset.open(spark, args.input)
    info = ds.info()
    print(f"num_trails {info.num_trails}")
    print(f"num_events {info.num_events}")
    print(f"min_timestamp {info.min_timestamp}")
    print(f"max_timestamp {info.max_timestamp}")
    print(f"fields {','.join(ds.fields)}")
    return 0


def cmd_index(args) -> int:
    """Reference ``tdb index`` (`tdbcli/tdb_index.c:721-779`): build the
    optional auxiliary index artifact. The primary finalize() layout already
    prunes on uuid/time; this adds a z-ordered copy under
    ``<db>/_zindex/_g<N>``, committed by registering it in the sidecar, so
    CNF filters over ``--columns`` prune row groups on all of them at once
    (auto-discovered by ``open``, opt-out ``--no-index``). A rebuild
    writes the next generation and sweeps the old one after the commit."""
    from .dataset import TrailDataset

    spark = _spark()
    cols = _split_fields(args.columns)
    if not cols:
        print("index: --columns is required (comma-separated field list)", file=sys.stderr)
        return 1
    zpath = TrailDataset.build_index(
        spark, args.input, cols, buckets_per_col=args.buckets_per_col
    )
    print(f"indexed {args.input} on {','.join(cols)} -> {zpath}")
    return 0


def cmd_diff(args) -> int:
    """``tdb diff``: trail-level digest comparison of two datasets (the
    operational did-the-migration-preserve-everything check), optionally
    emitting the row-level CDC patch that turns A into B
    (``--patch OUT`` — apply with ``dataset.apply_patch``). Prints the
    summary counts; exit status 1 when the datasets differ, so scripts
    can gate on it like ``diff(1)``."""
    from .dataset import TrailDataset, diff_datasets, make_patch

    spark = _spark()
    a = TrailDataset.open(spark, args.a).df
    b = TrailDataset.open(spark, args.b).df
    d = diff_datasets(a, b).persist()
    total = d.count()
    bad = d.filter(~d["match"]).count()
    print(f"trails {total}")
    print(f"mismatched {bad}")
    if args.patch:
        common = [c for c in a.columns if c in b.columns]
        patch = make_patch(a.select(*common), b.select(*common))
        patch.write.mode("overwrite").parquet(args.patch)
        # count from the materialized output: re-counting the live plan
        # would recompute the digest diff + both exceptAll shuffles twice
        written = spark.read.parquet(args.patch)
        ops = {
            r["__op"]: r["n"]
            for r in written.groupBy("__op").count()
            .withColumnRenamed("count", "n").collect()
        }
        print(f"patch {args.patch} (-{ops.get('-', 0)} +{ops.get('+', 0)})")
    d.unpersist()
    return 1 if bad else 0




def cmd_stats(args) -> int:
    from .dataset import dataset_file_stats

    spark = _spark()
    df = dataset_file_stats(spark, args.input)
    rows = df.collect()
    if not rows:
        print("no data files")
        return 0
    print("shard n_files total_bytes min_bytes mean_bytes max_bytes")
    for r in rows:
        print(
            f"{r['shard']} {r['n_files']} {r['total_bytes']} "
            f"{r['min_bytes']} {r['mean_bytes']} {r['max_bytes']}"
        )
    small = [r["shard"] for r in rows if r["mean_bytes"] < args.small_mb * 1024 * 1024]
    if small:
        print(
            f"advice: {len(small)} shard(s) below {args.small_mb} MB mean "
            f"file size — run `tdb compact` / dataset.compact_shards: "
            + ",".join(small[:10])
        )
    return 0


def cmd_explain(args) -> int:
    from .dataset import TrailDataset
    from .operators.filters import parse_filter
    from .plans.audit import explain_str, num_shuffles, pushed_filters, read_schemas

    spark = _spark()
    ds = TrailDataset.open(spark, args.input, use_index=not args.no_index)
    if args.filter:
        ds = ds.with_filter(parse_filter(args.filter))
    df = ds.df
    if args.fields:
        df = df.select(*_split_fields(args.fields))
    print("pushed filters:")
    for f in pushed_filters(df) or ["(none)"]:
        print(f"  {f}")
    print("read schemas:")
    for s in read_schemas(df) or ["(none)"]:
        print(f"  {s}")
    print(f"shuffles: {num_shuffles(df)}")
    if args.verbose:
        print(explain_str(df, "formatted"))
    return 0


def cmd_profile(args) -> int:
    """``tdb profile``: Deequ-style column report over the dataset's
    string fields (row/empty counts, distinct cardinality, length
    extremes, modal value) — the first look a new drop gets before
    anything trusts it. Fields default to the dataset's own field list
    (everything except uuid/time)."""
    from .dataset import TrailDataset
    from .operators.analytics import column_profile

    spark = _spark()
    ds = TrailDataset.open(spark, args.input)
    fields = _split_fields(args.fields) if args.fields else list(ds.fields)
    if not fields:
        print("profile: dataset has no value fields", file=sys.stderr)
        return 1
    rows = column_profile(ds.df, fields).orderBy("field").collect()
    print("field n_rows n_empty n_distinct min_len max_len top_value top_freq")
    for r in rows:
        print(
            f"{r['field']} {r['n_rows']} {r['n_empty']} {r['n_distinct']} "
            f"{r['min_len']} {r['max_len']} "
            f"{r['top_value'] if r['top_value'] is not None else '-'} "
            f"{r['top_freq'] if r['top_freq'] is not None else 0}"
        )
    return 0


def cmd_forget(args) -> int:
    """``tdb forget``: right-to-erasure over a dataset — drop every
    event of the listed uuids (inline or ``@file``, one per line),
    write the scrubbed dataset to ``-o``, and print the audit row a
    deletion request needs. Exit 1 if any requested uuid was NOT
    present (the request cannot be fully honored silently)."""
    from .dataset import TrailDataset
    from .operators.curation import forget_report, forget_uuids

    spark = _spark()
    ds = TrailDataset.open(spark, args.input)
    ids: list[str] = []
    for u in args.uuids:
        if u.startswith("@"):
            with open(u[1:], encoding="utf-8") as fh:
                ids.extend(line.strip() for line in fh if line.strip())
        else:
            ids.append(u)
    if not ids:
        print("forget: no uuids given", file=sys.stderr)
        return 1
    rep = forget_report(ds.df, ids, uuid_col="uuid").collect()[0]
    kept = forget_uuids(ds.df, ids, uuid_col="uuid")
    TrailDataset(kept).finalize(args.output, mode="overwrite")
    print(f"requested {rep['n_requested']}")
    print(f"present {rep['n_present']}")
    print(f"events_removed {rep['n_events_removed']}")
    print(f"events_kept {rep['n_events_kept']}")
    print(f"wrote {args.output}")
    return 0 if rep["n_present"] == rep["n_requested"] else 1


def cmd_compact(args) -> int:
    """``tdb compact``: rewrite closed time shards of a (streaming-
    appended) sharded dataset as one range-clustered file set each —
    the remedy `tdb stats` advises for small-file shards. Only compact
    shards no longer receiving appends (see compact_shards' docstring
    for the swap/crash-recovery contract)."""
    from .dataset import compact_shards

    spark = _spark()
    shards = _split_fields(args.shards) if args.shards else None
    done = compact_shards(
        spark, args.input, shards=shards, num_buckets=args.buckets
    )
    if not done:
        print("nothing to compact")
        return 0
    print(f"compacted {len(done)} shard(s): " + ",".join(done[:20]))
    return 0


_BUCKETS_HELP = (
    "output files, each one contiguous uuid range, disjoint from the "
    "others so a uuid lookup reads one (default: "
    "spark.sql.shuffle.partitions)"
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tdb", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    mk = sub.add_parser("make", help="build a dataset from CSV/JSON events")
    mk.add_argument("-o", "--output", required=True)
    # one input format only (reference: -c/-j choose the parser,
    # tdbcli/main.c); CSV is the default when none is given
    mk_fmt = mk.add_mutually_exclusive_group()
    mk_fmt.add_argument("-c", "--csv", action="store_true")
    mk_fmt.add_argument("-j", "--json", action="store_true")
    mk_fmt.add_argument("-p", "--parquet", action="store_true",
                        help="ingest parquet events (user_id/ts aliases accepted)")
    mk_fmt.add_argument("--from-tdb", action="store_true", dest="from_tdb",
                        help="input is a native TrailDB artifact "
                             "(directory or .tdb tar package)")
    mk_fmt.add_argument("--from-package", action="store_true",
                        dest="from_package",
                        help="input is a .tdbx single-file package "
                             "(tar of a finalized dataset, from "
                             "`tdb dump --package`); extracts + verifies")
    mk_fmt.add_argument("-O", "--orc", action="store_true",
                        help="ingest ORC events (same alias rules as -p)")
    mk.add_argument("-d", "--delimiter", default=None,
                    help="CSV delimiter (default ,)")
    mk.add_argument("-f", "--fields", help="field spec, e.g. uuid,time,action or 2:uuid,5:time")
    mk.add_argument("--csv-header", action="store_true")
    mk.add_argument("--skip-bad-input", action="store_true")
    mk.add_argument("--buckets", type=int, default=None, help=_BUCKETS_HELP)
    mk.add_argument("inputs", help="input path/glob")
    mk.set_defaults(fn=cmd_make)

    dp = sub.add_parser("dump", help="export events (CSV/JSON/stdout)")
    dp.add_argument("-i", "--input", required=True)
    dp.add_argument("-o", "--output", default="-")
    dp_fmt = dp.add_mutually_exclusive_group()
    dp_fmt.add_argument("-c", "--csv", action="store_true")
    dp_fmt.add_argument("-j", "--json", action="store_true")
    dp_fmt.add_argument("-p", "--parquet", action="store_true",
                        help="write parquet instead of CSV/JSON")
    dp_fmt.add_argument("-T", "--tdb", action="store_true", dest="to_tdb",
                        help="write a native TrailDB artifact (-o ending "
                             "in .tdb = single-file tar package, else a "
                             "directory); readable by the reference C "
                             "library")
    dp.add_argument("--tdb-compress", action="store_true",
                    dest="tdb_compress",
                    help="with -T: unigram-Huffman-compress the trail "
                         "streams (the reference's codebook stage; "
                         "literal-only without it)")
    dp_fmt.add_argument("-O", "--orc", action="store_true",
                        help="write ORC instead of CSV/JSON")
    dp.add_argument("-d", "--delimiter", default=",")
    dp.add_argument("-f", "--fields")
    dp.add_argument("--filter", help="CNF filter, e.g. 'a=1 b=2 & c!=3'")
    dp.add_argument("--uuids", help="file with one uuid per line (whitelist)")
    dp.add_argument("--csv-header", action="store_true")
    dp.add_argument("--json-no-empty", action="store_true")
    dp.add_argument("--limit", type=int, default=1000, help="stdout row cap")
    dp.add_argument("--package", metavar="OUT.tdbx",
                    help="write the whole finalized dataset as ONE "
                         ".tdbx file (tar + manifest; round-trips via "
                         "`tdb make --from-package`)")
    dp.add_argument("--no-index", action="store_true",
                    help="ignore any auxiliary index (reference --no-index)")
    dp.set_defaults(fn=cmd_dump)

    mg = sub.add_parser("merge", help="merge datasets (schema union)")
    mg.add_argument("-o", "--output", required=True)
    mg.add_argument("--buckets", type=int, default=None, help=_BUCKETS_HELP)
    mg.add_argument("--filter", help="CNF filter applied to every input")
    mg.add_argument("--uuids", help="uuid whitelist file applied to every input")
    mg.add_argument("inputs", nargs="+")
    mg.set_defaults(fn=cmd_merge)

    st = sub.add_parser("stats", help="per-shard file-size report (+compaction advice)")
    st.add_argument("-i", "--input", required=True)
    st.add_argument("--small-mb", type=int, default=16,
                    help="mean-file-size advice threshold in MB (default 16)")
    st.set_defaults(fn=cmd_stats)

    ex = sub.add_parser("explain", help="show pushdown/pruning for a filter (plan audit)")
    ex.add_argument("-i", "--input", required=True)
    ex.add_argument("--filter", help="CNF filter, e.g. 'a=1 b=2 & c!=3'")
    ex.add_argument("-f", "--fields")
    ex.add_argument("--no-index", action="store_true")
    ex.add_argument("-v", "--verbose", action="store_true",
                    help="print the full formatted physical plan")
    ex.set_defaults(fn=cmd_explain)

    inf = sub.add_parser("info", help="dataset metadata (tdb_num_trails etc.)")
    inf.add_argument("-i", "--input", required=True)
    inf.set_defaults(fn=cmd_info)

    ix = sub.add_parser("index", help="build the auxiliary z-ordered index")
    ix.add_argument("-i", "--input", required=True)
    ix.add_argument("--columns", required=True,
                    help="comma-separated columns to index (z-order)")
    ix.add_argument("--buckets-per-col", type=int, default=16)
    ix.set_defaults(fn=cmd_index)

    df_ = sub.add_parser(
        "diff", help="trail-digest dataset diff (+ optional CDC patch)"
    )
    df_.add_argument("-a", required=True, help="left dataset")
    df_.add_argument("-b", required=True, help="right dataset")
    df_.add_argument("--patch", help="write the row-level A→B patch here")
    df_.set_defaults(fn=cmd_diff)

    pr = sub.add_parser(
        "profile", help="column profile (nulls, cardinality, modal value)"
    )
    pr.add_argument("-i", "--input", required=True)
    pr.add_argument(
        "--fields", help="comma-separated fields (default: all value fields)"
    )
    pr.set_defaults(fn=cmd_profile)

    fg = sub.add_parser(
        "forget", help="right-to-erasure: drop uuids, write scrubbed dataset"
    )
    fg.add_argument("-i", "--input", required=True)
    fg.add_argument("-o", "--output", required=True)
    fg.add_argument(
        "--uuids", nargs="+", required=True,
        help="uuid values and/or @file (one per line)",
    )
    fg.set_defaults(fn=cmd_forget)

    cp = sub.add_parser(
        "compact", help="rewrite closed shards as clustered file sets"
    )
    cp.add_argument("-i", "--input", required=True)
    cp.add_argument(
        "--shards", help="comma-separated shard values (default: all)"
    )
    cp.add_argument("--buckets", type=int, default=None,
                    help="files per compacted shard, each one contiguous "
                         "uuid range (default: spark.sql.shuffle.partitions)")
    cp.set_defaults(fn=cmd_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
