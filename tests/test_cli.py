"""CLI round-trip: make -> info -> dump -> merge, mirroring the reference
end-to-end CLI suite (reference tests/tdbcli/test_tdbcli.py:80-141)."""

import pyspark.sql.functions as F

from traildb_spark.cli import main


def test_cli_make_info_dump_merge(spark, tmp_path, capsys):
    # build a small CSV input (headerless, positional field spec)
    src = tmp_path / "in.csv"
    rows = ["a1,100,click", "a1,200,view", "b2,150,click", "b2,90,"]
    src.write_text("\n".join(rows) + "\n")
    db = str(tmp_path / "db")

    assert main(["make", "-o", db, "-f", "uuid,time,action", str(src)]) == 0
    out = capsys.readouterr().out
    assert "4 events, 2 trails" in out

    assert main(["info", "-i", db]) == 0
    out = capsys.readouterr().out
    assert "num_trails 2" in out and "num_events 4" in out
    assert "min_timestamp 90" in out and "max_timestamp 200" in out

    # filtered dump to stdout
    assert main(["dump", "-i", db, "-o", "-", "--filter", "action=click",
                 "-f", "uuid,time,action", "--csv-header"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "uuid,time,action"
    assert sorted(out[1:]) == ["a1,100,click", "b2,150,click"]

    # empty-value filter matches the NULL-ish row
    assert main(["dump", "-i", db, "-o", "-", "--filter", "action="]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1 and out[0].startswith("b2,90")

    # uuid whitelist
    wl = tmp_path / "uuids.txt"
    wl.write_text("b2\n")
    assert main(["dump", "-i", db, "-o", "-", "--uuids", str(wl)]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 2 and all(ln.startswith("b2") for ln in out)

    # merge db with itself -> duplicates preserved (UNION ALL semantics,
    # reference tests/tdbcli/test_tdbcli.py:248-259)
    merged = str(tmp_path / "merged")
    assert main(["merge", "-o", merged, db, db]) == 0
    out = capsys.readouterr().out
    assert "8 events, 2 trails" in out

    # dump to a CSV dataset directory
    outdir = str(tmp_path / "dumped")
    assert main(["dump", "-i", db, "-o", outdir, "-f", "uuid,time,action"]) == 0
    back = spark.read.csv(outdir).count()
    assert back == 4


def test_cli_json_roundtrip(spark, tmp_path, capsys):
    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"uuid": "a", "time": 10, "kind": "x"}\n'
        '{"uuid": "a", "time": 20, "kind": null}\n'
        '{"uuid": "b", "time": 5, "kind": "y"}\n'
    )
    db = str(tmp_path / "jdb")
    assert main(["make", "-j", "-o", db, str(src)]) == 0
    capsys.readouterr()

    outdir = str(tmp_path / "jdump")
    assert main(["dump", "-j", "-i", db, "-o", outdir, "--json-no-empty"]) == 0
    objs = [r.asDict() for r in spark.read.json(outdir).collect()]
    # null kind was normalized to '' then dropped by --json-no-empty
    a20 = [o for o in objs if o["time"] == 20][0]
    assert a20.get("kind") is None
    assert len(objs) == 3


def test_cli_index_roundtrip(spark, tmp_path, capsys):
    """``tdb index`` builds the auxiliary z-ordered artifact, ``open``
    auto-discovers it via the sidecar, dump routes covered filters to it,
    and ``--no-index`` produces identical output — the reference's
    index/no-index differential (tests/tdbcli/test_tdbcli.py:72-78) plus
    its create/auto-discovery surface (tdbcli/tdb_index.c:721-779,637-662)."""
    import json as _json
    import os

    src = tmp_path / "in.csv"
    rows = [
        f"a{i % 7},{100 + i},{'click' if i % 3 else 'view'}" for i in range(60)
    ]
    src.write_text("\n".join(rows) + "\n")
    db = str(tmp_path / "idb")
    assert main(["make", "-o", db, "-f", "uuid,time,action", str(src)]) == 0
    capsys.readouterr()

    assert main(["index", "-i", db, "--columns", "action"]) == 0
    assert "_zindex" in capsys.readouterr().out
    with open(os.path.join(db, "_traildb_meta.json")) as fh:
        meta = _json.load(fh)
    assert meta["zindex"]["path"] == "_zindex/_g1"
    assert meta["zindex"]["columns"] == ["action"]
    assert len(meta["zindex"]["data_fingerprint"]) == 32  # stale guard

    def dump_lines(*extra):
        assert main([
            "dump", "-i", db, "-o", "-", "--filter", "action=view",
            "-f", "uuid,time,action", *extra,
        ]) == 0
        return sorted(capsys.readouterr().out.strip().splitlines())

    with_index = dump_lines()
    without = dump_lines("--no-index")
    assert with_index == without
    assert len(with_index) == 20  # i % 3 == 0 rows


def test_tutorial_pipeline_end_to_end(spark, tmp_path):
    """The reference tutorial's full lifecycle (doc/docs/tutorial.md):
    make from CSV → finalize → open → CNF filter → per-trail sessionize →
    dump. A reference user's complete workflow on this engine."""
    import csv

    from traildb_spark import EventFilter, TrailDataset, trails
    from traildb_spark.sources.make import make_from_csv
    from traildb_spark.sources.dump import dump_json

    src = tmp_path / "edits.csv"
    with open(src, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["uuid", "time", "action", "page"])
        rows = [
            ("aa", 100, "edit", "Spark"),
            ("aa", 200, "edit", "Spark"),
            ("aa", 5000, "revert", "Spark"),   # > gap → 2nd session
            ("bb", 150, "edit", "DuckDB"),
            ("bb", 160, "", "DuckDB"),         # empty ≡ NULL value
        ]
        w.writerows(rows)

    ds = make_from_csv(spark, str(src), header=True)
    out = str(tmp_path / "db")
    ds.finalize(out)
    db = TrailDataset.open(spark, out)

    info = db.info()
    assert (info.num_trails, info.num_events) == (2, 5)

    f = EventFilter().new_clause().add_term("action", "edit")
    assert db.with_filter(f).df.count() == 3
    # empty-value term matches the ''-normalized row
    f2 = EventFilter().new_clause().add_term("action", "")
    assert db.with_filter(f2).df.count() == 1

    sessions = {
        r["uuid"]: r["num_sessions"]
        for r in trails.session_stats(db.df, gap=1800).collect()
    }
    assert sessions == {"aa": 2, "bb": 1}

    dump_dir = str(tmp_path / "dump")
    dump_json(db.with_filter(f).df, dump_dir)
    back = spark.read.json(dump_dir)
    assert back.count() == 3


def test_cli_json_stdout(spark, tmp_path, capsys):
    """-j with stdout output (the default) must emit NDJSON, not bare
    delimiter-joined values."""
    import json

    src = tmp_path / "in2.jsonl"
    src.write_text(
        '{"uuid": "a", "time": 10, "kind": "x"}\n'
        '{"uuid": "b", "time": 5, "kind": ""}\n'
    )
    db = str(tmp_path / "jdb2")
    assert main(["make", "-j", "-o", db, str(src)]) == 0
    capsys.readouterr()
    assert main(["dump", "-j", "-i", db, "--json-no-empty"]) == 0
    out = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    objs = [json.loads(ln) for ln in out]
    assert len(objs) == 2
    by_time = {o["time"]: o for o in objs}
    assert by_time[10]["kind"] == "x"
    assert "kind" not in by_time[5]  # '' dropped by --json-no-empty


def test_make_rejects_bad_uuid(spark, tmp_path):
    """Reference parse_uuid contract: non-hex uuid aborts (FAILFAST) or
    skips (--skip-bad-input); hex tokens pass verbatim."""
    import pytest as _pytest

    from traildb_spark.sources.make import make_from_csv

    src = tmp_path / "in.csv"
    src.write_text("uuid,time,f\nab12,10,x\nNOT-HEX,20,y\n")
    ds = make_from_csv(
        spark, str(src), header=True, skip_bad_input=True
    )
    assert [r["uuid"] for r in ds.df.collect()] == ["ab12"]
    strict = make_from_csv(spark, str(src), header=True, skip_bad_input=False)
    with _pytest.raises(Exception, match="invalid uuid"):
        strict.df.collect()


def test_cli_merge_filter_and_uuids(spark, tmp_path, capsys):
    """Reference parity: --filter and --uuids apply in MERGE mode too
    (tdbcli usage text + the reference merge test suite), and a
    headerless CSV with no --fields defaults to positional uuid,time."""
    src = tmp_path / "m.csv"
    rows = ["aa,100,click", "aa,200,view", "bb,150,click", "cc,90,view"]
    src.write_text("\n".join(rows) + "\n")
    db = str(tmp_path / "mdb")
    assert main(["make", "-o", db, "-f", "uuid,time,action", str(src)]) == 0
    capsys.readouterr()

    wl = tmp_path / "uuids.txt"
    wl.write_text("aa\nbb\n")
    merged = str(tmp_path / "mout")
    assert main([
        "merge", "-o", merged, "--filter", "action=click",
        "--uuids", str(wl), db, db,
    ]) == 0
    out = capsys.readouterr().out
    # 2 click rows in the whitelist x 2 copies (UNION ALL semantics)
    assert "4 events, 2 trails" in out

    # headerless default field spec: uuid,time only
    src2 = tmp_path / "two.csv"
    src2.write_text("dd,5\ndd,6\n")
    db2 = str(tmp_path / "twodb")
    assert main(["make", "-o", db2, str(src2)]) == 0
    assert "2 events, 1 trails" in capsys.readouterr().out


def test_cli_diff_and_patch(spark, tmp_path):
    """`tdb diff` exits 0 on identical datasets, 1 on divergence, and
    --patch writes the row-level CDC patch whose application restores
    multiset equality."""
    from pyspark.sql import functions as F

    from traildb_spark.cli import main
    from traildb_spark.dataset import TrailDataset, apply_patch, normalize_events

    rows = [(f"u{i%5}", 100 + i, f"t{i%3}") for i in range(50)]
    a_df = normalize_events(
        spark.createDataFrame(rows, ["uuid", "time", "etype"])
    )
    pa, pb, pp = (str(tmp_path / x) for x in ("da", "db", "patch"))
    TrailDataset(a_df).finalize(pa)
    TrailDataset(a_df.filter(F.col("time") % 7 != 0)).finalize(pb)

    assert main(["diff", "-a", pa, "-b", pa]) == 0  # identical
    assert main(["diff", "-a", pa, "-b", pb, "--patch", pp]) == 1

    patched = apply_patch(
        TrailDataset.open(spark, pa).df, spark.read.parquet(pp)
    )
    want = sorted(map(tuple, TrailDataset.open(spark, pb).df.collect()))
    assert sorted(map(tuple, patched.collect())) == want


def test_cli_parquet_ingest_and_dump(spark, tmp_path):
    """`tdb make -p` ingests parquet events (accepting the raw table's
    user_id/ts aliases) and `tdb dump -p` round-trips the dataset back
    to parquet with filters applied."""
    from pyspark.sql import functions as F

    from traildb_spark.cli import main

    src = str(tmp_path / "events_src")
    spark.createDataFrame(
        [(i, f"u{i%4}", 1704067200 + i, "click" if i % 2 else "view")
         for i in range(40)],
        "event_id long, user_id string, ts long, event_type string",
    ).write.parquet(src)

    db = str(tmp_path / "pq_db")
    assert main(["make", "-p", "-o", db, src]) == 0
    out = str(tmp_path / "pq_dump")
    assert main([
        "dump", "-p", "-i", db, "-o", out, "--filter", "event_type=click",
    ]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert got.filter(F.col("event_type") != "click").count() == 0
    assert set(got.columns) >= {"uuid", "time", "event_type"}


def test_cli_orc_ingest_and_dump(spark, tmp_path):
    """`tdb make -O` ingests ORC events and `tdb dump -O` exports ORC —
    the same alias/filter semantics as the parquet path; -O is mutually
    exclusive with -c/-j/-p and rejects CSV-only options."""
    from pyspark.sql import functions as F

    from traildb_spark.cli import main

    src = str(tmp_path / "events_orc_src")
    spark.createDataFrame(
        [(i, f"u{i%4}", 1704067200 + i, "click" if i % 2 else "view")
         for i in range(40)],
        "event_id long, user_id string, ts long, event_type string",
    ).write.orc(src)

    db = str(tmp_path / "orc_db")
    assert main(["make", "-O", "-o", db, src]) == 0
    out = str(tmp_path / "orc_dump")
    assert main([
        "dump", "-O", "-i", db, "-o", out, "--filter", "event_type=click",
    ]) == 0
    got = spark.read.orc(out)
    assert got.count() == 20
    assert got.filter(F.col("event_type") != "click").count() == 0

    # CSV-only knobs rejected, just like -p
    assert main(["make", "-O", "--csv-header", "-o", db, src]) == 1
    # stdout export refused for columnar
    assert main(["dump", "-O", "-i", db]) == 1


def test_cli_stats_and_explain(spark, tmp_path, capsys):
    """`tdb stats` reports per-shard file sizes with compaction advice;
    `tdb explain` surfaces pushdown/pruning for a CNF filter."""
    from traildb_spark.cli import main

    src = str(tmp_path / "ev_src")
    spark.createDataFrame(
        [(i, f"u{i%4}", 1704067200 + i, "click" if i % 2 else "view")
         for i in range(40)],
        "event_id long, user_id string, ts long, event_type string",
    ).write.parquet(src)
    db = str(tmp_path / "db")
    assert main(["make", "-p", "-o", db, src]) == 0

    assert main(["stats", "-i", db]) == 0
    out = capsys.readouterr().out
    assert "n_files" in out and "advice:" in out  # tiny files -> advice

    assert main(["explain", "-i", db, "--filter", "event_type=click",
                 "-f", "uuid,time,event_type"]) == 0
    out = capsys.readouterr().out
    assert "pushed filters:" in out and "event_type" in out
    assert "read schemas:" in out and "struct<" in out


def test_cli_profile_and_forget(spark, tmp_path, capsys):
    """tdb profile prints the per-field report; tdb forget scrubs the
    listed uuids, writes a clean dataset, prints the audit row, and
    exits 1 when a requested uuid was absent."""
    src = tmp_path / "in.csv"
    rows = ["a1,100,click", "a1,200,view", "b2,150,click", "b2,90,",
            "c3,500,view"]
    src.write_text("\n".join(rows) + "\n")
    db = str(tmp_path / "db")
    assert main(["make", "-o", db, "-f", "uuid,time,action", str(src)]) == 0
    capsys.readouterr()

    assert main(["profile", "-i", db]) == 0
    out = capsys.readouterr().out
    line = next(l for l in out.splitlines() if l.startswith("action "))
    # 5 rows, 1 empty, 3 distinct ('', click, view); modal 'click'
    # (click=2, view=2 tie -> lexicographic)
    assert line.split() == ["action", "5", "1", "3", "0", "5", "click", "2"]

    # forget a1 + a missing uuid: exit 1 (not fully honorable), audit
    # row printed, scrubbed dataset written
    out_db = str(tmp_path / "db2")
    lst = tmp_path / "ids.txt"
    lst.write_text("a1\nzz\n")
    rc = main(["forget", "-i", db, "-o", out_db, "--uuids", f"@{lst}"])
    assert rc == 1
    rep = capsys.readouterr().out
    assert "requested 2" in rep and "present 1" in rep
    assert "events_removed 2" in rep and "events_kept 3" in rep
    from traildb_spark.dataset import TrailDataset

    db2 = TrailDataset.open(spark, out_db)
    assert db2.df.filter(F.col("uuid") == "a1").count() == 0
    assert db2.df.count() == 3

    # fully-honorable request exits 0
    out_db3 = str(tmp_path / "db3")
    assert main(["forget", "-i", db, "-o", out_db3, "--uuids", "b2"]) == 0


def test_cli_compact(spark, tmp_path, capsys):
    """tdb compact rewrites a sharded dataset's small files through the
    CLI (the command tdb stats' advice points at)."""
    import os

    from traildb_spark.dataset import TrailDataset
    from traildb_spark.streaming.ingest import streaming_finalize

    db = str(tmp_path / "sharded")
    # build a sharded dataset via the streaming finalizer (per-batch
    # writes -> multiple small files per shard)
    ev_src = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [(f"u{i % 3}", 86400 * (1 + i % 2) + i, f"e{i % 2}")
         for i in range(12)],
        "uuid string, time long, event_type string")
    df.repartition(3).write.parquet(ev_src)
    stream = (
        spark.readStream.schema(spark.read.parquet(ev_src).schema)
        .option("maxFilesPerTrigger", 1).parquet(ev_src)
    )
    q = streaming_finalize(stream, db, checkpoint=str(tmp_path / "ck"),
                           time_shard="yyyy-MM-dd")
    q.awaitTermination(180)
    before = {tuple(r) for r in TrailDataset.open(spark, db).df.collect()}
    capsys.readouterr()
    assert main(["compact", "-i", f"file://{db}", "--buckets", "1"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("compacted ")
    assert {tuple(r) for r in
            TrailDataset.open(spark, db).df.collect()} == before
    shard0 = sorted(d for d in os.listdir(db) if d.startswith("__shard="))[0]
    files = [f for f in os.listdir(os.path.join(db, shard0))
             if f.endswith(".parquet")]
    assert len(files) == 1
