"""TrailDataset round-trip + merge tests (FIXTURES F1 tiny, F5 merge_abc;
reference what_you_write_you_get_back.c, test_tdbcli.py merge suite)."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import assert_disjoint, uuid_ranges_by_shard
from traildb_spark import EventFilter, TrailDataset
from traildb_spark.sources.dump import dump_csv, dump_json, project_fields


@pytest.fixture(scope="module")
def tiny(spark):
    # FIXTURES F1: 3 uuids × 3 events, username constant per trail
    actions = ["open", "save", "close"]
    rows = [
        (f"{i:032x}", i * 10 + j, f"user{i}", actions[j % 3])
        for i in range(3)
        for j in range(3)
    ]
    df = spark.createDataFrame(rows, ["uuid", "time", "username", "action"])
    return TrailDataset.from_dataframe(df)


def test_info(tiny):
    info = tiny.info()
    assert info.num_trails == 3
    assert info.num_events == 9
    assert info.min_timestamp == 0
    assert info.max_timestamp == 22
    assert info.fields == ["time", "username", "action"]


def test_lexicon(tiny):
    assert tiny.lexicon_size("action") == 4  # open,save,close + NULL
    assert tiny.lexicon_size("username") == 4
    vals = {r["value"] for r in tiny.lexicon("action").collect()}
    assert vals == {"open", "save", "close"}


def test_lexicon_dump(tiny):
    rows = tiny.lexicon_dump(["action"]).collect()
    got = {(r["field"], r["value"]): r["item_id"] for r in rows}
    # item 0 reserved for ''/NULL; real values dense-ranked by value order
    assert got == {
        ("action", ""): 0,
        ("action", "close"): 1,
        ("action", "open"): 2,
        ("action", "save"): 3,
    }
    # default: every non-time field
    both = tiny.lexicon_dump()
    assert {r["field"] for r in both.collect()} == {"action", "username"}


def test_roundtrip_finalize_open(tiny, spark, tmp_path):
    # "what you write is what you read" (reference
    # tests/c-tests/what_you_write_you_get_back.c)
    path = str(tmp_path / "tiny.tdb")
    tiny.finalize(path)
    back = TrailDataset.open(spark, path)
    a = sorted(map(tuple, tiny.df.collect()))
    b = sorted(map(tuple, back.df.collect()))
    assert a == b


def test_trail_access(tiny):
    t = tiny.trail(f"{1:032x}").collect()
    assert [r["time"] for r in t] == [10, 11, 12]
    assert all(r["username"] == "user1" for r in t)


def test_db_level_filter_view(tiny):
    view = tiny.with_filter(EventFilter().add_term("action", "open"))
    assert view.num_events() == 3
    assert view.num_trails() == 3


def test_null_normalization(spark):
    df = spark.createDataFrame([("U", 1, None), ("U", 2, "x")], ["uuid", "time", "f"])
    ds = TrailDataset.from_dataframe(df)
    vals = {r["f"] for r in ds.df.collect()}
    assert vals == {"", "x"}
    assert ds.df.filter(F.col("uuid") == "u").count() == 2  # lowercased


def test_timestamp_time_col(spark):
    import datetime

    df = spark.createDataFrame(
        [("u", datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc), "x")],
        ["uuid", "ts", "f"],
    )
    ds = TrailDataset.from_dataframe(df, time_col="ts")
    assert ds.df.first()["time"] == 1704067200


# --- merge suite (FIXTURES F5, reference test_tdbcli.py:186-332) ---------

def _mk(spark, cols, rows):
    from traildb_spark import normalize_events
    df = spark.createDataFrame(rows, cols)
    return TrailDataset(normalize_events(df))


@pytest.fixture(scope="module")
def merge_fixtures(spark):
    A = _mk(spark, ["uuid", "time", "alpha", "number"],
            [(f"{i:032x}", i + 100, chr(65 + i), str(i)) for i in range(10)])
    B = _mk(spark, ["uuid", "time", "number", "foobar"],
            [(f"{i:032x}", i + 100, str(i), str(i + 200)) for i in range(10)])
    C = _mk(spark, ["uuid", "time", "alpha", "number", "beta"],
            [(f"{i:032x}", i + 100, chr(65 + i), str(i), str(75 - i)) for i in range(10)])
    return A, B, C


def test_merge_duplicates_preserved(merge_fixtures):
    A, _, _ = merge_fixtures
    m = TrailDataset.merge([A, A])
    assert m.num_events() == 20  # UNION ALL: every event duplicated
    assert m.df.filter((F.col("uuid") == f"{0:032x}") & (F.col("alpha") == "A")).count() == 2


def test_merge_schema_union(merge_fixtures):
    A, B, _ = merge_fixtures
    m = TrailDataset.merge([A, B])
    assert set(m.df.columns) == {"uuid", "time", "alpha", "number", "foobar"}
    assert m.num_events() == 20
    # alpha/foobar mutually empty; sum(number)=2*45=90
    assert m.df.filter((F.col("alpha") == "") & (F.col("foobar") == "")).count() == 0
    assert m.df.filter(F.col("alpha") == "").count() == 10
    assert m.df.agg(F.sum(F.col("number").cast("long"))).first()[0] == 90


def test_merge_extra_field(merge_fixtures):
    A, _, C = merge_fixtures
    m = TrailDataset.merge([A, C])
    assert set(m.df.columns) == {"uuid", "time", "alpha", "number", "beta"}
    assert m.df.filter(F.col("beta") == "").count() == 10


def test_merge_with_whitelist(merge_fixtures):
    A, B, _ = merge_fixtures
    wl = [f"{i:032x}" for i in range(3)]
    m = TrailDataset.merge([A, B]).select_uuids(wl)
    assert m.num_events() == 6


def test_extract(merge_fixtures):
    A, _, _ = merge_fixtures
    ex = A.extract(EventFilter().add_term("number", "3"))
    assert ex.num_events() == 1


# --- dump sinks ----------------------------------------------------------

def test_dump_csv_json(tiny, spark, tmp_path):
    p1 = str(tmp_path / "out_csv")
    dump_csv(tiny.df, p1, fields=["uuid", "time", "action"], header=True)
    back = spark.read.option("header", "true").csv(p1)
    assert back.count() == 9
    assert back.columns == ["uuid", "time", "action"]

    p2 = str(tmp_path / "out_json")
    dump_json(tiny.df, p2, no_empty=True)
    back2 = spark.read.json(p2)
    assert back2.count() == 9


def test_project_unknown_field_errors(tiny):
    with pytest.raises(ValueError):
        project_fields(tiny.df, ["uuid", "nope"])


def test_field_name_validation(spark):
    """Reference rules (src/tdb_cons.c:181-223, tests/c-tests/field_names.c):
    charset, reserved 'time', duplicates, length."""
    from traildb_spark.dataset import normalize_events, validate_field_names

    validate_field_names(["ok_name", "Also-OK", "pct%25", "f9"])
    for bad in (["time"], ["has space"], ["dot.dot"], [""], ["x" * 512], ["a", "a"]):
        with pytest.raises(ValueError):
            validate_field_names(bad)

    # normalize_events applies the check to the field columns
    df = spark.createDataFrame([("u", 1, "v")], ["uuid", "time", "bad col"])
    with pytest.raises(ValueError):
        normalize_events(df)
    assert normalize_events(df, validate_names=False).columns == ["uuid", "time", "bad col"]


def test_zero_fields_and_empty_dataset(spark, tmp_path):
    """Reference edge cases tests/c-tests/zero_fields.c and
    empty_tdb_cons.c: a trail store with no value fields, and a finalized
    empty store, both round-trip."""
    from traildb_spark.dataset import normalize_events

    zf = normalize_events(spark.createDataFrame([("u1", 5), ("u1", 3), ("u2", 9)], ["uuid", "time"]))
    p = str(tmp_path / "zf")
    TrailDataset(zf).finalize(p)
    back = TrailDataset.open(spark, p)
    info = back.info()
    assert (info.num_trails, info.num_events) == (2, 3)
    assert (info.min_timestamp, info.max_timestamp) == (3, 9)

    empty = zf.limit(0)
    p2 = str(tmp_path / "empty")
    TrailDataset(empty).finalize(p2)
    back2 = TrailDataset.open(spark, p2)
    info2 = back2.info()
    assert (info2.num_trails, info2.num_events) == (0, 0)


def test_compression_codecs_identical_content(spark, tmp_path):
    """Reference runs every test under two compression configs
    (TDB_CONS_NO_BIGRAMS, tests/c-tests/tdb_test.h:9-33); our analog:
    the finalized layout must read back identically under different
    Parquet codecs."""
    from traildb_spark.dataset import normalize_events

    ev = normalize_events(
        spark.createDataFrame(
            [(f"u{i%7}", i, f"v{i%13}") for i in range(500)],
            ["uuid", "time", "f1"],
        )
    )
    hashes = []
    for codec in ("snappy", "zstd"):
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
        p = str(tmp_path / codec)
        TrailDataset(ev).finalize(p)
        back = TrailDataset.open(spark, p).df
        h = back.agg(
            F.sum(F.crc32(F.concat_ws("|", "uuid", "time", "f1")))
        ).collect()[0][0]
        hashes.append((h, back.count()))
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    assert hashes[0] == hashes[1]


def test_wide_schema_roundtrip(spark, tmp_path):
    """Reference stress: really_lots_of_fields.c (16382 fields max). 100
    fields round-trip with filter semantics intact."""
    from traildb_spark.dataset import normalize_events

    n_fields = 100
    cols = ["uuid", "time"] + [f"f{i}" for i in range(n_fields)]
    rows = [tuple(["u1", t] + [f"v{t}_{i}" for i in range(n_fields)]) for t in range(20)]
    df = normalize_events(spark.createDataFrame(rows, cols))
    p = str(tmp_path / "wide")
    TrailDataset(df).finalize(p)
    back = TrailDataset.open(spark, p)
    # fields includes the implicit 'time' (reference field 0, src/tdb.c:193)
    assert len(back.fields) == n_fields + 1
    f = EventFilter().new_clause().add_term("f99", "v7_99")
    got = back.with_filter(f).df.collect()
    assert len(got) == 1 and got[0]["time"] == 7


def test_shard_pruning_survives_session_timezone_change(spark, sf_dir, tmp_path):
    """Shard labels are pinned to UTC: a dataset finalized under one
    session timezone and queried under another must return identical
    rows (a tz-dependent label would prune away matching partitions)."""
    import pyspark.sql.functions as F

    from conftest import load_events
    from traildb_spark import EventFilter, TrailDataset

    ev = load_events(spark, sf_dir).select("uuid", "time", "event_type")
    path = str(tmp_path / "tz_sharded")
    TrailDataset(ev).finalize(path, num_buckets=2, time_shard="yyyy-MM-dd")
    t0, t1 = 1704067200, 1704153600
    f = EventFilter().add_time_range(t0, t1)
    expect = ev.filter((F.col("time") >= t0) & (F.col("time") < t1)).count()
    assert expect > 0
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        got = TrailDataset.open(spark, path).with_filter(f).df.count()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    assert got == expect


def test_diff_datasets_detects_missing_and_matching(spark):
    from traildb_spark.dataset import diff_datasets

    a = spark.createDataFrame(
        [("u1", 1, "x"), ("u1", 2, "y"), ("u2", 5, "z"), ("u3", 7, "w")],
        ["uuid", "time", "f"],
    )
    b = spark.createDataFrame(
        [("u1", 1, "x"), ("u1", 2, "y"), ("u2", 5, "DIFFERENT")],
        ["uuid", "time", "f"],
    )
    got = {r["uuid"]: r for r in diff_datasets(a, b).collect()}
    assert got["u1"]["match"] is True
    assert got["u2"]["match"] is False  # same count, different content
    assert got["u2"]["n_a"] == got["u2"]["n_b"] == 1
    assert got["u3"]["match"] is False and got["u3"]["n_b"] == 0
    # duplicate events are NOT cancelled (additive digest, not XOR)
    a2 = spark.createDataFrame([("u", 1, "x"), ("u", 1, "x")], ["uuid", "time", "f"])
    b2 = spark.createDataFrame([("u", 1, "x")], ["uuid", "time", "f"])
    r = diff_datasets(a2, b2).first()
    assert r["match"] is False and r["n_a"] == 2


def test_diff_datasets_column_order_insensitive(spark):
    from traildb_spark.dataset import diff_datasets

    a = spark.createDataFrame([("u", 1, "x")], ["uuid", "time", "f"])
    b = spark.createDataFrame([("u", "x", 1)], ["uuid", "f", "time"])
    r = diff_datasets(a, b).first()
    assert r["match"] is True


def test_diff_datasets_separator_injection(spark):
    from traildb_spark.dataset import diff_datasets

    # ('x|y','z') vs ('x','y|z') concatenate identically under a bare
    # '|' join — the length-prefixed digest must tell them apart
    a = spark.createDataFrame([("u", "x|y", "z")], ["uuid", "f1", "f2"])
    b = spark.createDataFrame([("u", "x", "y|z")], ["uuid", "f1", "f2"])
    r = diff_datasets(a, b, fields=["f1", "f2"]).first()
    assert r["match"] is False


def test_lexicon_dump_zero_fields(spark):
    from traildb_spark.dataset import TrailDataset, normalize_events

    zf = normalize_events(spark.createDataFrame([("u", 5)], ["uuid", "time"]))
    out = TrailDataset(zf).lexicon_dump()
    assert out.columns == ["field", "value", "item_id"]
    assert out.count() == 0


def test_shard_predicate_sentinel_bounds(spark, tmp_path):
    from traildb_spark import EventFilter, TrailDataset
    from traildb_spark.dataset import normalize_events

    rows = [("u", 1704067200 + i * 86400, str(i)) for i in range(3)]
    ds = TrailDataset(
        normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
    )
    p = str(tmp_path / "sh")
    ds.finalize(p, time_shard="yyyy-MM-dd")
    back = TrailDataset.open(spark, p)
    # sentinel end far beyond representable timestamps must not crash
    f = EventFilter().add_time_range(1704067200, 2**62)
    assert back.with_filter(f).df.count() == 3


def test_raw_binary_uuid_ingest_roundtrip(spark, tmp_path):
    """Raw 16-byte uuid columns (the reference's API form,
    src/tdb_uuid.c:52-75) normalize through the uuid_hex codec into the
    canonical lowercase-hex form: binary -> hex -> finalize -> open -> dump
    round-trips, and matches the same data ingested as hex text."""
    from traildb_spark.dataset import TrailDataset, normalize_events

    raw = bytes(range(16))                      # 000102...0e0f
    hex_form = raw.hex()
    rows_bin = [(bytearray(raw), 10, "x"), (bytearray(raw), 20, None)]
    df_bin = spark.createDataFrame(rows_bin, "uuid binary, time long, f string")
    ev = normalize_events(df_bin)
    got = sorted(map(tuple, ev.collect()))
    assert got == [(hex_form, 10, "x"), (hex_form, 20, "")]

    p = str(tmp_path / "bindb")
    TrailDataset(ev).finalize(p, num_buckets=1)
    back = TrailDataset.open(spark, p)
    assert back.trail(hex_form.upper()).count() == 2  # lookup normalizes too

    # identical to the hex-text ingest path
    df_hex = spark.createDataFrame(
        [(hex_form.upper(), 10, "x"), (hex_form, 20, None)],
        "uuid string, time long, f string",
    )
    assert sorted(map(tuple, normalize_events(df_hex).collect())) == got


def test_stale_index_guard_covers_sharded_datasets(spark, tmp_path):
    """The index<->data fingerprint must SEE the data of a time-sharded
    dataset (shard dirs start with '__shard=' — a naive hidden-dir walk
    would fingerprint them as empty and the stale guard would never
    fire)."""
    from traildb_spark.dataset import TrailDataset
    from traildb_spark.fsutil import data_fingerprint

    rows = [("aa", 1704067200 + i * 86400, "x" if i % 2 else "y") for i in range(4)]
    from traildb_spark.dataset import normalize_events

    ds = TrailDataset(
        normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
    )
    p = str(tmp_path / "sharded")
    ds.finalize(p, time_shard="yyyy-MM-dd")
    fp1 = data_fingerprint(spark, p)
    assert fp1 != data_fingerprint(spark, str(tmp_path))  # not the empty digest

    TrailDataset.build_index(spark, p, ["f"])
    assert TrailDataset.open(spark, p)._zindex is not None

    # rewrite the primary -> fingerprint changes -> index dropped
    ds2 = TrailDataset(
        normalize_events(
            spark.createDataFrame(rows[:2], ["uuid", "time", "f"])
        )
    )
    ds2.finalize(p, time_shard="yyyy-MM-dd", mode="overwrite")
    assert data_fingerprint(spark, p) != fp1
    assert TrailDataset.open(spark, p)._zindex is None


def test_sidecar_and_index_discovery_on_qualified_paths(spark, tmp_path):
    """finalize → tdb-index → open over a ``file://``-QUALIFIED path:
    sidecar write/read, the data fingerprint walk, and z-index discovery
    all go through the Hadoop FS API, so the identical code path serves
    hdfs:// and s3a:// (an os.path-based walk would see no files behind
    the scheme prefix and silently skip discovery — perf loss at best,
    a never-firing stale guard at worst)."""
    from traildb_spark.dataset import TrailDataset, normalize_events

    rows = [
        (f"u{i % 3:02d}", 1704067200 + i * 86400, "x" if i % 2 else "y")
        for i in range(8)
    ]
    ds = TrailDataset(
        normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
    )
    q = f"file://{tmp_path}/qualified_db"
    ds.finalize(q, time_shard="yyyy-MM-dd")

    opened = TrailDataset.open(spark, q)
    assert opened._shard_fmt == "yyyy-MM-dd"  # sidecar read through FS API

    TrailDataset.build_index(spark, q, ["f"])
    withx = TrailDataset.open(spark, q)
    assert withx._zindex is not None and withx._zindex[1] == ["f"]
    assert TrailDataset.open(spark, q, use_index=False)._zindex is None

    # rewrite the primary through the qualified path: stale guard fires
    ds.finalize(q, time_shard="yyyy-MM-dd", mode="overwrite")
    assert TrailDataset.open(spark, q)._zindex is None


def test_make_patch_apply_patch_roundtrip(spark):
    """apply_patch(a, make_patch(a, b)) must equal b as a MULTISET —
    including duplicate rows, pure deletions, pure insertions, and
    modified rows (delete+insert pairs); changed_only narrowing must not
    change the result; schema mismatch raises."""
    import pytest as _pytest

    from traildb_spark.dataset import apply_patch, diff_datasets, make_patch

    rows_a = [
        ("u1", 10, "x"), ("u1", 10, "x"),  # duplicate row: multiset matters
        ("u1", 20, "y"), ("u2", 5, "z"), ("u3", 7, "k"),
    ]
    rows_b = [
        ("u1", 10, "x"),                    # one duplicate removed
        ("u1", 20, "y2"),                   # modified
        ("u2", 5, "z"),                     # untouched trail
        ("u4", 9, "new"), ("u4", 9, "new"),  # inserted duplicates
    ]
    a = spark.createDataFrame(rows_a, "uuid string, time long, f string")
    b = spark.createDataFrame(rows_b, "uuid string, time long, f string")

    for changed_only in (True, False):
        patch = make_patch(a, b, changed_only=changed_only)
        got = sorted(map(tuple, apply_patch(a, patch).collect()))
        assert got == sorted(map(tuple, b.collect())), changed_only
        # the digest diff agrees: every trail matches after the patch
        d = diff_datasets(apply_patch(a, patch), b)
        assert d.filter(~d["match"]).count() == 0
    # untouched trails contribute NO patch rows under narrowing
    patch = make_patch(a, b)
    assert patch.filter(patch["uuid"] == "u2").count() == 0

    with _pytest.raises(ValueError, match="schemas differ"):
        make_patch(a, b.withColumnRenamed("f", "g"))


def test_fsutil_list_data_files_rules(spark, tmp_path):
    """The fingerprint walk's visibility rules, unit-level: hidden and
    metadata subtrees (_zindex, _staging, dotfiles) are invisible, Hive
    shard dirs ('__shard=...') are PRIMARY data, non-parquet files are
    ignored, and entries carry (rel, size, mtime)."""
    import os

    from traildb_spark import fsutil

    root = tmp_path / "db"
    (root / "__shard=2024-01-01").mkdir(parents=True)
    (root / "_zindex").mkdir()
    (root / "_staging" / "deep").mkdir(parents=True)
    (root / "__shard=2024-01-01" / "part-0.parquet").write_bytes(b"x" * 7)
    (root / "top.parquet").write_bytes(b"y" * 3)
    (root / "_zindex" / "z.parquet").write_bytes(b"z")
    (root / "_staging" / "deep" / "s.parquet").write_bytes(b"s")
    (root / ".hidden.parquet").write_bytes(b"h")
    (root / "_SUCCESS").write_bytes(b"")
    (root / "notes.txt").write_bytes(b"n")

    got = sorted(fsutil.list_data_files(spark, str(root)))
    assert [(r, s) for r, s, _ in got] == [
        ("__shard=2024-01-01/part-0.parquet", 7),
        ("top.parquet", 3),
    ]
    assert all(m > 0 for _, _, m in got)
    # qualified path: identical listing through the same API
    got_q = sorted(fsutil.list_data_files(spark, f"file://{root}"))
    assert [(r, s) for r, s, _ in got_q] == [(r, s) for r, s, _ in got]
    # absent root: empty, not an error
    assert list(fsutil.list_data_files(spark, str(tmp_path / "nope"))) == []


def test_make_patch_null_uuid_rows_not_lost(spark):
    """NULL-uuid rows must survive changed_only narrowing (NULL keys
    never pass a semi-join): differing NULL-uuid rows still produce
    patch rows and the round-trip still restores multiset equality."""
    from traildb_spark.dataset import apply_patch, make_patch

    a = spark.createDataFrame(
        [(None, 1, "x"), ("u1", 2, "y")],
        "uuid string, time long, f string",
    )
    b = spark.createDataFrame(
        [(None, 1, "CHANGED"), ("u1", 2, "y")],
        "uuid string, time long, f string",
    )
    patch = make_patch(a, b)
    assert patch.count() == 2  # one '-', one '+', both NULL-uuid
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted(map(tuple, apply_patch(a, patch).collect()), key=key)
    assert got == sorted(map(tuple, b.collect()), key=key)


def test_diff_datasets_null_uuid_trail_compares_as_one(spark):
    """A NULL-uuid trail present identically on both sides must compare
    as ONE matching trail (null-safe join), not two spurious mismatches
    that would flip `tdb diff`'s exit status on identical datasets."""
    from traildb_spark.dataset import diff_datasets

    a = spark.createDataFrame(
        [(None, 1, "x"), ("u1", 2, "y")], "uuid string, time long, f string"
    )
    d = diff_datasets(a, a).collect()
    assert len(d) == 2 and all(r["match"] for r in d)
    b = spark.createDataFrame(
        [(None, 1, "DIFFERENT"), ("u1", 2, "y")],
        "uuid string, time long, f string",
    )
    d2 = {r["uuid"]: r["match"] for r in diff_datasets(a, b).collect()}
    assert d2 == {None: False, "u1": True}


def test_package_roundtrip_single_file(tiny, spark, tmp_path):
    """S3/S4 single-file ergonomics (reference src/tdb_cons_package.c):
    finalized dataset -> ONE .tdbx file -> extract -> identical rows,
    sidecar intact, z-index re-tied (no false-stale warning) and still
    routing. Manifest catches truncation and unmanifested extras."""
    import json as _json
    import tarfile
    import warnings

    from traildb_spark.dataset import (
        export_package, import_package, PACKAGE_MANIFEST,
    )

    src = str(tmp_path / "src")
    tiny.finalize(src)
    TrailDataset.build_index(spark, src, ["action"])

    pkg = str(tmp_path / "ds.tdbx")
    export_package(src, pkg)
    assert os.path.isfile(pkg)

    out = str(tmp_path / "back")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a stale-index warning = failure
        import_package(spark, pkg, out)
        back = TrailDataset.open(spark, out)
        assert back._zindex is not None  # index survived + re-tied
    a = sorted(map(tuple, tiny.df.collect()))
    b = sorted(map(tuple, back.df.collect()))
    assert a == b

    # CLI loop: dump --package / make --from-package
    from traildb_spark import cli

    pkg2 = str(tmp_path / "cli.tdbx")
    assert cli.main(["dump", "-i", src, "--package", pkg2]) == 0
    out2 = str(tmp_path / "cliback")
    assert cli.main(["make", "--from-package", pkg2, "-o", out2]) == 0
    assert sorted(map(tuple, TrailDataset.open(spark, out2).df.collect())) == a
    # incompatible-knob rejection
    assert cli.main(["dump", "-i", src, "--package", pkg2,
                     "--filter", "action=open"]) == 1
    assert cli.main(["make", "--from-package", pkg2, "--csv-header",
                     "-o", out2]) == 1

    # truncation refusal: rewrite one member short
    broken = str(tmp_path / "broken.tdbx")
    with tarfile.open(pkg) as t, tarfile.open(
        broken, "w", format=tarfile.USTAR_FORMAT
    ) as w:
        for m in t.getmembers():
            blob = t.extractfile(m).read()
            if m.name.endswith(".parquet"):
                blob = blob[: len(blob) // 2]
                m.size = len(blob)
            import io as _io
            w.addfile(m, _io.BytesIO(blob))
    with pytest.raises(ValueError, match="truncated"):
        import_package(spark, broken, str(tmp_path / "nope"))

    # non-package tar refusal
    not_pkg = str(tmp_path / "not.tdbx")
    with tarfile.open(not_pkg, "w") as w:
        ti = tarfile.TarInfo("x")
        ti.size = 1
        import io as _io
        w.addfile(ti, _io.BytesIO(b"a"))
    with pytest.raises(ValueError, match="manifest"):
        import_package(spark, not_pkg, str(tmp_path / "nope2"))


# --- point queries: shard bounds, whitelists, lookups, file listing ------

_DAY0 = 1704067200  # 2024-01-01T00:00:00Z


def _count_jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def sharded_db(spark, tmp_path_factory):
    """12 trails x 4 days x 3 events, daily shards, z-index on ``f``."""
    from traildb_spark import normalize_events

    rows = [
        (f"{u:032x}", _DAY0 + d * 86400 + u * 60 + k, "xy"[k % 2])
        for u in range(12)
        for d in range(4)
        for k in range(3)
    ]
    ev = normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
    path = str(tmp_path_factory.mktemp("points") / "db")
    TrailDataset(ev).finalize(path, num_buckets=2, time_shard="yyyy-MM-dd")
    TrailDataset.build_index(spark, path, ["f"])
    return path, rows


def test_one_day_range_plans_one_shard(spark, sharded_db):
    """Time ranges are end-exclusive: a day-aligned one-day range must plan
    only that day's shard, on the dataset view, extract and a merged view,
    and return the rows an unsharded filter returns. (``inputFiles()``
    cannot show this: a path-based scan prunes partitions only at physical
    planning, so it lists every file.)"""
    import re

    from traildb_spark.plans import audit

    path, rows = sharded_db
    t0 = _DAY0 + 86400
    f = EventFilter().add_time_range(t0, t0 + 86400)
    ds = TrailDataset.open(spark, path, use_index=False)
    views = {
        "view": ds.with_filter(f).df,
        "extract": ds.extract(f).df,
        "merged": TrailDataset.merge([ds, ds]).with_filter(f).df,
    }
    for name, df in views.items():
        plan = audit.explain_str(df)
        scans = re.findall(r"PartitionFilters: (\[.*\])", plan)
        assert len(scans) == (2 if name == "merged" else 1), name
        for pf in scans:
            bounds = re.findall(r"__shard#\d+ ([<>]=) ([\d-]+)", pf)
            assert sorted(bounds) == [("<=", "2024-01-02"), (">=", "2024-01-02")], (name, pf)
    expect = sorted(r for r in rows if t0 <= r[1] < t0 + 86400)
    got = sorted(map(tuple, views["view"].select("uuid", "time", "f").collect()))
    assert got == expect and len(got) == 36


def test_trail_sorts_in_one_partition(spark, sharded_db):
    """A lookup plans no range exchange (whose bounds would cost a
    sampling job over every file), runs in at most two jobs, and returns
    the same time-ascending rows on the merged view."""
    from traildb_spark.plans import audit

    path, rows = sharded_db
    uuid = f"{5:032x}"
    q = TrailDataset.open(spark, path).trail(uuid.upper())
    assert "rangepartitioning" not in audit.explain_str(q, "simple")
    got = []
    jobs = _count_jobs(spark, "test-trail-jobs", lambda: got.extend(
        (r["uuid"], r["time"], r["f"]) for r in q.collect()))
    assert jobs <= 2
    expect = sorted((r for r in rows if r[0] == uuid), key=lambda r: r[1])
    assert got == expect
    # the merged view's lookup: every event twice, still time-ascending
    merged = TrailDataset.merge([TrailDataset.open(spark, path)] * 2).trail(uuid)
    times = [r["time"] for r in merged.collect()]
    assert times == sorted(r[1] for r in expect * 2)


def test_select_uuids_routes(spark, sharded_db):
    """A short literal whitelist reaches Parquet as a pushed ``In`` filter
    with no join, on the primary and on the z-index copy; a list above
    MAX_PUSHED_UUIDS and a DataFrame whitelist keep the semi-join. Every
    route returns the same rows: primary, z-index and merged view."""
    from traildb_spark import parse_filter
    from traildb_spark.operators.filters import MAX_PUSHED_UUIDS
    from traildb_spark.plans import audit

    path, rows = sharded_db
    wl = [f"{u:032x}" for u in (1, 5, 7)]
    fx = parse_filter("f=x")
    no_index = TrailDataset.open(spark, path, use_index=False)
    primary = no_index.select_uuids([u.upper() for u in wl]).with_filter(fx)
    via_index = TrailDataset.open(spark, path).select_uuids(wl).with_filter(fx)
    assert via_index._index_covers() and not primary._index_covers()
    in_list = "In(uuid, [" + ",".join(wl) + "])"
    for q in (primary.df, via_index.df):
        assert in_list in audit.pushed_filters(q)
        assert "Join" not in audit.explain_str(q, "simple")

    def got(df):
        return sorted(map(tuple, df.select("uuid", "time", "f").collect()))

    expect = sorted(r for r in rows if r[0] in wl and r[2] == "x")
    assert got(primary.df) == got(via_index.df) == expect
    merged = TrailDataset.merge([no_index, no_index]).select_uuids(wl)
    assert got(merged.with_filter(fx).df) == sorted(expect * 2)

    long_list = wl + [f"{10**6 + i:032x}" for i in range(MAX_PUSHED_UUIDS)]
    wl_df = spark.createDataFrame([(u,) for u in wl], "u string")
    for w in (long_list, wl_df):
        q = no_index.select_uuids(w).with_filter(fx).df
        assert "LeftSemi" in audit.explain_str(q, "simple")
        assert got(q) == expect


def _os_listing(path):
    """(rel, size, mtime ms) of the primary data files under ``path``,
    from ``os.stat`` under the documented listing rules."""
    out = []
    for root, dirs, names in os.walk(path):
        rel_dir = os.path.relpath(root, path)
        parts = [] if rel_dir == "." else rel_dir.split(os.sep)
        if any(d.startswith(".") or (d.startswith("_") and "=" not in d) for d in parts):
            continue
        for name in names:
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(root, name))
            out.append(("/".join(parts + [name]), st.st_size, st.st_mtime_ns // 10**6))
    return sorted(out)


def test_fsutil_listing_reads_no_bytes_and_matches_os_stat(spark, sharded_db, tmp_path):
    """The data-file listing reads no file content (binaryFile would raise
    on any file longer than maxLength=1 if it did), and the fingerprint
    equals a digest recomputed from ``os.stat`` under the documented
    rules, so sidecars written by earlier versions still validate. Names
    with a space, '%', non-ASCII and ';' (the separator inside Hadoop's
    ``FileStatus.toString``) list as they are, and so do the 34 shard
    dirs that Spark lists with a parallel job."""
    import hashlib

    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    from traildb_spark import fsutil

    path, _ = sharded_db
    wide = tmp_path / "wide"
    for d in range(34):
        (wide / f"__shard=2024-02-{d + 1:02d}").mkdir(parents=True)
        (wide / f"__shard=2024-02-{d + 1:02d}" / "part-0.parquet").write_bytes(b"p" * (d + 2))
    odd = wide / "__shard=a b%20é;c"
    odd.mkdir()
    for i, name in enumerate(["a b.parquet", "p%20q.parquet", "é ü.parquet",
                              "x;y.parquet", "s; isDirectory=false; length=9.parquet"]):
        (odd / name).write_bytes(b"q" * (i + 2))
    (wide / "_zindex").mkdir()
    (wide / "_zindex" / "z.parquet").write_bytes(b"zz")

    key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, "1")
    try:
        listed = {p: sorted(fsutil.list_data_files(spark, p)) for p in (path, str(wide))}
        assert all(listed.values())
        # the limit is live: reading any content now fails
        first = listed[path][0][0]
        with pytest.raises((PySparkException, Py4JJavaError)):
            spark.read.format("binaryFile").load(f"{path}/{first}").collect()
    finally:
        spark.conf.unset(key)

    for p, got in listed.items():
        expect = _os_listing(p)
        assert got == expect and len(expect) >= 4
        assert all(size > 1 for _, size, _ in got)
        h = hashlib.md5()
        for rel, size, mtime in expect:
            h.update(f"{rel}:{size}:{mtime};".encode("utf-8"))
        assert fsutil.data_fingerprint(spark, p) == h.hexdigest()
    assert len(listed[str(wide)]) == 34 + 5


def test_file_status_string_format_is_pinned(spark, sharded_db, monkeypatch):
    """The listing parses Hadoop's ``FileStatus.toString``: its format is
    pinned here on statuses the JVM builds, a name with '; ' and '}'
    included. A status outside the root, or of another format, falls
    back to the getters, which list the same entries."""
    from traildb_spark import fsutil

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path

    def status(p):
        return jvm.org.apache.hadoop.fs.FileStatus(1234, False, 1, 64, 1700000000123, hpath(p))

    def seq(*statuses):
        out = jvm.java.util.ArrayList()
        for st in statuses:
            out.add(st)
        return jvm.scala.jdk.javaapi.CollectionConverters.asScala(out)

    name = "a/x; isDirectory=true; }.parquet"
    st = status(f"file:/d/{name}")
    located = jvm.org.apache.hadoop.fs.LocatedFileStatus(st, None)
    assert str(st.toString()).startswith(
        f"FileStatus{{path=file:/d/{name}; isDirectory=false; length=1234; "
        "replication=1; blocksize=64; modification_time=1700000000123; access_time=")
    parse = fsutil._parse_listing
    assert parse(jvm, seq(st, located), "file:/d/") == [(name, 1234, 1700000000123)] * 2
    assert parse(jvm, seq(st, status("file:/e/y.parquet")), "file:/d/") is None
    assert parse(jvm, seq(), "file:/d/") == []

    path, _ = sharded_db
    listed = sorted(fsutil.list_data_files(spark, path))
    monkeypatch.setattr(fsutil, "_parse_listing", lambda *args: None)
    assert sorted(fsutil.list_data_files(spark, path)) == listed


def test_open_of_an_indexed_dataset_runs_no_jobs(spark, sharded_db):
    """``open`` lists the files without a job and reads with the schemas
    ``build_index`` recorded: no Spark job, the same rows on the primary
    and the index."""
    path, rows = sharded_db
    opened = []
    assert _count_jobs(spark, "test-open-jobs",
                       lambda: opened.append(TrailDataset.open(spark, path))) == 0
    ds = opened[0]
    assert ds._zindex is not None
    got = sorted(map(tuple, ds.df.select("uuid", "time", "f").collect()))
    assert got == sorted(rows)
    routed = ds.with_filter(EventFilter().add_term("f", "x"))
    assert routed._index_covers()
    assert sorted(map(tuple, routed.df.select("uuid", "time", "f").collect())) == sorted(
        r for r in rows if r[2] == "x")


@pytest.mark.parametrize("time_shard", ["yyyy-MM-dd", "yyyy-MM-dd-HH", None])
def test_recorded_schemas_equal_inferred(spark, tmp_path, time_shard):
    """The schemas ``open`` reads with are the ones inference gives:
    ``__shard`` is a date for daily shards, a string for hourly ones, and
    absent from a flat layout; the index generation's likewise."""
    from traildb_spark import normalize_events

    rows = [(f"{u:032x}", _DAY0 + d * 86400 + u * 60, "xy"[u % 2])
            for u in range(6) for d in range(3)]
    path = str(tmp_path / "db")
    TrailDataset(normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
                 ).finalize(path, num_buckets=2, time_shard=time_shard)
    TrailDataset.build_index(spark, path, ["f"])
    ds = TrailDataset.open(spark, path)
    assert ds._raw.schema == spark.read.parquet(path).schema
    zdf, _ = ds._zindex
    assert zdf.schema == spark.read.parquet(zdf.inputFiles()[0]).schema
    shard = {f.name: f.dataType.simpleString() for f in ds._raw.schema}.get("__shard")
    assert shard == {"yyyy-MM-dd": "date", "yyyy-MM-dd-HH": "string", None: None}[time_shard]


def test_file_added_outside_the_protocol_makes_schema_stale(spark, tmp_path):
    """A parquet file with an extra column dropped into a shard changes
    the listed digest: ``open`` warns "stale", infers the schema again
    instead of reading with the recorded one, and returns the rows a
    plain read returns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from traildb_spark import normalize_events

    rows = [(f"{u:032x}", _DAY0 + d * 86400 + u * 60, "xy"[u % 2])
            for u in range(6) for d in range(2)]
    path = str(tmp_path / "db")
    TrailDataset(normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
                 ).finalize(path, num_buckets=2, time_shard="yyyy-MM-dd")
    TrailDataset.build_index(spark, path, ["f"])
    pq.write_table(
        pa.table({"uuid": ["f" * 32], "time": [_DAY0 + 5], "f": ["x"], "extra": ["e"]}),
        os.path.join(path, "__shard=2024-01-01", "aaa-outside.parquet"))

    opened = []
    with pytest.warns(UserWarning, match="stale"):
        jobs = _count_jobs(spark, "test-stale-open",
                           lambda: opened.append(TrailDataset.open(spark, path)))
    ds = opened[0]
    assert jobs >= 1  # inferred, not read with the recorded schema
    assert ds._zindex is None
    plain = spark.read.parquet(path)
    assert ds._raw.schema == plain.schema
    assert sorted(map(tuple, ds._raw.collect())) == sorted(map(tuple, plain.collect()))
    assert ds._raw.filter(F.col("uuid") == "f" * 32).count() == 1


# --- finalized layout: range clustering ----------------------------------


def _range_rows():
    """40 trails x 4 days x 2 events."""
    return [
        (f"{u:032x}", _DAY0 + d * 86400 + u * 60 + k, "xy"[(u + k) % 2])
        for u in range(40)
        for d in range(4)
        for k in range(2)
    ]


@pytest.fixture(scope="module")
def range_db(spark, tmp_path_factory):
    """``_range_rows`` finalized with 4 buckets, in daily shards and flat."""
    from traildb_spark import normalize_events

    rows = _range_rows()
    ev = normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f"]))
    base = tmp_path_factory.mktemp("range")
    sharded, flat = str(base / "sharded"), str(base / "flat")
    TrailDataset(ev).finalize(sharded, num_buckets=4, time_shard="yyyy-MM-dd")
    TrailDataset(ev).finalize(flat, num_buckets=4)
    return sharded, flat, rows


def test_finalize_range_layout(spark, range_db):
    """Each write task covers one contiguous (shard, uuid) range: at most
    shards + n - 1 files, and within a shard the files' footer uuid ranges
    are disjoint, so min/max stats leave a lookup one file per shard.
    Lookups and whitelists return the source's rows on the sharded and the
    flat layout."""
    sharded, flat, rows = range_db
    by_shard = uuid_ranges_by_shard(spark, sharded)
    assert len(by_shard) == 4
    assert sum(map(len, by_shard.values())) <= 4 + 3
    for ranges in by_shard.values():
        assert_disjoint(ranges)
    flat_ranges = uuid_ranges_by_shard(spark, flat)[""]
    assert len(flat_ranges) > 1
    assert_disjoint(flat_ranges)

    views = [TrailDataset.open(spark, p) for p in (sharded, flat)]
    for u in (0, 17, 39):
        uuid = f"{u:032x}"
        expect = sorted((r for r in rows if r[0] == uuid), key=lambda r: r[1])
        for ds in views:
            assert [tuple(r) for r in ds.trail(uuid).select("uuid", "time", "f").collect()] == expect
    wl = [f"{u:032x}" for u in (3, 20, 38)]
    expect = sorted(r for r in rows if r[0] in wl)
    for ds in views:
        got = ds.select_uuids(wl).df.select("uuid", "time", "f").collect()
        assert sorted(map(tuple, got)) == expect


def test_finalize_samples_range_bounds_only_above_one_bucket(spark, tmp_path):
    """The range bounds cost one sampling job over the input; a one-bucket
    finalize (the streaming per-batch write) computes none."""
    from traildb_spark import normalize_events

    ev = normalize_events(spark.createDataFrame(_range_rows(), ["uuid", "time", "f"]))
    jobs = {
        n: _count_jobs(spark, f"test-finalize-{n}", lambda: TrailDataset(ev).finalize(
            str(tmp_path / str(n)), num_buckets=n, time_shard="yyyy-MM-dd"))
        for n in (1, 4)
    }
    assert jobs[4] == jobs[1] + 1, jobs
