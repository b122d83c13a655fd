"""Hadoop FileSystem helpers — ONE I/O route for every sidecar, pointer
and fingerprint operation.

The engine's data lives wherever Spark can read it (file://, hdfs://,
s3a://); driver-side metadata I/O must follow the same rule or features
silently degrade off the local filesystem (a sidecar read through
``open()`` returns FileNotFound on hdfs:// and index auto-discovery just
never happens). Every helper here goes through the JVM's Hadoop
FileSystem for the path's own scheme, so the SAME code path serves local
runs, tests, and object-store deployments. The indexes written beside
the data (MinHash, IVF, SQ8, JL-SQ8) load, commit and compact through
one protocol here, described at :func:`load_artifact`.

py4j caveat that shapes the API: byte[] arguments/returns are passed BY
VALUE, so a Java ``readFully(buf)`` never mutates a Python-held array —
reads therefore materialize JVM-side via commons-io ``IOUtils`` (bundled
with hadoop-common).
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Callable, Iterator


def hfs(spark, path: str):
    """(jvm, Path class, FileSystem) for ``path``'s scheme."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, hpath, fs


def exists(spark, path: str) -> bool:
    _, hpath, fs = hfs(spark, path)
    return bool(fs.exists(hpath(path)))


def read_small(spark, path: str) -> str | None:
    """Read a small UTF-8 file (sidecar/pointer); None if absent. Any
    OTHER failure raises — treating a transient read error as "no file"
    would silently drop metadata (stale-index guards, streaming state)."""
    jvm, hpath, fs = hfs(spark, path)
    p = hpath(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return str(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def write_small(spark, path: str, content: str) -> None:
    """Overwrite a small UTF-8 file through the FS API. ``create``
    truncates the live file first, so a failed write leaves it empty:
    anything a reader must always find whole goes through
    :func:`swap_pointer` instead."""
    _, hpath, fs = hfs(spark, path)
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(content, "utf-8"))
    finally:
        out.close()  # a leaked stream holds the HDFS lease, blocking retries


def swap_pointer(spark, latest: str, content: str) -> None:
    """Atomically repoint ``latest``: write ``.tmp`` then
    FileContext.rename(..., OVERWRITE) — the rename IS the commit.
    Atomic on HDFS and the local FS; on S3A it is a copy+delete of a tiny
    single object, which pointer protocols must tolerate (replays either
    rebuild the identical target or observe their own path and no-op)."""
    jvm, hpath, fs = hfs(spark, latest)
    tmp = hpath(latest + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content, "utf-8"))
    finally:
        out.close()
    fctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        hpath(latest).toUri(), spark.sparkContext._jsc.hadoopConfiguration()
    )
    opts = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fctx.rename(tmp, hpath(latest), opts)


def _digest(entries) -> str:
    """md5 over the sorted (relative path, size, modification-time ms)
    entries — the one consistency token format."""
    h = hashlib.md5()
    for rel, size, mtime in sorted(entries):
        h.update(f"{rel}:{size}:{mtime};".encode("utf-8"))
    return h.hexdigest()


def data_fingerprint(spark, path: str, df=None) -> str:
    """Cheap metadata fingerprint of a dataset's PRIMARY data files:
    md5 over the sorted (relative path, size, modification-time ms) list
    from :func:`list_data_files` (``df`` as there). The shared
    consistency token tying an auxiliary artifact (z-index, persisted
    index subdirs) to the data it was built from — the analog of the
    reference's index↔data checksum (`tdbcli/tdb_index.c:439-451`).
    mtime closes the same-name/same-size rewrite hole; the false-stale
    direction (a copy without preserved mtimes) only invalidates the
    artifact, never correctness. Goes through the Hadoop FS API so
    build-time and open-time fingerprints agree on any filesystem, not
    just file://."""
    return _digest(list_data_files(spark, path, df))


def list_data_files(spark, path: str, df=None) -> Iterator[tuple[str, int, int]]:
    """Yield (relative path, size, modification-time ms) for every
    PRIMARY parquet data file under ``path``, recursively.

    Hidden/metadata subtrees (components starting with '.' or '_':
    _zindex, _staging, _traildb_commits, _SUCCESS, checksums) are
    skipped, but Hive partition dirs are KEPT even when they start with
    '_' — time shards are named '__shard=<v>', and excluding them would
    make a sharded dataset look empty to the fingerprint. Only names
    ending in ``.parquet`` count.

    The entries come from the file index Spark builds when a file source
    is loaded — a ``binaryFile`` reader over ``path``, or ``df``, a read
    of ``path`` the caller already holds — so no Spark job runs (Spark
    lists more than 32 subdirs of one dir with a job) and no file
    content is read. Spark's listing already drops '.'/'_' names
    (except Hive dirs and ``_metadata``) and in-flight ``._COPYING_``
    paths, which no Spark read of the dataset sees either; the rules
    above are re-applied to its output. A flat read's index holds only
    the top-level files, so for ``df`` the rules apply to what that read
    scans."""
    jvm, hpath, fs = hfs(spark, path)
    root = hpath(path)
    if df is None:
        if not fs.exists(root):
            return
        df = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(path)
        )
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    files = df._jdf.queryExecution().analyzed().relation().location().allFiles()
    entries = _parse_listing(jvm, files, prefix)
    if entries is None:  # a FileStatus whose toString is not Hadoop's
        entries, it = [], files.iterator()
        while it.hasNext():
            st = it.next()
            p = str(st.getPath().toString())
            if p.startswith(prefix):
                entries.append((p[len(prefix):], int(st.getLen()),
                                int(st.getModificationTime())))
    for rel, size, mtime in entries:
        parts = rel.split("/")
        if (
            not parts[-1].endswith(".parquet")
            or parts[-1].startswith((".", "_"))
            or any(
                d.startswith(".") or (d.startswith("_") and "=" not in d)
                for d in parts[:-1]
            )
        ):
            continue
        yield rel, size, mtime


# One file's Hadoop FileStatus.toString, whose path starts with the quoted
# root %s; subclasses (LocatedFileStatus, S3AFileStatus) keep this form.
# Records are NUL-separated (no path holds NUL); the greedy path group
# keeps a '; ' inside a name.
_FILE_STATUS = (
    "[^\\x00]*?\\{path=%s([^\\x00]*); isDirectory=false; length=(\\d+); "
    "replication=\\d+; blocksize=\\d+; modification_time=(-?\\d+); "
    "access_time=[^\\x00]*"
)
_ENTRY = re.compile(r"(.*)\t(\d+)\t(-?\d+)", re.S | re.A)


def _parse_listing(jvm, files, prefix: str) -> list[tuple[str, int, int]] | None:
    """(path relative to ``prefix``, length, modification-time ms) of each
    FileStatus in the Scala collection ``files``; None when any record is
    not a file under ``prefix`` in Hadoop's ``toString`` form.

    A Java regex cuts each record down to those three fields before the
    text crosses py4j as ONE string, not three getter calls a file: a
    py4j reply longer than 8 KB waits ~40 ms for a delayed TCP ack, and
    the cut keeps small listings under that (33 files: ~3 KB)."""
    listing = files.addString(jvm.scala.collection.mutable.StringBuilder(), "\0")
    pattern = jvm.java.util.regex.Pattern.compile(
        _FILE_STATUS % jvm.java.util.regex.Pattern.quote(prefix))
    text = pattern.matcher(listing).replaceAll("$1\t$2\t$3")
    out = []
    for rec in text.split("\0") if text else ():
        m = _ENTRY.fullmatch(rec)
        if m is None:
            return None
        out.append((m.group(1), int(m.group(2)), int(m.group(3))))
    return out


# -- artifacts beside the data -------------------------------------------

def _live_files(spark, path: str, meta: dict, subs) -> dict[str, list]:
    """Data files of each live subdir of the artifact at ``path``, keyed
    by ``sub``, from ONE :func:`list_data_files` pass over the root. The
    entries are relative to the subdir, so each digest equals
    ``data_fingerprint`` of that subdir alone."""
    live = {sub: meta.get(f"{sub}_dir", sub) for sub in subs}
    by_dir: dict[str, list] = {d: [] for d in live.values()}
    for rel, size, mtime in list_data_files(spark, path):
        head, _, tail = rel.partition("/")
        if head in by_dir:
            by_dir[head].append((tail, size, mtime))
    return {sub: by_dir[d] for sub, d in live.items()}


def _verified(spark, path: str, meta_file: str, subs, builder: str,
              kinds=None) -> tuple[dict, dict[str, str], int]:
    """:func:`load_artifact`'s body; also returns the live file count."""
    raw = read_small(spark, f"{path}/{meta_file}")
    if raw is None:
        raise FileNotFoundError(
            f"no index sidecar at {path}/{meta_file}; build one with {builder}"
        )
    meta = json.loads(raw)
    if kinds is not None and meta.get("kind") not in kinds:
        raise ValueError(
            f"index at {path} is kind={meta.get('kind')!r}, not "
            f"{' or '.join(kinds)} — this call reads a {builder} artifact"
        )
    files = _live_files(spark, path, meta, subs)
    for sub, entries in files.items():
        want = meta.get(f"{sub}_fingerprint")
        if want is None or want != _digest(entries):
            raise ValueError(
                f"index at {path} is stale: its {sub} files changed since "
                "the sidecar was written, or the sidecar records no "
                f"fingerprint for them — rebuild with {builder}"
            )
    live = {sub: f"{path}/{meta.get(f'{sub}_dir', sub)}" for sub in subs}
    return meta, live, sum(len(e) for e in files.values())


def load_artifact(spark, path: str, meta_file: str, subs, builder: str,
                  kinds=None) -> tuple[dict, dict[str, str]]:
    """Open an index artifact written beside the data — the ONE commit
    protocol every persisted index (MinHash, IVF, SQ8, JL-SQ8) follows,
    the analog of the reference's index↔data checksum
    (`tdbcli/tdb_index.c:439-451`).

    Layout: ``<path>/<meta_file>`` is a JSON sidecar and the artifact's
    only pointer. Each subdir ``sub`` in ``subs`` is read from
    ``<path>/<meta[sub_dir]>`` (default ``<path>/<sub>``), and
    ``meta[sub_fingerprint]`` is the digest of that dir's data files.
    ``kind``, ``compactions`` and ``appends`` are the writers' own keys.

    Writes follow one order: data files first, then
    :func:`commit_artifact` (re-fingerprint, atomic sidecar rename) as
    the LAST step of every save, append and compaction, then
    :func:`sweep_generations`. A crash before the rename leaves either
    the previous sidecar over untouched dirs (the previous answer) or
    fingerprints that no longer match; a crash after it leaves orphans
    no reader resolves.

    Reading checks, in order: the sidecar exists (else
    ``FileNotFoundError`` naming ``builder``); its ``kind`` is in
    ``kinds`` when given; and every live subdir's fingerprint is
    recorded and current (else ``ValueError`` "stale"). There is no
    primary to fall back to, so an artifact that fails a check is
    refused, never partly served. Returns (meta, {sub: live path})."""
    meta, live, _ = _verified(spark, path, meta_file, subs, builder, kinds)
    return meta, live


def commit_artifact(spark, path: str, meta_file: str, subs,
                    meta: dict) -> int:
    """Record each live subdir's fingerprint in ``meta`` and write the
    sidecar through :func:`swap_pointer` — the rename is the commit of
    the :func:`load_artifact` protocol. Returns the live data files."""
    files = _live_files(spark, path, meta, subs)
    for sub, entries in files.items():
        meta[f"{sub}_fingerprint"] = _digest(entries)
    swap_pointer(spark, f"{path}/{meta_file}", json.dumps(meta))
    return sum(len(e) for e in files.values())


def next_generation(spark, root: str, subs=("",)) -> int:
    """One past the highest ``<sub>_g<N>`` child of ``root`` for any
    ``sub`` in ``subs``, live or orphaned, so a new generation never
    lands in a dir an earlier crashed write left behind."""
    _, hpath, fs = hfs(spark, root)
    p = hpath(root)
    pat = re.compile("(?:%s)_g(\\d+)" % "|".join(map(re.escape, subs)))
    gens = [
        int(m.group(1))
        for st in (fs.listStatus(p) if fs.exists(p) else [])
        if (m := pat.fullmatch(st.getPath().getName()))
    ]
    return max(gens, default=0) + 1


def sweep_generations(spark, root: str, live: set[str], subs=None) -> None:
    """Delete what a commit superseded under ``root``: each child named
    ``<sub>`` or ``<sub>_g<N>`` for a ``sub`` in ``subs`` (every child
    when ``subs`` is None) whose name is not in ``live``. Orphans of a
    crashed write go the same way."""
    _, hpath, fs = hfs(spark, root)
    p = hpath(root)
    if not fs.exists(p):
        return
    pat = None if subs is None else re.compile(
        "(?:%s)(?:_g\\d+)?" % "|".join(map(re.escape, subs)))
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name not in live and (pat is None or pat.fullmatch(name)):
            fs.delete(st.getPath(), True)


def compact_artifact(
    spark,
    path: str,
    meta_file: str,
    relayout: dict[str, Callable],
    builder: str,
    rows_sub: str,
    rows_per_file: int,
    kinds=None,
) -> int:
    """Re-lay-out every subdir of a :func:`load_artifact` artifact into a
    new generation: refuse a stale artifact (compacting unverified bytes
    would bless them under fresh fingerprints), count ``rows_sub``'s
    rows, pick the width, write ``<sub>_g<N>`` through
    ``relayout[sub](df, parts)``, commit, then sweep the superseded and
    orphaned generations. The width is bounded-size files at scale
    (``rows_per_file``), floored at the cluster's parallelism so a small
    artifact keeps enough splits for its probe scans. Returns the number
    of data files compacted away."""
    subs = tuple(relayout)
    meta, live, files_before = _verified(
        spark, path, meta_file, subs, builder, kinds)
    n = spark.read.parquet(live[rows_sub]).count()
    parts = max(1, -(-n // rows_per_file),
                min(spark.sparkContext.defaultParallelism, -(-n // 10_000)))
    gen = next_generation(spark, path, subs)
    for sub, fn in relayout.items():
        fn(spark.read.parquet(live[sub]), parts).write.mode(
            "overwrite").parquet(f"{path}/{sub}_g{gen}")
        meta[f"{sub}_dir"] = f"{sub}_g{gen}"
    meta["compactions"] = int(meta.get("compactions", 0)) + 1
    files_after = commit_artifact(spark, path, meta_file, subs, meta)
    sweep_generations(spark, path, {meta[f"{s}_dir"] for s in subs}, subs)
    return files_before - files_after
