"""Hadoop FileSystem helpers — ONE I/O route for every sidecar, pointer
and fingerprint operation.

The engine's data lives wherever Spark can read it (file://, hdfs://,
s3a://); driver-side metadata I/O must follow the same rule or features
silently degrade off the local filesystem (a sidecar read through
``open()`` returns FileNotFound on hdfs:// and index auto-discovery just
never happens). Every helper here goes through the JVM's Hadoop
FileSystem for the path's own scheme, so the SAME code path serves local
runs, tests, and object-store deployments.

py4j caveat that shapes the API: byte[] arguments/returns are passed BY
VALUE, so a Java ``readFully(buf)`` never mutates a Python-held array —
reads therefore materialize JVM-side via commons-io ``IOUtils`` (bundled
with hadoop-common).
"""

from __future__ import annotations

from typing import Iterator


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
    """Overwrite a small UTF-8 file through the FS API."""
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


def data_fingerprint(spark, path: str) -> str:
    """Cheap metadata fingerprint of a dataset's PRIMARY data files:
    md5 over the sorted (relative path, size, modification-time ms) list
    from :func:`list_data_files`. The shared consistency token tying an
    auxiliary artifact (z-index, persisted IVF cells) to the data it was
    built from — the analog of the reference's index↔data checksum
    (`tdbcli/tdb_index.c:439-451`). mtime closes the same-name/same-size
    rewrite hole; the false-stale direction (a copy without preserved
    mtimes) only invalidates the artifact, never correctness. Goes
    through the Hadoop FS API so build-time and open-time fingerprints
    agree on any filesystem, not just file://."""
    import hashlib

    h = hashlib.md5()
    for rel, size, mtime in sorted(list_data_files(spark, path)):
        h.update(f"{rel}:{size}:{mtime};".encode("utf-8"))
    return h.hexdigest()


def list_data_files(spark, path: str) -> Iterator[tuple[str, int, int]]:
    """Yield (relative path, size, modification-time ms) for every
    PRIMARY parquet data file under ``path``, recursively.

    Hidden/metadata subtrees (components starting with '.' or '_':
    _zindex, _staging, _traildb_commits, _SUCCESS, checksums) are
    skipped, but Hive partition dirs are KEPT even when they start with
    '_' — time shards are named '__shard=<v>', and excluding them would
    make a sharded dataset look empty to the fingerprint.

    The entries come from ONE Spark listing, not a py4j round trip per
    file: a ``binaryFile`` read of ``*.parquet`` that selects only path,
    length and modification time, so no file content is read. Spark's
    listing already drops '.'/'_' names (except Hive dirs and
    ``_metadata``) and in-flight ``._COPYING_`` paths, which no Spark read
    of the dataset sees either; the rules above are re-applied to its
    output."""
    from pyspark.sql import functions as F

    _, hpath, fs = hfs(spark, path)
    root = hpath(path)
    if not fs.exists(root):
        return
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select("path", "length", F.unix_millis("modificationTime").alias("mtime"))
        .collect()
    )
    for p, size, mtime in listing:
        if not p.startswith(prefix):
            continue
        rel = p[len(prefix):]
        parts = rel.split("/")
        if parts[-1].startswith((".", "_")) or any(
            d.startswith(".") or (d.startswith("_") and "=" not in d)
            for d in parts[:-1]
        ):
            continue
        yield rel, int(size), int(mtime)
