"""The commit protocol of everything written beside the data
(``fsutil.load_artifact``): the z-index generations, atomic sidecar
writes, and refusal of artifacts whose sidecar cannot vouch for them."""

import contextlib
import json
import os

import pytest
from pyspark.sql import functions as F

from traildb_spark import TrailDataset, fsutil, parse_filter
from traildb_spark.dataset import META_FILE, normalize_events, update_meta
from traildb_spark.operators import dedup, similarity

_DAY0 = 1704067200


class _FailingWrites:
    """A Hadoop FileSystem whose output streams raise on ``write``: the
    state a crash mid-write leaves behind, without killing anything."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def create(self, *args):
        real = self._fs.create(*args)

        class _Stream:
            def write(self, _data):
                raise IOError("injected write failure")

            def close(self):
                real.close()

        return _Stream()


@contextlib.contextmanager
def _failing_writes():
    """Route every ``fsutil`` FileSystem through :class:`_FailingWrites`
    inside the block."""
    with pytest.MonkeyPatch.context() as mp:
        real = fsutil.hfs

        def hfs(spark, path):
            jvm, hpath, fs = real(spark, path)
            return jvm, hpath, _FailingWrites(fs)

        mp.setattr(fsutil, "hfs", hfs)
        with pytest.raises(IOError, match="injected"):
            yield


@pytest.fixture
def zdb(spark, tmp_path):
    """12 trails x 2 days, indexed on ``f``; returns (path, primary rows
    of f=x sorted)."""
    rows = [
        (f"{u:032x}", _DAY0 + d * 86400 + u * 60 + k, "xy"[k % 2], "pq"[u % 2])
        for u in range(12)
        for d in range(2)
        for k in range(2)
    ]
    ev = normalize_events(spark.createDataFrame(rows, ["uuid", "time", "f", "g"]))
    path = str(tmp_path / "db")
    TrailDataset(ev).finalize(path, num_buckets=2)
    TrailDataset.build_index(spark, path, ["f"])
    want = _rows(TrailDataset.open(spark, path, use_index=False))
    return path, want


def _filtered(ds):
    return ds.with_filter(parse_filter("f=x")).df


def _rows(ds):
    return sorted(map(tuple, _filtered(ds).collect()))


def _zindex_children(path):
    return sorted(os.listdir(os.path.join(path, "_zindex")))


def _routed_to(ds, gen):
    return all(f"/_zindex/{gen}/" in f for f in _filtered(ds).inputFiles())


def test_zindex_rebuild_crash_keeps_previous_index(spark, zdb):
    """A rebuild that fails at the sidecar commit, after its generation
    is written, leaves the previous index serving the primary's rows;
    the next rebuild commits and sweeps the orphan."""
    path, want = zdb
    with _failing_writes():
        TrailDataset.build_index(spark, path, ["f", "g"])

    ds = TrailDataset.open(spark, path)
    assert ds._zindex[1] == ["f"]
    assert _routed_to(ds, "_g1")
    assert _rows(ds) == want
    assert [c for c in _zindex_children(path) if not c.startswith(".")] == [
        "_g1", "_g2"]

    TrailDataset.build_index(spark, path, ["f", "g"])
    assert [c for c in _zindex_children(path) if not c.startswith(".")] == [
        "_g3"]
    ds = TrailDataset.open(spark, path)
    assert ds._zindex[1] == ["f", "g"] and _routed_to(ds, "_g3")
    assert _rows(ds) == want


def test_zindex_legacy_flat_layout_opens_and_rebuild_sweeps_it(spark, zdb):
    """A dataset whose sidecar records the flat ``"path": "_zindex"``
    layout still opens and routes; a rebuild nests its generation under
    it (invisible to the flat read) and sweeps the flat files."""
    path, want = zdb
    zroot = os.path.join(path, "_zindex")
    for name in os.listdir(os.path.join(zroot, "_g1")):
        os.rename(os.path.join(zroot, "_g1", name), os.path.join(zroot, name))
    os.rmdir(os.path.join(zroot, "_g1"))
    meta = json.loads(open(os.path.join(path, META_FILE)).read())
    update_meta(spark, path, zindex={**meta["zindex"], "path": "_zindex"})

    ds = TrailDataset.open(spark, path)
    files = _filtered(ds).inputFiles()
    assert files and all("/_zindex/part-" in f for f in files)
    assert _rows(ds) == want

    TrailDataset.build_index(spark, path, ["f"])
    assert [c for c in _zindex_children(path) if not c.startswith(".")] == [
        "_g1"]
    meta = json.loads(open(os.path.join(path, META_FILE)).read())
    assert meta["zindex"]["path"] == "_zindex/_g1"
    ds = TrailDataset.open(spark, path)
    assert _routed_to(ds, "_g1") and _rows(ds) == want


def test_zindex_generation_files_are_fingerprinted(spark, zdb):
    """``open`` routes to the index only while the live generation's
    files match the digest its sidecar entry records: with no digest
    recorded, or with a part file deleted, it warns "stale" and a covered
    filter returns the primary's rows, not the rows the remaining index
    files hold."""
    import pyarrow.parquet as pq

    path, want = zdb
    meta = json.loads(open(os.path.join(path, META_FILE)).read())
    zmeta = meta["zindex"]
    update_meta(spark, path, zindex={
        k: v for k, v in zmeta.items() if k != "index_fingerprint"})
    with pytest.warns(UserWarning, match="stale"):
        assert TrailDataset.open(spark, path)._zindex is None
    update_meta(spark, path, zindex=zmeta)
    assert _routed_to(TrailDataset.open(spark, path), "_g1")

    gen = os.path.join(path, "_zindex", "_g1")
    with_x = [
        name for name in sorted(os.listdir(gen))
        if name.endswith(".parquet")
        and "x" in pq.read_table(os.path.join(gen, name)).column("f").to_pylist()
    ]
    os.remove(os.path.join(gen, with_x[0]))
    with pytest.warns(UserWarning, match="stale"):
        ds = TrailDataset.open(spark, path)
    assert ds._zindex is None
    assert _rows(ds) == want


def test_failed_sidecar_write_keeps_previous_sidecar(
        spark, sf_dir, tmp_path, zdb):
    """A sidecar write whose stream fails leaves the previous sidecar
    whole: the dataset still finds its index, and an SQ8 artifact whose
    compaction failed at the commit still answers as before."""
    path, want = zdb
    with _failing_writes():
        update_meta(spark, path, extra=1)
    ds = TrailDataset.open(spark, path)
    assert ds._zindex is not None and _rows(ds) == want

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    idx = str(tmp_path / "sq8")
    similarity.save_sq8_index(emb, idx)
    queries = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    before = sorted(map(tuple, similarity.sq8_topk_prebuilt(
        spark, idx, queries, k=3, rerank=5).collect()))

    with _failing_writes():
        similarity.compact_code_index(spark, idx)
    assert sorted(map(tuple, similarity.sq8_topk_prebuilt(
        spark, idx, queries, k=3, rerank=5).collect())) == before
    # the next compaction skips past the orphaned generation and sweeps it
    similarity.compact_code_index(spark, idx)
    assert {d for d in os.listdir(idx) if not d.startswith((".", "_"))} == {
        "codes_g2", "full_g2"}


def _drop_key(spark, sidecar, key):
    meta = json.loads(fsutil.read_small(spark, sidecar))
    del meta[key]
    fsutil.swap_pointer(spark, sidecar, json.dumps(meta))


def test_artifact_without_fingerprint_is_refused(spark, sf_dir, tmp_path):
    """A sidecar that records no fingerprint for a live subdir vouches
    for nothing: the probe refuses it as stale instead of serving it."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    queries = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")

    sq8 = str(tmp_path / "sq8")
    similarity.save_sq8_index(emb, sq8)
    _drop_key(spark, f"{sq8}/{similarity.SQ8_META_FILE}", "codes_fingerprint")
    with pytest.raises(ValueError, match="stale"):
        similarity.sq8_topk_prebuilt(spark, sq8, queries).collect()

    ivf = str(tmp_path / "ivf")
    similarity.save_ivf_index(emb, ivf, num_centroids=2)
    _drop_key(spark, f"{ivf}/{similarity.IVF_META_FILE}", "data_fingerprint")
    with pytest.raises(ValueError, match="stale"):
        similarity.ivf_topk_prebuilt(spark, ivf, queries, k=3).collect()


def test_minhash_sidecar_of_the_old_format_is_refused(spark, sf_dir, tmp_path):
    """MinHash fingerprints live under ``bands_fingerprint`` /
    ``grams_fingerprint``; a sidecar in the earlier ``data_fingerprint``
    dict format is refused as stale, naming the builder."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    idx = str(tmp_path / "mh")
    dedup.save_minhash_index(docs, idx, shingle_k=5, num_hashes=16, bands=4)
    sidecar = f"{idx}/{dedup.MINHASH_META_FILE}"
    meta = json.loads(fsutil.read_small(spark, sidecar))
    assert {"bands_fingerprint", "grams_fingerprint"} <= set(meta)
    meta["data_fingerprint"] = {
        "bands": meta.pop("bands_fingerprint"),
        "grams": meta.pop("grams_fingerprint"),
    }
    fsutil.swap_pointer(spark, sidecar, json.dumps(meta))
    with pytest.raises(ValueError, match="stale.*save_minhash_index"):
        dedup.fuzzy_dedup_against_prebuilt(spark, idx, docs)


def test_sq8_probe_lists_the_artifact_once(spark, sf_dir, tmp_path, monkeypatch):
    """Verifying both live subdirs of an SQ8 artifact takes one listing
    over the artifact root, not one per subdir, and the listing runs no
    Spark job: a probe call (which collects its survivor ids eagerly)
    runs 8 jobs here, 9 when the listing was a job."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    idx = str(tmp_path / "sq8")
    similarity.save_sq8_index(emb, idx)
    queries = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    listings = []
    real = fsutil._parse_listing
    monkeypatch.setattr(fsutil, "_parse_listing",
                        lambda *args: listings.append(args) or real(*args))
    sc = spark.sparkContext
    sc.setJobGroup("sq8_probe", "sq8_probe")
    try:
        similarity.sq8_topk_prebuilt(spark, idx, queries, k=3, rerank=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(listings) == 1
    assert len(sc.statusTracker().getJobIdsForGroup("sq8_probe")) <= 8
