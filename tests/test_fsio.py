"""fsio (pyarrow.fs persistence abstraction) — byte transparency, atomic
publish, and the non-POSIX proof: the doc cache and the versioned-table
manifest protocol run end-to-end against an in-memory ``mock://`` filesystem,
so none of the persistence layer can be touching ``os.path`` (the round-4
local-POSIX-only gap; reference parity: DFSDocCache.scala:13-46 routes all
cache IO through Hadoop ``FileSystem``)."""

from __future__ import annotations

import gzip

import pytest
from pyarrow.fs import _MockFileSystem

from spookystuff_spark import fsio
from spookystuff_spark.caching import dfs as dfs_cache
from spookystuff_spark.doc.observation import Observation
from spookystuff_spark.sources import upsert as U


@pytest.fixture
def mockfs():
    fs = _MockFileSystem()
    fsio.register_fs("mock", fs)
    yield fs
    fsio.unregister_fs("mock")


# ------------------------------------------------------------- primitives


def test_gz_named_files_are_byte_transparent(tmp_path):
    """Regression: pyarrow's open_*_stream defaults to compression='detect',
    which silently gzips/gunzips *.gz paths — fsio must be byte-transparent
    (the doc cache gzips its payloads itself)."""
    p = str(tmp_path / "x.json.gz")
    payload = gzip.compress(b'[{"k":1}]')
    fsio.write_bytes(p, payload)
    assert fsio.read_bytes(p) == payload
    assert gzip.decompress(fsio.read_bytes(p)) == b'[{"k":1}]'


def test_write_bytes_atomic_no_partials(tmp_path):
    """Local write stages under a tmp name + rename: after the write the dir
    holds exactly the target file (no .tmp-* debris), and overwrites swap
    whole contents."""
    p = str(tmp_path / "f.txt")
    fsio.write_bytes(p, b"one")
    fsio.write_bytes(p, b"two")
    assert fsio.read_bytes(p) == b"two"
    assert fsio.ls(str(tmp_path)) == ["f.txt"]


def test_resolve_schemes(tmp_path):
    from pyarrow.fs import LocalFileSystem

    fs, p = fsio.resolve(str(tmp_path))
    assert isinstance(fs, LocalFileSystem) and p == str(tmp_path)
    fs, p = fsio.resolve(f"file://{tmp_path}")
    assert isinstance(fs, LocalFileSystem) and p == str(tmp_path)
    fs, p = fsio.resolve(f"file:{tmp_path}")  # Hadoop-style single-slash
    assert isinstance(fs, LocalFileSystem) and p == str(tmp_path)


def test_ls_and_file_infos(tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "b.txt").write_bytes(b"xy")
    (tmp_path / "a.txt").write_bytes(b"x")
    root = str(tmp_path)
    assert fsio.ls(root) == ["a.txt", "b.txt", "sub"]
    assert fsio.file_infos(root) == [("a.txt", 1), ("b.txt", 2)]
    assert fsio.ls(str(tmp_path / "missing")) == []  # no raise
    assert fsio.sizes(
        [str(tmp_path / "b.txt"), str(tmp_path / "a.txt")]
    ) == [2, 1]


# --------------------------------------------------- non-POSIX: doc cache


def test_doc_cache_on_mock_fs(mockfs):
    """put/get round-trip with time-range (wayback) selection, entirely on
    the in-memory store — zero local-disk IO."""
    root = "mock://cache"
    obs1 = Observation(uri="http://x", content=b"v1", mime="text/plain")
    obs2 = Observation(uri="http://x", content=b"v2", mime="text/plain")
    dfs_cache.put(root, "k" * 32, [obs1], 1000)
    dfs_cache.put(root, "k" * 32, [obs2], 2000)

    latest = dfs_cache.get(root, "k" * 32)
    assert latest is not None and latest[0].bytes() == b"v2"
    wayback = dfs_cache.get(root, "k" * 32, before_ms=1500)
    assert wayback is not None and wayback[0].bytes() == b"v1"
    assert dfs_cache.get(root, "absent" * 6) is None


# ------------------------------------------- non-POSIX: manifest protocol


def _put_parquet(fs, path: str, n: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": list(range(n))}), path, filesystem=fs)


def test_manifest_protocol_on_mock_fs(mockfs):
    """Manifest-reference appends + commit-file CAS + vacuum carry-forward
    on a store with no hard links and no POSIX rename-into-dir — the exact
    object-store shape the round-4 hard-link design could not support."""
    tdir = "mock://tbl"
    # v1: one data file, committed by manifest + commit file
    mockfs.create_dir("tbl/v00001", recursive=True)
    _put_parquet(mockfs, "tbl/v00001/part-0.parquet", 3)
    U.write_manifest(tdir, "v00001", ["v00001/part-0.parquet"], None, "upsert")
    U._finalize_commit(tdir, "v00001", None)
    assert U.committed_versions(tdir) == ["v00001"]

    # v2: metadata-only append — new file + carried reference, no copy
    mockfs.create_dir("tbl/v00002", recursive=True)
    _put_parquet(mockfs, "tbl/v00002/part-0.parquet", 2)
    U.write_manifest(
        tdir,
        "v00002",
        ["v00001/part-0.parquet", "v00002/part-0.parquet"],
        None,
        "append",
        parent="v00001",
    )
    U._finalize_commit(tdir, "v00002", "v00001")
    assert U.committed_versions(tdir) == ["v00001", "v00002"]
    files = U.snapshot_files(tdir, "v00002")
    assert [fsio.basename(fsio.parent(f)) for f in files] == [
        "v00001",
        "v00002",
    ]

    # vacuum(keep=1): v1 loses its manifest (no longer time-travelable) but
    # its data file survives because v2 still references it
    U.vacuum(tdir, keep=1)
    assert U.committed_versions(tdir) == ["v00002"]
    assert fsio.exists("mock://tbl/v00001/part-0.parquet")
    assert not fsio.exists("mock://tbl/v00001/_MANIFEST.json")
    sizes = fsio.sizes(U.snapshot_files(tdir, "v00002"))
    assert len(sizes) == 2 and all(s > 0 for s in sizes)


def test_pointer_swap_on_mock_fs(mockfs):
    tdir = "mock://ptr"
    mockfs.create_dir("ptr", recursive=True)
    assert U._latest(tdir) is None
    U._finalize_commit(tdir, "v00007", None)
    assert fsio.read_bytes(fsio.join(tdir, U._POINTER)) == b"v00007\nv00000.c"
    assert U._latest(tdir) == "v00007"
    assert U._next_version(tdir) == "v00008"


def test_conditional_put_hook_true_cas_on_object_store(mockfs):
    """r7 punch #5: with a registered store-side conditional put (the S3
    If-None-Match / GCS ifGenerationMatch shape), two racing writers both
    run the FULL create_exclusive path against an object-store scheme and
    exactly one wins — without the POSIX O_EXCL branch (the mock fs is not
    a LocalFileSystem) and without the check-then-PUT fallback window."""
    import threading

    store: dict = {}
    lock = threading.Lock()
    calls = {"n": 0}

    def put_if_absent(path, data):
        # an atomic object-store conditional write: one lock-held
        # compare-and-insert, the mock equivalent of If-None-Match: *
        calls["n"] += 1
        with lock:
            if path in store:
                raise FileExistsError(path)
            store[path] = data

    fsio.register_conditional_put("mock", put_if_absent)
    try:
        barrier = threading.Barrier(2)
        outcomes = []

        def writer(tag):
            barrier.wait()
            try:
                fsio.create_exclusive(
                    "mock://cas/_commits/v00001.c", tag.encode()
                )
                outcomes.append(("ok", tag))
            except FileExistsError:
                outcomes.append(("lost", tag))

        ts = [
            threading.Thread(target=writer, args=(t,)) for t in ("a", "b")
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert sorted(o for o, _ in outcomes) == ["lost", "ok"]
        assert calls["n"] == 2  # both writers went through the hook
        winner = next(t for o, t in outcomes if o == "ok")
        assert store["mock://cas/_commits/v00001.c"] == winner.encode()
    finally:
        fsio.unregister_conditional_put("mock")

    # unregistered again: the documented check-then-PUT fallback applies
    fsio.mkdirs("mock://cas2")
    fsio.create_exclusive("mock://cas2/x", b"1")
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        fsio.create_exclusive("mock://cas2/x", b"2")


# ------------------------------- non-POSIX: Spark + lakehouse end to end


@pytest.fixture
def spark_mockfs(spark, tmp_path):
    """``mock://<auth>/...`` served to BOTH sides from one local dir: the
    driver's fsio through a registered pyarrow ``SubTreeFileSystem``, and
    Spark through Hadoop's ``ViewFileSystemOverloadScheme`` (the mount
    table's fallback link maps the scheme onto the same dir). Spark reads
    and writes data files as on any store, while a driver-side path that
    bypasses fsio — a raw ``pq.ParquetFile(path)`` — cannot open a
    ``mock://`` path. Yields (``mock://`` root, the local dir behind it).
    The authority is unique per test: Hadoop caches one FileSystem per
    scheme and authority."""
    from pyarrow.fs import LocalFileSystem, SubTreeFileSystem

    auth = f"lake{abs(hash(str(tmp_path)))}"
    hadoop = {
        "fs.mock.impl":
            "org.apache.hadoop.fs.viewfs.ViewFileSystemOverloadScheme",
        "fs.viewfs.overload.scheme.target.file.impl":
            "org.apache.hadoop.fs.LocalFileSystem",
        f"fs.viewfs.mounttable.{auth}.linkFallback":
            f"file://{tmp_path}/{auth}",
    }
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in hadoop.items():
        conf.set(k, v)
    fsio.register_fs(
        "mock", SubTreeFileSystem(str(tmp_path), LocalFileSystem())
    )
    yield f"mock://{auth}", f"{tmp_path}/{auth}"
    fsio.unregister_fs("mock")
    for k in hadoop:
        conf.unset(k)


def test_lakehouse_chains_on_mock_fs(spark, spark_mockfs):
    """The lakehouse chains whose driver-side storage IO must all go
    through fsio: a MERGE carrying deletion vectors, an IVM refresh over
    an upserted source, and a bloom-pruned point lookup."""
    import pyspark.sql.functions as F

    from spookystuff_spark.sources.bloom_index import read_table_points
    from spookystuff_spark.sources.incremental import refresh_aggregate
    from spookystuff_spark.sources.partitioned_table import (
        upsert_partitioned,
        write_table_partitioned,
    )

    root, local_root = spark_mockfs

    rows = spark.createDataFrame(
        [(i, f"p{i % 3}", i) for i in range(12)], "k long, p string, v long"
    )

    # DV-carrying partitioned MERGE: keys 0/6 deleted, only 0 re-upserted
    t = f"{root}/part"
    write_table_partitioned(rows, t, "p")
    U.delete_where_dv(spark, t, F.col("k") % 6 == 0, ["k"])
    upsert_partitioned(
        spark, t, rows.where("k = 0").withColumn("v", F.lit(99)), ["k"], "p"
    )
    got = {r["k"]: r["v"] for r in U.read_table(spark, t).collect()}
    assert got[0] == 99 and 6 not in got and len(got) == 11
    assert U._read_manifest_raw(t, U._latest(t))["dv"]

    # IVM refresh over a preimage-logging upserted source
    src, dst = f"{root}/src", f"{root}/agg"
    U.write_table(rows, src)
    refresh_aggregate(spark, src, dst, ["p"], ["v"])
    U.upsert(
        spark, src, rows.where("k < 3").withColumn("v", F.lit(100)), ["k"],
        feed_preimages=True,
    )
    refresh_aggregate(spark, src, dst, ["p"], ["v"])
    agg = {
        r["p"]: r["v_sum"]
        for r in U.read_table(spark, dst).select("p", "v_sum").collect()
    }
    want = {
        r["p"]: r["s"]
        for r in U.read_table(spark, src)
        .groupBy("p")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert agg == want

    # bloom point lookups over write-time-attached blooms. The attach
    # publishes sidecars from executor tasks, which resolve a path from
    # its URI alone (registrations are driver-side), so the table is
    # written through the local dir and probed through mock://
    U.write_table(
        rows.repartition(3), f"{local_root}/bloom", bloom_cols=["k"]
    )
    b = f"{root}/bloom"
    (hit, _), (miss, info) = read_table_points(spark, b, "k", [4, 1000])
    assert [r["v"] for r in hit.collect()] == [4]
    assert miss.count() == 0 and info["skipped_bloom"] > 0
