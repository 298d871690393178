"""Incremental materialized aggregates from the change feed
(sources/incremental.py): fold-vs-recompute equality across upserts with
preimages, deletes, metadata-only appends and compactions; exactly-once
refresh markers; loud refusal when preimages are missing."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from spookystuff_spark.sources import upsert as U
from spookystuff_spark.sources.incremental import (
    last_processed_version,
    refresh_aggregate,
)


def _rows(spark, data):
    return spark.createDataFrame(data, "k int, grp string, val long")


def _expected(spark, src):
    return {
        (r["grp"], r["val_sum"], r["n_rows"])
        for r in U.read_table(spark, src)
        .groupBy("grp")
        .agg(F.sum("val").alias("val_sum"), F.count("*").alias("n_rows"))
        .collect()
    }


def _got(spark, dst):
    return {
        (r["grp"], r["val_sum"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }


def test_fold_tracks_recompute_through_all_commit_kinds(
    spark, tmp_path, monkeypatch
):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    # v1 baseline
    U.write_table(
        _rows(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)]), src
    )
    assert refresh_aggregate(spark, src, dst, ["grp"], ["val"]) is not None
    assert _got(spark, dst) == _expected(spark, src) == {
        ("a", 30, 2), ("b", 5, 1)
    }

    # v2: upsert WITH preimages — update k=2 (a: 20→25), insert k=4 (b)
    U.upsert(
        spark, src, _rows(spark, [(2, "a", 25), (4, "b", 7)]), ["k"],
        feed_preimages=True,
    )
    # v3: metadata-only append
    U.append_rows(spark, src, _rows(spark, [(5, "c", 100)]))
    # v4: delete a whole group
    U.delete_where(spark, src, F.col("grp") == "c")
    # v5: compaction (no logical change, no feed)
    U.compact(spark, src, num_files=2)

    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    assert _got(spark, dst) == _expected(spark, src) == {
        ("a", 35, 2), ("b", 12, 2)
    }
    assert last_processed_version(dst) == U.committed_versions(src)[-1]

    # idempotence: nothing new → no-op, no new derived version
    n = len(U.committed_versions(dst))
    assert refresh_aggregate(spark, src, dst, ["grp"], ["val"]) is None
    assert len(U.committed_versions(dst)) == n

    # v6 delta, v7 checkpoint (fold depth capped at 1)
    monkeypatch.setattr(U, "CHECKPOINT_EVERY", 1)
    U.append_rows(spark, src, _rows(spark, [(6, "a", 1)]))
    v7 = U.append_rows(spark, src, _rows(spark, [(7, "b", 2)]))
    assert U._read_manifest_raw(src, v7)["consolidated"]
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    assert _got(spark, dst) == _expected(spark, src)

    # format guard: every manifest written — table and view, full,
    # checkpoint and delta, and the reference change feeds — is stamped
    from spookystuff_spark import fsio

    kinds = set()
    for table in (src, dst):
        for rel in fsio.list_files_recursive(table):
            if rel.endswith(U._MANIFEST):
                path = fsio.join(table, rel)
                raw = json.loads(fsio.read_bytes(path))
                assert raw[U._FORMAT_KEY] == U.FORMAT_VERSION, path
                kinds.add(
                    "feed" if f"/{U._CHANGES}/" in rel
                    else "delta" if "files_base" in raw
                    else "full"
                )
    assert kinds == {"feed", "delta", "full"}

    # ... and every read refuses a manifest stamped otherwise or unstamped
    def restamp(path, stamp):
        raw = json.loads(fsio.read_bytes(path))
        raw.pop(U._FORMAT_KEY, None)
        if stamp is not None:
            raw[U._FORMAT_KEY] = stamp
        fsio.write_bytes(path, json.dumps(raw).encode())

    tip = fsio.join(src, v7, U._MANIFEST)
    feed = fsio.join(src, v7, U._CHANGES, U._MANIFEST)
    for stamp in (None, U.FORMAT_VERSION + 1):
        restamp(tip, stamp)
        with pytest.raises(ValueError, match="format"):
            U.read_table(spark, src)
        restamp(tip, U.FORMAT_VERSION)
        restamp(feed, stamp)
        with pytest.raises(ValueError, match="format"):
            U.change_files(src, v7)
        restamp(feed, U.FORMAT_VERSION)
    assert U.read_table(spark, src).count() == 6


def test_group_vanishes_at_zero_count(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(_rows(spark, [(1, "a", 1), (2, "b", 2)]), src)
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    U.delete_where(spark, src, F.col("grp") == "b")
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    assert _got(spark, dst) == {("a", 1, 1)}


def test_upsert_without_preimages_refuses(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(_rows(spark, [(1, "a", 1)]), src)
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    # an update whose old value the fold can't subtract
    U.upsert(spark, src, _rows(spark, [(1, "a", 9)]), ["k"])
    with pytest.raises(ValueError, match="preimage"):
        refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    # the derived table did not drift
    assert _got(spark, dst) == {("a", 1, 1)}


def test_refresh_is_incremental_not_a_rescan(spark, tmp_path):
    """The fold must read feed files only — prove it by destroying the
    ability to rescan: once a feed has been CONSUMED (refreshed), vacuum
    the source down to the newest version (dropping every old snapshot and
    consumed feed), append more rows, and the next refresh still lands
    exactly because it needs only the NEW feed. (Retention contract, same
    as Delta CDF: never vacuum a feed a consumer has not processed yet —
    the processed watermark in the derived table is what you check.)"""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(_rows(spark, [(1, "a", 10)]), src)
    U.append_rows(spark, src, _rows(spark, [(2, "a", 5), (3, "b", 1)]))
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])  # consumes v1+v2
    U.compact(spark, src, num_files=1)
    U.vacuum(src, keep=1)  # consumed snapshots and feeds are gone
    U.append_rows(spark, src, _rows(spark, [(4, "b", 2)]))
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    assert _got(spark, dst) == _expected(spark, src) == {
        ("a", 15, 2), ("b", 3, 2)
    }


def test_minmax_fold_on_insert_only_source(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(_rows(spark, [(1, "a", 10), (2, "b", 7)]), src)
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    U.append_rows(spark, src, _rows(spark, [(3, "a", 3), (4, "c", 99)]))
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    got = {
        (r["grp"], r["val_sum"], r["val_min"], r["val_max"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    assert got == {
        ("a", 13, 3, 10, 2),
        ("b", 7, 7, 7, 1),
        ("c", 99, 99, 99, 1),
    }


def test_minmax_rederives_affected_groups_under_deletes(spark, tmp_path):
    """Deleting a group's current max re-derives THAT group's min/max from
    the source (targeted rescan); untouched groups keep folding; a fully
    deleted group disappears."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(
        _rows(spark, [(1, "a", 10), (2, "a", 3), (3, "b", 7), (4, "c", 1)]),
        src,
    )
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    # delete a's max (10) and all of c; append to b in the same feed range
    U.delete_where(spark, src, F.col("k").isin(1, 4))
    U.append_rows(spark, src, _rows(spark, [(5, "b", 99)]))
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    got = {
        (r["grp"], r["val_sum"], r["val_min"], r["val_max"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    assert got == {
        ("a", 3, 3, 3, 1),     # max re-derived after losing 10
        ("b", 106, 7, 99, 2),  # untouched by deletes: pure fold
    }


def test_minmax_rederives_update_preimages(spark, tmp_path):
    """An update that REPLACES a group's extreme value (preimage-logged
    MERGE) re-derives that group exactly."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(_rows(spark, [(1, "a", 10), (2, "a", 3)]), src)
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    U.upsert(spark, src, _rows(spark, [(1, "a", 5)]), ["k"], feed_preimages=True)
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    got = {
        (r["grp"], r["val_sum"], r["val_min"], r["val_max"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    assert got == {("a", 8, 3, 5, 2)}


def test_minmax_rescan_prunes_to_affected_partitions(spark, tmp_path, monkeypatch):
    """With a group-partitioned source and src_partition_col set, the
    re-derivation rescan goes through the manifest-pruned partition reader
    with ONLY the affected groups — untouched partitions cost zero IO."""
    from spookystuff_spark.sources import partitioned_table as PT
    from spookystuff_spark.sources import incremental as INC

    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    PT.write_table_partitioned(
        _rows(spark, [(1, "a", 10), (2, "a", 3), (3, "b", 7), (4, "b", 9)]),
        src,
        "grp",
    )
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"],
        src_partition_col="grp",
    )
    U.delete_where_dv(spark, src, F.col("k") == 2, ["k"])

    calls = []
    real = PT.read_table_partitions

    def spy(spark_, table_dir, partition_values, version=None):
        calls.append(sorted(str(v) for v in partition_values))
        return real(spark_, table_dir, partition_values, version)

    monkeypatch.setattr(PT, "read_table_partitions", spy)
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"],
        src_partition_col="grp",
    )
    assert calls == [["a"]]  # only the affected partition was read
    got = {
        (r["grp"], r["val_sum"], r["val_min"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    assert got == {("a", 10, 10, 1), ("b", 16, 7, 2)}


def test_streaming_refresh_follows_cdc(spark, tmp_path):
    """CDC stream → foreachBatch refresh: the derived aggregate follows
    source commits continuously, exactly-once via the _SRC_ watermark."""
    from spookystuff_spark.sources.incremental import streaming_refresh_sink
    from spookystuff_spark.sources.versioned_source import (
        VersionedTableDataSource,
    )

    from spookystuff_spark.sources.versioned_source import register as _reg; _reg(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    U.write_table(_rows(spark, [(1, "a", 10)]), src)

    stream = (
        spark.readStream.format("spooky_versioned")
        .option("path", src)
        .option("changeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_refresh_sink(src, dst, ["grp"], ["val"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert _got(spark, dst) == {("a", 10, 1)}
        U.append_rows(spark, src, _rows(spark, [(2, "a", 5), (3, "b", 2)]))
        q.processAllAvailable()
        assert _got(spark, dst) == {("a", 15, 2), ("b", 2, 1)}
        U.upsert(
            spark, src, _rows(spark, [(3, "b", 4)]), ["k"],
            feed_preimages=True,
        )
        q.processAllAvailable()
        assert _got(spark, dst) == _expected(spark, src) == {
            ("a", 15, 2), ("b", 4, 1)
        }
    finally:
        q.stop()


def test_unconsumed_drop_does_not_stall_the_fold(spark, tmp_path):
    """Column-pruned feed walk: dropping a column the aggregate never
    folds (requested_cols = group + sum + min/max) must not stall the
    refresh — pre-r8 every drop refused, stranding the view until a
    rebuild. Dropping a CONSUMED column still refuses loudly."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    rows = spark.createDataFrame(
        [(1, "a", 10, "junk1"), (2, "b", 20, "junk2")],
        "k int, grp string, val long, extra string",
    )
    U.write_table(rows, src)
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    # drop the UNCONSUMED column mid-stream, then keep appending
    U.compact(spark, src)
    U.drop_column(src, "extra")
    U.append_rows(spark, src, spark.createDataFrame(
        [(3, "a", 5)], "k int, grp string, val long"
    ))
    assert refresh_aggregate(spark, src, dst, ["grp"], ["val"]) is not None
    assert _got(spark, dst) == _expected(spark, src)
    # dropping a CONSUMED column still refuses: fresh view over a fresh
    # source, drop the sum column inside the fold range
    src2, dst2 = str(tmp_path / "src2"), str(tmp_path / "dst2")
    U.write_table(
        spark.createDataFrame(
            [(1, "a", 10, 99)], "k int, grp string, val long, gone long"
        ),
        src2,
    )
    refresh_aggregate(spark, src2, dst2, ["grp"], ["gone"])
    U.drop_column(src2, "gone")
    U.append_rows(spark, src2, spark.createDataFrame(
        [(2, "b", 20)], "k int, grp string, val long"
    ))
    with pytest.raises(ValueError, match="consumed by this fold"):
        refresh_aggregate(spark, src2, dst2, ["grp"], ["gone"])


def test_watermark_lookup_reads_manifests_not_listings(
    spark, tmp_path, monkeypatch
):
    """The _SRC_ watermark walk answers from the manifest's ``markers``
    index — zero directory listings on the hot path (a view refreshed
    rarely against a busy table used to pay one ls per walked version)."""
    from spookystuff_spark import fsio
    from spookystuff_spark.sources.incremental import newest_marker

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    U.write_table(_rows(spark, [(1, "a", 10)]), src)
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    U.append_rows(spark, src, _rows(spark, [(2, "b", 20)]))
    refresh_aggregate(spark, src, dst, ["grp"], ["val"])
    wm = last_processed_version(dst)
    assert wm is not None

    def no_ls(path):
        raise AssertionError(f"watermark walk listed a directory: {path}")

    monkeypatch.setattr(fsio, "ls", no_ls)
    assert last_processed_version(dst) == wm
    monkeypatch.undo()
    # and maintenance carries the watermark in the manifest: a compact +
    # vacuum of the marker-bearing versions keeps the fold exactly-once
    src2, dst2 = str(tmp_path / "s2"), str(tmp_path / "d2")
    U.write_table(_rows(spark, [(1, "a", 10)]), src2)
    refresh_aggregate(spark, src2, dst2, ["grp"], ["val"])
    U.compact(spark, dst2)
    U.vacuum(dst2, keep=1)
    assert last_processed_version(dst2) is not None  # carried, not lost
    U.append_rows(spark, src2, _rows(spark, [(3, "a", 7)]))
    refresh_aggregate(spark, src2, dst2, ["grp"], ["val"])
    assert _got(spark, dst2) == _expected(spark, src2)


def test_null_group_keys_fold_and_rederive(spark, tmp_path):
    """NULL group keys fold like any other group (the r8 review's
    join-aggregate catch, fixed here too): an equi-join fold never matches
    NULL = NULL, so a NULL-keyed group's retraction would miss its current
    row and silently vanish under the n_rows filter. Covers the sums path
    AND the min/max targeted re-derivation."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    rows = spark.createDataFrame(
        [(1, None, 10), (2, None, 30), (3, "x", 5)],
        "k int, grp string, val long",
    )
    U.write_table(rows, src)
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )

    def got():
        return {
            (r["grp"], r["val_sum"], r["val_min"], r["val_max"], r["n_rows"])
            for r in U.read_table(spark, dst).collect()
        }

    assert got() == {(None, 40, 10, 30, 2), ("x", 5, 5, 5, 1)}
    # delete the NULL group's max: sums fold, min/max re-derive for NULL
    U.delete_where_dv(spark, src, "k = 2", ["k"])
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    assert got() == {(None, 10, 10, 10, 1), ("x", 5, 5, 5, 1)}
    # and the NULL group vanishes at zero count
    U.delete_where_dv(spark, src, "k = 1", ["k"])
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"], min_cols=["val"], max_cols=["val"]
    )
    assert got() == {("x", 5, 5, 5, 1)}


def test_null_group_rescan_with_partitioned_source(spark, tmp_path):
    """The partitioned fast path cannot enumerate a NULL group (no
    ``__part=`` segment exists for NULL) — a NULL-keyed affected group
    must route the min/max rescan through the null-safe scan instead of
    silently rescanning zero files."""
    from spookystuff_spark.sources.partitioned_table import (
        write_table_partitioned,
    )

    src, dst = str(tmp_path / "psrc"), str(tmp_path / "pdst")
    rows = spark.createDataFrame(
        [(1, None, 10), (2, None, 30), (3, "x", 5)],
        "k int, grp string, val long",
    )
    write_table_partitioned(rows, src, "grp")
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"], src_partition_col="grp",
    )
    U.delete_where_dv(spark, src, "k = 2", ["k"])
    refresh_aggregate(
        spark, src, dst, ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"], src_partition_col="grp",
    )
    got = {
        (r["grp"], r["val_sum"], r["val_min"], r["val_max"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    assert got == {(None, 10, 10, 10, 1), ("x", 5, 5, 5, 1)}
