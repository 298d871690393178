"""Per-file bloom index (sources/bloom_index.py): point lookups skip
definitely-absent files on an UNCLUSTERED column (where min/max stats
can't), never lose rows, resolve chain-wise across commits, degrade
conservatively without a sidecar, and compose with deletion vectors."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F
from spookystuff_spark.sources import upsert as U
from spookystuff_spark.sources.bloom_index import (
    attach_blooms,
    entry_blooms,
    read_table_point,
)


def _rows(spark, lo, hi, slices=None):
    # user_id deliberately NOT clustered: interleaved ranges per commit
    rows = [(i, i % 1000, f"u{i}") for i in range(lo, hi)]
    if slices is not None:  # one slice = one partition, no coalesce pass
        rows = spark.sparkContext.parallelize(rows, slices)
    return spark.createDataFrame(rows, "k long, user_id long, name string")


@pytest.fixture
def seeded(spark, tmp_path):
    """Two commits, blooms attached at each — chain resolution is live."""
    tdir = str(tmp_path / "btbl")
    U.write_table(_rows(spark, 0, 500).repartition(4), tdir)
    attach_blooms(spark, tdir, ["user_id", "name"])
    U.append_rows(spark, tdir, _rows(spark, 5000, 5200).repartition(2))
    attach_blooms(spark, tdir, ["user_id", "name"])
    return tdir


def test_point_lookup_correct_and_prunes(spark, seeded):
    tdir = seeded
    # "u5100" exists only in the second commit's 2 files
    df, info = read_table_point(spark, tdir, "name", "u5100")
    assert [r["k"] for r in df.collect()] == [5100]
    assert info["skipped_bloom"] >= 4  # all first-commit files pruned
    assert info["scanned"] + info["skipped_bloom"] == 6
    # absent value: zero rows; (almost surely) everything pruned
    df2, info2 = read_table_point(spark, tdir, "name", "nosuchuser")
    assert df2.count() == 0
    assert info2["skipped_bloom"] >= 5


def test_never_loses_rows_exhaustive(spark, seeded):
    """Bloom pruning is sound: every present key found, across both
    commits and a numeric column with repeats."""
    tdir = seeded
    for key in (17, 42, 199, 499):
        df, _ = read_table_point(spark, tdir, "user_id", key)
        got = {r["k"] for r in df.collect()}
        full = {
            r["k"]
            for r in U.read_table(spark, tdir)
            .where(F.col("user_id") == key)
            .collect()
        }
        assert got == full and got


def test_chain_resolution_and_missing_sidecar(spark, seeded):
    tdir = seeded
    cur = U.committed_versions(tdir)[-1]
    eb = entry_blooms(tdir, cur)
    owners = {e.split("/", 1)[0] for e, b in eb.items() if b}
    assert len(owners) == 2  # blooms resolved from BOTH commits' manifests
    # nuke one sidecar: its file scans conservatively, answers stay right
    from spookystuff_spark import fsio

    victim = next(iter(eb.values()))["name"]["path"]
    fsio.delete_file(fsio.join(tdir, victim))
    df, info = read_table_point(spark, tdir, "name", "u42")
    assert [r["k"] for r in df.collect()] == [42]


def test_composes_with_deletion_vectors(spark, seeded):
    tdir = seeded
    U.delete_where_dv(spark, tdir, "k = 5100", ["k"])
    df, _ = read_table_point(spark, tdir, "name", "u5100")
    assert df.count() == 0  # bloom says maybe-present, DV hides the row


def test_unattached_table_scans_everything(spark, tmp_path):
    tdir = str(tmp_path / "plain")
    U.write_table(_rows(spark, 0, 100).repartition(3), tdir)
    df, info = read_table_point(spark, tdir, "name", "u7")
    assert [r["k"] for r in df.collect()] == [7]
    assert info["skipped_bloom"] == 0 and info["scanned"] == 3


def test_incremental_bloom_maintenance_after_append(spark, tmp_path):
    """attach_blooms after each append profiles only that commit's own
    files; chain resolution serves the whole table — the per-batch
    maintenance recipe for an append-heavy table."""
    tdir = str(tmp_path / "inc")
    U.write_table(_rows(spark, 0, 200).repartition(2), tdir)
    attach_blooms(spark, tdir, ["name"])
    U.append_rows(spark, tdir, _rows(spark, 9000, 9100).repartition(2))
    attach_blooms(spark, tdir, ["name"])  # O(new files) only
    from spookystuff_spark.sources.bloom_index import entry_blooms

    eb = entry_blooms(tdir, U.committed_versions(tdir)[-1])
    assert all(b.get("name") for b in eb.values())  # every file covered
    df, info = read_table_point(spark, tdir, "name", "u9050")
    assert [r["k"] for r in df.collect()] == [9050]
    assert info["skipped_bloom"] >= 2  # both first-commit files pruned


def test_no_bitsets_reach_the_driver(spark, tmp_path, monkeypatch):
    """The build collects only spec rows (file, m, k, sidecar name) — the
    bitsets are written executor-side inside the applyInPandas body. Spy
    on DataFrame.collect during the attach: no collected row may carry a
    binary payload, and total collected bytes stay O(files × ~100 B)."""
    try:  # Spark 4: classic instances subclass the pyspark.sql facade
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover — Spark 3 layout
        from pyspark.sql import DataFrame

    tdir = str(tmp_path / "spy")
    U.write_table(_rows(spark, 0, 2000).repartition(4), tdir,
                  change_feed=False)
    collected = []
    orig = DataFrame.collect

    def spying_collect(self):
        rows = orig(self)
        collected.extend(rows)
        return rows

    monkeypatch.setattr(DataFrame, "collect", spying_collect)
    attach_blooms(spark, tdir, ["user_id", "name"])
    monkeypatch.undo()
    assert collected  # the spec collect did happen
    for r in collected:
        for v in r.asDict().values():
            assert not isinstance(v, (bytes, bytearray)), (
                "a bloom bitset reached the driver"
            )
    # spec rows are tiny: 8 files x 2 cols, well under 1 KiB total
    assert sum(len(str(r)) for r in collected) < 8192
    # and the sidecars exist + prune correctly
    df, info = read_table_point(spark, tdir, "name", "u1999")
    assert [r["k"] for r in df.collect()] == [1999]
    assert info["skipped_bloom"] >= 1


def test_write_time_auto_attach(spark, tmp_path):
    """bloom_cols= on the writers: fresh commits are point-lookup-prunable
    with NO manual attach_blooms pass — the specs ride the same atomic
    manifest commit."""
    tdir = str(tmp_path / "auto")
    U.write_table(_rows(spark, 0, 300).repartition(3), tdir,
                  bloom_cols=["name"])
    df, info = read_table_point(spark, tdir, "name", "u250")
    assert [r["k"] for r in df.collect()] == [250]
    assert info["skipped_bloom"] >= 1
    # append with auto-attach: the new files are covered immediately
    U.append_rows(spark, tdir, _rows(spark, 7000, 7100).repartition(2),
                  bloom_cols=["name"])
    eb = entry_blooms(tdir, U.committed_versions(tdir)[-1])
    assert all(b.get("name") for b in eb.values())
    df2, info2 = read_table_point(spark, tdir, "name", "u7050")
    assert [r["k"] for r in df2.collect()] == [7050]
    assert info2["skipped_bloom"] >= 3  # the three first-commit files


def test_write_time_auto_attach_partitioned(spark, tmp_path):
    """bloom_cols= composes with the partitioned writers (entries nest
    under __part= dirs) and with the O(batch) delta-manifest appends."""
    from spookystuff_spark.sources.partitioned_table import (
        append_partitioned,
        write_table_partitioned,
    )

    tdir = str(tmp_path / "pauto")
    df0 = spark.createDataFrame(
        [(i, i % 3, f"u{i}") for i in range(100)],
        "k long, b int, name string",
    )
    write_table_partitioned(df0, tdir, "b", bloom_cols=["name"])
    append_partitioned(
        spark, tdir,
        spark.createDataFrame([(900, 1, "u900")],
                              "k long, b int, name string"),
        "b", bloom_cols=["name"],
    )
    eb = entry_blooms(tdir, U.committed_versions(tdir)[-1])
    assert all(b.get("name") for b in eb.values())
    df, info = read_table_point(spark, tdir, "name", "u900")
    assert [r["k"] for r in df.collect()] == [900]
    assert info["skipped_bloom"] >= 2


def test_probe_hashes_at_table_column_type(spark, tmp_path):
    """The r6-ADVICE false-negative bug: an int probe against a DOUBLE
    column must hash the table's repr ("5.0"), not the literal's ("5") —
    a mismatch makes every bloom answer definitely-absent and silently
    EMPTIES the result. The probe now casts to the snapshot schema's
    column type before hashing."""
    tdir = str(tmp_path / "typed")
    df = spark.createDataFrame(
        [(i, float(i), f"u{i}") for i in range(200)],
        "k long, amount double, name string",
    )
    U.write_table(df.repartition(3), tdir)
    attach_blooms(spark, tdir, ["amount"])
    # int probe against the double column: must FIND the row
    got, info = read_table_point(spark, tdir, "amount", 5)
    assert [r["k"] for r in got.collect()] == [5]
    # and pruning still works for absent values
    got2, info2 = read_table_point(spark, tdir, "amount", 99999)
    assert got2.count() == 0
    assert info2["skipped_bloom"] == 3


def test_many_file_probe_runs_on_executors(spark, tmp_path, monkeypatch):
    """Above PROBE_DRIVER_MAX bloom-bearing candidates the probe ships to
    executors: no sidecar bytes may be read ON THE DRIVER (at 1M files the
    driver path is 1M serial small-object GETs), and the pruning counts
    and result rows must match the driver fast path exactly."""
    from spookystuff_spark import fsio
    from spookystuff_spark.sources import bloom_index as B

    tdir = str(tmp_path / "dist")
    U.write_table(_rows(spark, 0, 600).repartition(30), tdir,
                  bloom_cols=["name"], change_feed=False)
    # reference run: driver path (limit above the file count)
    df_ref, info_ref = read_table_point(
        spark, tdir, "name", "u123", driver_max=1000
    )
    ref_rows = [r["k"] for r in df_ref.collect()]
    assert ref_rows == [123] and info_ref["skipped_bloom"] >= 25
    # distributed run: forbid driver-side sidecar reads entirely
    orig = fsio.read_bytes

    def no_sidecar_reads(path):
        assert "_bloom" not in path, (
            f"driver read a bloom sidecar on the distributed path: {path}"
        )
        return orig(path)

    monkeypatch.setattr(fsio, "read_bytes", no_sidecar_reads)
    monkeypatch.setattr(B, "_maybe_contains", None)  # driver path = crash
    df, info = read_table_point(spark, tdir, "name", "u123", driver_max=0)
    assert [r["k"] for r in df.collect()] == ref_rows
    assert info == info_ref  # identical pruning, file for file
    # absent key: distributed path prunes everything too
    df2, info2 = read_table_point(
        spark, tdir, "name", "nosuchuser", driver_max=0
    )
    assert df2.count() == 0
    assert info2["skipped_bloom"] >= 28


def test_sidecar_names_unique_across_partition_dirs_and_columns(
    spark, tmp_path
):
    """Two collision modes the hash-named sidecars must prevent: (a) a
    single-task partitioned write reuses the same part-file BASENAME in
    every __part= dir — basename-derived sidecar names would overwrite
    each other while both manifest specs still point at the survivor;
    (b) attach calls with different column lists reuse positional indexes.
    Either way a probe reads the wrong bits and can answer
    definitely-absent for a present value (false negatives)."""
    from spookystuff_spark.sources.partitioned_table import (
        write_table_partitioned,
    )

    tdir = str(tmp_path / "collide")
    df = spark.createDataFrame(
        [(i, i % 3, f"u{i}") for i in range(300)],
        "k long, b int, name string",
    ).coalesce(1)  # ONE task → identical basenames across __part dirs
    write_table_partitioned(df, tdir, "b", bloom_cols=["name"],
                            change_feed=False)
    eb = entry_blooms(tdir, U.committed_versions(tdir)[-1])
    paths = [b["name"]["path"] for b in eb.values() if b.get("name")]
    assert len(paths) == len(set(paths)) == 3  # one DISTINCT sidecar each
    # soundness: every present value found regardless of partition
    for k in (0, 1, 2, 299):
        got, _ = read_table_point(spark, tdir, "name", f"u{k}")
        assert [r["k"] for r in got.collect()] == [k]
    # (b) second attach with a different column list must not clobber
    attach_blooms(spark, tdir, ["k"])
    for k in (0, 1, 2, 299):
        got, _ = read_table_point(spark, tdir, "name", f"u{k}")
        assert [r["k"] for r in got.collect()] == [k]
        got2, _ = read_table_point(spark, tdir, "k", k)
        assert [r["name"] for r in got2.collect()] == [f"u{k}"]


def test_bloom_pruning_survives_vacuum_of_owner_versions(spark, tmp_path):
    """Checkpoint-consolidated bloom SPECS survive vacuum — and so must
    the SIDECARS they point at (vacuum keeps them alongside referenced
    data), or every later probe pays one failed read per file and never
    prunes again."""
    tdir = str(tmp_path / "vsurv")
    U.write_table(_rows(spark, 0, 40, slices=1), tdir,
                  bloom_cols=["name"], change_feed=False)
    for i in range(U.CHECKPOINT_EVERY + 3):
        U.append_rows(
            spark, tdir,
            _rows(spark, 1000 * (i + 1), 1000 * (i + 1) + 20, slices=1),
            bloom_cols=["name"], change_feed=False,
        )
    U.vacuum(tdir, keep=1)
    # present key still found; absent key prunes nearly everything
    df, info = read_table_point(spark, tdir, "name", "u5010")
    assert [r["k"] for r in df.collect()] == [5010]
    assert info["skipped_bloom"] >= U.CHECKPOINT_EVERY, (
        "bloom sidecars died with the vacuumed owner versions"
    )


def test_nullable_column_builds_and_null_probe_refuses(spark, tmp_path):
    """A NULL in the indexed column contributes no bits (crc32(NULL) is
    NULL — it used to crash the fold's int64 conversion and fail the
    whole commit); non-NULL probes still prune and never lose rows, an
    all-NULL file simply keeps no spec, and a NULL probe value refuses
    loudly (col == NULL matches nothing)."""
    tdir = str(tmp_path / "nulltbl")
    rows = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)],
        "k long, name string",
    )
    all_null = spark.createDataFrame(
        [(10, None), (11, None)], "k long, name string"
    )
    U.write_table(rows.repartition(2), tdir)
    U.append_rows(spark, tdir, all_null.coalesce(1))
    attach_blooms(spark, tdir, ["name"])  # used to crash here
    got, stats = read_table_point(spark, tdir, "name", "c")
    assert [tuple(r) for r in got.collect()] == [(3, "c")]
    # IS NULL rows still readable through the ordinary scan
    assert U.read_table(spark, tdir).where(
        F.col("name").isNull()
    ).count() == 4
    with pytest.raises(ValueError, match="NULL"):
        read_table_point(spark, tdir, "name", None)
