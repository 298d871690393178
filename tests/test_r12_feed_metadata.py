"""r12 optimization guards: feed-kind metadata (the ``_KINDS`` sidecar +
reference feeds) and the fused retraction probe.

The optimization: ``_changes_since`` used to run one ``distinct().collect()``
Spark job PER folded feed version just to validate the feed's ``_change``
kind set — a fixed per-refresh job tax paid by every IVM/index consumer.
Kinds are now writer-authored metadata: reference feeds fill the column
from the ``_KIND`` sidecar (zero rows scanned) and row feeds record their
exact kind set in a ``_KINDS`` sidecar. These tests pin the metadata
contract.
"""

import os

import pyspark.sql.functions as F
import pytest

from spookystuff_spark import fsio
from spookystuff_spark.sources import upsert as U
from spookystuff_spark.sources.incremental import _changes_since


def _df(spark, rows, cols=("k", "v")):
    return spark.createDataFrame(rows, list(cols))


def test_write_table_feed_is_reference(spark, tmp_path):
    """write_table's feed is a metadata reference over the snapshot files
    (no second copy of the data), filled as _change='upsert'."""
    tdir = str(tmp_path / "t")
    U.write_table(_df(spark, [(1, "a"), (2, "b")]), tdir)
    v = U.committed_versions(tdir)[-1]
    files, kind = U.change_files(tdir, v)
    assert kind == "upsert"
    # every feed file IS a snapshot data file — nothing re-written
    own = {os.path.basename(p) for p in files}
    snap = set(U._parquet_names(fsio.join(tdir, v)))
    assert own <= snap and own
    # and no parquet lives under _changes itself
    assert U._parquet_names(fsio.join(tdir, v, U._CHANGES)) == []


def test_upsert_preimage_feed_one_dir_one_schema(spark, tmp_path):
    """upsert(feed_preimages=True) writes post+preimage rows in ONE feed
    write with the _KINDS sidecar recording both kinds."""
    tdir = str(tmp_path / "t")
    U.write_table(_df(spark, [(1, "a"), (2, "b")]), tdir)
    U.upsert(
        spark, tdir, _df(spark, [(2, "B"), (3, "c")]), ["k"],
        feed_preimages=True,
    )
    v = U.committed_versions(tdir)[-1]
    assert U.feed_kinds(tdir, v) == {"upsert", "update_preimage"}
    files, kind = U.change_files(tdir, v)
    assert kind is None  # row feed carries its own _change column
    rows = {
        (r["k"], r["v"], r["_change"])
        for r in spark.read.parquet(*files).collect()
    }
    assert rows == {
        (2, "B", "upsert"),
        (3, "c", "upsert"),
        (2, "b", "update_preimage"),
    }


def test_upsert_without_preimages_still_refuses_incremental_fold(
    spark, tmp_path
):
    """The metadata path preserves the honesty contract: an upsert feed
    without preimages cannot be folded incrementally."""
    tdir = str(tmp_path / "t")
    U.write_table(_df(spark, [(1, "a")]), tdir)
    U.upsert(spark, tdir, _df(spark, [(1, "A")]), ["k"])  # no preimages
    with pytest.raises(ValueError, match="preimage"):
        _changes_since(spark, tdir, "v00001")


def test_refresh_aggregate_minmax_retraction_single_feed_pass(
    spark, tmp_path
):
    """The retraction probe rides the delta aggregation (one feed-DAG
    evaluation); min/max still re-derive exactly for the affected groups."""
    from spookystuff_spark.sources.incremental import refresh_aggregate

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    U.write_table(
        _df(spark, [("g1", 5), ("g1", 9), ("g2", 3)], ("g", "x")), src
    )
    refresh_aggregate(spark, src, dst, ["g"], ["x"], min_cols=["x"],
                      max_cols=["x"])
    # delete g1's current max — the affected group must re-derive
    U.delete_where(spark, src, (F.col("g") == "g1") & (F.col("x") == 9))
    refresh_aggregate(spark, src, dst, ["g"], ["x"], min_cols=["x"],
                      max_cols=["x"])
    out = {r["g"]: r for r in U.read_table(spark, dst).collect()}
    assert out["g1"]["x_max"] == 5 and out["g1"]["x_min"] == 5
    assert out["g1"]["n_rows"] == 1 and out["g2"]["x_max"] == 3
    # the internal _has_neg flag never reaches the derived table
    assert "_has_neg" not in U.read_table(spark, dst).columns
