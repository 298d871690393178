"""Incremental JOIN view (sources/join_view.py): the counted delta-join
identity (Z-set IVM) produces exactly the full-join multiset after any
interleaving of appends, UPDATES and DELETES on either side; the snapshot
probes are partition-pruned when the source is laid out by the join key
(with a bounded driver pull — backfill-sized deltas fall back to the
one-pass semi-join scan); refreshes are exactly-once under replay; and
consolidation folds the signed append log without losing the watermark."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest

from spookystuff_spark.sources import upsert as U
from spookystuff_spark.sources.join_view import (
    consolidate_join_view,
    read_join_view,
    refresh_join_view,
)
from spookystuff_spark.sources.partitioned_table import (
    append_partitioned,
    write_table_partitioned,
)


def _dim(spark, rows):  # (k, dname)
    return spark.createDataFrame(rows, "k int, dname string")


def _fact(spark, rows):  # (k, fid, amt)
    return spark.createDataFrame(rows, "k int, fid int, amt long")


def _full_join_counter(spark, a_dir, b_dir, on=("k",)):
    return Counter(
        tuple(r)
        for r in U.read_table(spark, a_dir)
        .join(U.read_table(spark, b_dir), list(on), "inner")
        .select("k", "dname", "fid", "amt")
        .collect()
    )


def _view_counter(spark, dst):
    c: Counter = Counter()
    for r in read_join_view(spark, dst).collect():
        assert r["_n"] > 0  # consolidated content never exposes negatives
        c[(r["k"], r["dname"], r["fid"], r["amt"])] += r["_n"]
    return c


def test_seed_then_interleaved_appends_match_full_join(spark, tmp_path):
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one"), (2, "two")]), a)
    U.write_table(_fact(spark, [(1, 10, 100), (2, 20, 200), (3, 30, 300)]), b)
    assert refresh_join_view(spark, a, b, dst, ["k"])  # seed
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)

    # append to A only: new dim rows join EXISTING facts
    U.append_rows(spark, a, _dim(spark, [(3, "three")]))
    assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)

    # append to B only
    U.append_rows(spark, b, _fact(spark, [(1, 11, 110), (9, 99, 990)]))
    assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)

    # append to BOTH before one refresh: the ΔA⋈ΔB pairs count ONCE
    U.append_rows(spark, a, _dim(spark, [(9, "nine")]))
    U.append_rows(spark, b, _fact(spark, [(9, 91, 910), (3, 31, 310)]))
    assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)

    # nothing new: no-op, no new commit
    n = len(U.committed_versions(dst))
    assert refresh_join_view(spark, a, b, dst, ["k"]) is None
    assert len(U.committed_versions(dst)) == n


def test_replayed_refresh_is_exactly_once(spark, tmp_path):
    """Calling refresh twice after one append produces no duplicates: the
    dual watermark rides the view's commit."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one")]), a)
    U.write_table(_fact(spark, [(1, 10, 100)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    U.append_rows(spark, b, _fact(spark, [(1, 11, 110)]))
    refresh_join_view(spark, a, b, dst, ["k"])
    before = _view_counter(spark, dst)
    assert refresh_join_view(spark, a, b, dst, ["k"]) is None  # replay
    assert _view_counter(spark, dst) == before
    assert sum(before.values()) == 2  # no duplicate pairs


def test_delete_on_dim_side_retracts_pairs(spark, tmp_path):
    """A DV delete on the dim side folds as −1 rows: every pair of the
    deleted keys cancels out of the view — no rebuild, no refusal."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one"), (2, "two"), (3, "three")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (2, 20, 200), (2, 21, 210), (3, 30, 300)]),
        b,
    )
    refresh_join_view(spark, a, b, dst, ["k"])
    U.delete_where_dv(spark, a, "k = 2", ["k"])
    assert refresh_join_view(spark, a, b, dst, ["k"])
    got = _view_counter(spark, dst)
    assert got == _full_join_counter(spark, a, b)
    assert not any(k == 2 for (k, *_rest) in got)


def test_update_with_preimages_replaces_pairs(spark, tmp_path):
    """An upsert with preimage logging retracts the old pairs and inserts
    the new ones — including a key change, where the row's pairs move to
    the new key's facts."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one"), (2, "two")]), a)
    U.write_table(_fact(spark, [(1, 10, 100), (2, 20, 200)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    # value update: dname changes, same key
    U.upsert(
        spark, a, _dim(spark, [(1, "ONE")]), ["k"], feed_preimages=True
    )
    assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)
    assert (1, "ONE", 10, 100) in _view_counter(spark, dst)


def test_update_without_preimages_refuses(spark, tmp_path):
    """The honesty contract survives the retraction upgrade: an upsert
    feed WITHOUT preimage rows cannot retract the old pairs — refuse,
    never drift."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one")]), a)
    U.write_table(_fact(spark, [(1, 10, 100)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    U.upsert(spark, a, _dim(spark, [(1, "ONE")]), ["k"])  # no preimages
    with pytest.raises(ValueError, match="preimage"):
        refresh_join_view(spark, a, b, dst, ["k"])


def test_partitioned_source_probe_is_partition_pruned(spark, tmp_path):
    """When the fact side is laid out by the join key, a dim-side append
    probes ONLY the touched partitions — spy on read_table_partitions."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(i, f"d{i}") for i in range(6)]), a)
    write_table_partitioned(
        _fact(spark, [(i % 6, i, i * 10) for i in range(60)]), b, "k"
    )
    refresh_join_view(spark, a, b, dst, ["k"])

    probed = {}
    from spookystuff_spark.sources import partitioned_table as PT

    orig = PT.read_table_partitions

    def spy(spark_, table_dir_, vals, version=None):
        probed.setdefault(table_dir_, []).append(sorted(map(str, vals)))
        return orig(spark_, table_dir_, vals, version)

    import unittest.mock as mock

    with mock.patch.object(PT, "read_table_partitions", side_effect=spy):
        U.append_rows(spark, a, _dim(spark, [(2, "TWO!")]))
        refresh_join_view(spark, a, b, dst, ["k"])
    assert probed[b] == [["2"]]  # only partition k=2 of the fact table
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)


def test_backfill_delta_skips_the_driver_collect(spark, tmp_path):
    """Above PROBE_KEYS_MAX distinct delta keys the partition probe falls
    back to the broadcast-semi-join scan — one pass, NOTHING collected to
    the driver beyond the capped limit; read_table_partitions must never
    run, and the result stays exact."""
    import unittest.mock as mock

    import spookystuff_spark.sources.join_view as JV
    from spookystuff_spark.sources import partitioned_table as PT

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(i, f"d{i}") for i in range(8)]), a)
    write_table_partitioned(
        _fact(spark, [(i % 8, i, i * 10) for i in range(40)]), b, "k"
    )
    refresh_join_view(spark, a, b, dst, ["k"])
    # backfill-sized dim append: 6 distinct keys > capped max of 2
    U.append_rows(spark, a, _dim(spark, [(i, f"D{i}") for i in range(6)]))
    with mock.patch.object(JV, "PROBE_KEYS_MAX", 2), mock.patch.object(
        PT,
        "read_table_partitions",
        side_effect=AssertionError("partition probe ran above the cap"),
    ):
        assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)


def test_append_partitioned_sources_compose(spark, tmp_path):
    """Both sources partitioned by the key, maintained with the O(batch)
    partitioned append — the 100-TB shape end to end."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    write_table_partitioned(_dim(spark, [(1, "one"), (2, "two")]), a, "k")
    write_table_partitioned(_fact(spark, [(1, 10, 100), (2, 20, 200)]), b, "k")
    refresh_join_view(spark, a, b, dst, ["k"])
    append_partitioned(spark, a, _dim(spark, [(3, "three")]), "k")
    append_partitioned(
        spark, b, _fact(spark, [(3, 30, 300), (2, 21, 210)]), "k"
    )
    refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)
    # the view's own commits are O(batch) delta manifests
    tip = U._latest(dst)
    assert "files" not in U._read_manifest_raw(dst, tip)


def test_consolidation_folds_log_and_keeps_watermark(spark, tmp_path):
    """consolidate_join_view materializes the net content (retraction rows
    fold away) and re-stamps the watermark, so maintenance + vacuum never
    wedges the view and later refreshes keep folding deltas only."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one"), (2, "two")]), a)
    U.write_table(_fact(spark, [(1, 10, 100), (2, 20, 200)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    U.delete_where_dv(spark, a, "k = 1", ["k"])
    refresh_join_view(spark, a, b, dst, ["k"])
    before = _view_counter(spark, dst)
    assert consolidate_join_view(spark, dst)
    U.vacuum(dst, keep=1)
    # the physical log IS the net content now (no signed pairs left)
    assert U.read_table(spark, dst).where(F.col("_n") <= 0).count() == 0
    assert _view_counter(spark, dst) == before
    # and the re-stamped watermark still folds the next delta
    U.append_rows(spark, b, _fact(spark, [(2, 21, 210)]))
    assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)


def test_non_key_column_clash_refuses(spark, tmp_path):
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "x")]), a)
    U.write_table(
        spark.createDataFrame([(1, "y")], "k int, dname string"), b
    )
    with pytest.raises(ValueError, match="both sides"):
        refresh_join_view(spark, a, b, dst, ["k"])


def test_streaming_sink_keeps_view_fresh(spark, tmp_path):
    """foreachBatch wrapper: the CDC stream triggers refreshes; the
    watermark (not the checkpoint) stays the source of truth."""
    from spookystuff_spark.sources.join_view import streaming_join_view_sink
    from spookystuff_spark.sources.versioned_source import register

    register(spark)
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one")]), a)
    U.write_table(_fact(spark, [(1, 10, 100)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    U.append_rows(spark, b, _fact(spark, [(1, 11, 110)]))
    stream = (
        spark.readStream.format("spooky_versioned")
        .option("path", b)
        .option("changeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_join_view_sink(a, b, dst, ["k"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)


def test_vacuumed_watermark_refuses_instead_of_reseeding(spark, tmp_path):
    """A view whose watermark GENUINELY vanished must NOT let the next
    refresh re-seed the full join onto the existing content (silent
    whole-view duplication) — it refuses with a rebuild hint. Ordinary
    maintenance no longer gets there: compact CARRIES the marker index in
    its manifest (content-preserving extras), so compact + vacuum keeps
    the watermark alive and the fold just continues."""
    import json

    from spookystuff_spark import fsio

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(_dim(spark, [(1, "one")]), a)
    U.write_table(_fact(spark, [(1, 10, 100)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    # aggressive maintenance: compact + vacuum — the carried marker index
    # keeps the watermark, and the next refresh folds normally
    U.compact(spark, dst, num_files=1)
    U.vacuum(dst, keep=1)
    U.append_rows(spark, b, _fact(spark, [(1, 11, 110)]))
    assert refresh_join_view(spark, a, b, dst, ["k"])
    assert _view_counter(spark, dst) == _full_join_counter(spark, a, b)
    # GENUINE loss (external damage): strip the marker index from every
    # committed manifest — the refresh must refuse
    for v in U.committed_versions(dst):
        raw = U._read_manifest_raw(dst, v)
        raw["markers"] = []
        fsio.write_bytes(
            fsio.join(dst, v, U._MANIFEST),
            json.dumps(raw, separators=(",", ":")).encode(),
        )
    before = U.read_table(spark, dst).count()
    U.append_rows(spark, b, _fact(spark, [(1, 12, 120)]))
    with pytest.raises(ValueError, match="no _SRCJ watermark"):
        refresh_join_view(spark, a, b, dst, ["k"])
    # the view content was never doubled
    assert U.read_table(spark, dst).count() == before


def test_subset_schema_feed_null_fills_instead_of_wedging(spark, tmp_path):
    """A legal subset-schema append (additive evolution: the feed lacks a
    later-evolved column) must fold with typed null-fill — a crash here
    would wedge the view forever, since feeds are immutable and the
    watermark only advances on success."""
    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "v"))
    U.write_table(
        spark.createDataFrame([(1, "one", 5)], "k int, dname string, extra int"),
        a,
    )
    U.write_table(_fact(spark, [(1, 10, 100)]), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    # subset-schema append: no 'extra' column in the batch
    U.append_rows(spark, a, spark.createDataFrame(
        [(2, "two")], "k int, dname string"
    ))
    U.append_rows(spark, b, _fact(spark, [(2, 20, 200)]))
    assert refresh_join_view(spark, a, b, dst, ["k"])
    got = {
        (r["k"], r["dname"], r["extra"], r["fid"])
        for r in read_join_view(spark, dst).collect()
    }
    assert got == {(1, "one", 5, 10), (2, "two", None, 20)}


def test_randomized_interleavings_match_model(spark, tmp_path):
    """Property test: a seeded random schedule of appends, DELETES and
    preimage-logged UPDATES (A-side, B-side, or both; duplicate keys;
    empty batches; refreshes at random points; one backfill-sized batch
    exercising the capped-collect fallback) always leaves the view equal
    to a pure-Python full-join recompute — the counted delta-join algebra
    has no schedule-dependent edge case."""
    import random
    import unittest.mock as mock

    import spookystuff_spark.sources.join_view as JV

    rng = random.Random(20260815)
    a, b, dst = (str(tmp_path / n) for n in ("ra", "rb", "rv"))
    a_rows = [(rng.randrange(8), f"d{i}") for i in range(4)]
    b_rows = [(rng.randrange(8), i, i * 10) for i in range(4)]
    U.write_table(_dim(spark, a_rows), a)
    U.write_table(_fact(spark, b_rows), b)
    refresh_join_view(spark, a, b, dst, ["k"])
    next_id = 100
    with mock.patch.object(JV, "PROBE_KEYS_MAX", 4):
        for step in range(14):
            action = rng.choice(
                ["a", "b", "ab", "del_a", "del_b", "refresh", "refresh"]
            )
            if action in ("a", "ab"):
                batch = [
                    (rng.randrange(8), f"d{next_id + j}")
                    for j in range(rng.randrange(0, 3))
                ]
                next_id += 3
                if batch:
                    a_rows += batch
                    U.append_rows(spark, a, _dim(spark, batch))
            if action in ("b", "ab"):
                batch = [
                    (rng.randrange(8), next_id + j, (next_id + j) * 10)
                    for j in range(rng.randrange(0, 3))
                ]
                next_id += 3
                if batch:
                    b_rows += batch
                    U.append_rows(spark, b, _fact(spark, batch))
            if action == "del_a" and len(a_rows) > 1:
                kk = rng.choice(a_rows)[0]
                U.delete_where_dv(spark, a, f"k = {kk}", ["k", "dname"])
                a_rows = [r for r in a_rows if r[0] != kk]
            if action == "del_b" and len(b_rows) > 1:
                fid = rng.choice(b_rows)[1]
                U.delete_where_dv(spark, b, f"fid = {fid}", ["k", "fid"])
                b_rows = [r for r in b_rows if r[1] != fid]
            if step == 7:
                # backfill-sized batch: 6 distinct keys > the patched cap
                batch = [(j, f"bulk{j}") for j in range(6)]
                a_rows += batch
                U.append_rows(spark, a, _dim(spark, batch))
            if action == "refresh" or rng.random() < 0.3:
                refresh_join_view(spark, a, b, dst, ["k"])
        refresh_join_view(spark, a, b, dst, ["k"])
    # pure-Python model: multiset full join
    model = Counter(
        (ka, dn, fid, amt)
        for ka, dn in a_rows
        for kb, fid, amt in b_rows
        if ka == kb
    )
    got = Counter()
    for r in read_join_view(spark, dst).collect():
        got[(r["k"], r["dname"], r["fid"], r["amt"])] += r["_n"]
    assert got == model


def test_join_aggregate_tracks_recompute(spark, tmp_path):
    """The COMPOSED view γ(A⋈B): per-group sums/counts maintained from
    the counted join delta alone — appends, deletes and preimage-logged
    updates on either side all fold to exactly the full-join recompute,
    with neither source rescanned and no join view materialized."""
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "x"), (2, "y"), (3, "x")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (2, 20, 200), (3, 30, 300), (1, 11, 110)]),
        b,
    )

    def got():
        return {
            (r["dname"], r["amt_sum"], r["n_rows"])
            for r in U.read_table(spark, dst).collect()
        }

    def expected():
        return {
            (r["dname"], r["amt_sum"], r["n_rows"])
            for r in U.read_table(spark, a)
            .join(U.read_table(spark, b), ["k"], "inner")
            .groupBy("dname")
            .agg(F.sum("amt").alias("amt_sum"), F.count("*").alias("n_rows"))
            .collect()
        }

    assert refresh_join_aggregate(
        spark, a, b, dst, ["k"], ["dname"], ["amt"]
    )  # seed
    assert got() == expected()
    # appends on both sides in one fold
    U.append_rows(spark, a, _dim(spark, [(4, "y")]))
    U.append_rows(spark, b, _fact(spark, [(4, 40, 400), (2, 21, 210)]))
    assert refresh_join_aggregate(
        spark, a, b, dst, ["k"], ["dname"], ["amt"]
    )
    assert got() == expected()
    # delete on the fact side: the group sums shrink exactly
    U.delete_where_dv(spark, b, "fid = 20", ["k", "fid"])
    assert refresh_join_aggregate(
        spark, a, b, dst, ["k"], ["dname"], ["amt"]
    )
    assert got() == expected()
    # preimage-logged update MOVING a dim row between groups
    U.upsert(spark, a, _dim(spark, [(1, "y")]), ["k"], feed_preimages=True)
    assert refresh_join_aggregate(
        spark, a, b, dst, ["k"], ["dname"], ["amt"]
    )
    assert got() == expected()
    # replay: exactly-once, nothing changes
    before = got()
    assert refresh_join_aggregate(
        spark, a, b, dst, ["k"], ["dname"], ["amt"]
    ) is None
    assert got() == before


def test_join_aggregate_group_vanishes_at_zero(spark, tmp_path):
    """Deleting every fact of a group removes its row (n_rows reaches 0),
    exactly like the aggregate IVM's contract."""
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "solo"), (2, "keep")]), a)
    U.write_table(_fact(spark, [(1, 10, 100), (2, 20, 200)]), b)
    refresh_join_aggregate(spark, a, b, dst, ["k"], ["dname"], ["amt"])
    U.delete_where_dv(spark, b, "k = 1", ["k", "fid"])
    refresh_join_aggregate(spark, a, b, dst, ["k"], ["dname"], ["amt"])
    rows = {r["dname"] for r in U.read_table(spark, dst).collect()}
    assert rows == {"keep"}


def test_join_aggregate_refuses_unknown_columns(spark, tmp_path):
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "x")]), a)
    U.write_table(_fact(spark, [(1, 10, 100)]), b)
    with pytest.raises(ValueError, match="not in the join's output"):
        refresh_join_aggregate(spark, a, b, dst, ["k"], ["nope"], ["amt"])


def test_join_aggregate_null_group_keys_fold(spark, tmp_path):
    """The r8 review catch: a full-outer equi-join fold never matches
    NULL = NULL, so a NULL-keyed group's retraction would miss its seed
    row and the n_rows > 0 filter would drop the retraction silently —
    permanent drift. The union-then-groupBy fold treats NULL as one group,
    like any SQL aggregate."""
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, None), (2, "x")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (1, 11, 110), (2, 20, 200)]), b
    )
    refresh_join_aggregate(spark, a, b, dst, ["k"], ["dname"], ["amt"])

    def got():
        return {
            (r["dname"], r["amt_sum"], r["n_rows"])
            for r in U.read_table(spark, dst).collect()
        }

    assert got() == {(None, 210, 2), ("x", 200, 1)}
    U.delete_where_dv(spark, b, "fid = 10", ["k", "fid"])
    refresh_join_aggregate(spark, a, b, dst, ["k"], ["dname"], ["amt"])
    assert got() == {(None, 110, 1), ("x", 200, 1)}
    # and the NULL group vanishes at zero count like any other
    U.delete_where_dv(spark, b, "fid = 11", ["k", "fid"])
    refresh_join_aggregate(spark, a, b, dst, ["k"], ["dname"], ["amt"])
    assert got() == {("x", 200, 1)}


def test_join_aggregate_minmax_tracks_recompute(spark, tmp_path):
    """Min/max over the join: insert-side extremes fold from the delta;
    retractions (fact delete, dim delete, group-moving update) trigger the
    targeted re-derivation from the pinned snapshots — every step must
    equal the full recompute, including a delete that removes a group's
    current max."""
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "x"), (2, "y"), (3, "x")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (2, 20, 200), (3, 30, 300), (1, 11, 110)]),
        b,
    )

    def refresh():
        return refresh_join_aggregate(
            spark, a, b, dst, ["k"], ["dname"], ["amt"],
            min_cols=["amt"], max_cols=["amt"],
        )

    def got():
        return {
            (r["dname"], r["amt_sum"], r["amt_min"], r["amt_max"],
             r["n_rows"])
            for r in U.read_table(spark, dst).collect()
        }

    def expected():
        return {
            (r["dname"], r["amt_sum"], r["amt_min"], r["amt_max"],
             r["n_rows"])
            for r in U.read_table(spark, a)
            .join(U.read_table(spark, b), ["k"], "inner")
            .groupBy("dname")
            .agg(
                F.sum("amt").alias("amt_sum"),
                F.min("amt").alias("amt_min"),
                F.max("amt").alias("amt_max"),
                F.count("*").alias("n_rows"),
            )
            .collect()
        }

    assert refresh()  # seed
    assert got() == expected() == {("x", 510, 100, 300, 3), ("y", 200, 200, 200, 1)}
    # insert-side fold: new max for y, new group z
    U.append_rows(spark, a, _dim(spark, [(4, "z")]))
    U.append_rows(spark, b, _fact(spark, [(4, 40, 400), (2, 21, 999)]))
    assert refresh()
    assert got() == expected()
    # fact delete removing group x's MAX (amt=300): targeted re-derivation
    U.delete_where_dv(spark, b, "fid = 30", ["k", "fid"])
    assert refresh()
    assert got() == expected()
    assert ("x", 210, 100, 110, 2) in got()
    # dim delete: every pair of k=2 retracts, group y re-derives
    U.delete_where_dv(spark, a, "k = 2", ["k"])
    assert refresh()
    assert got() == expected()
    # preimage-logged update MOVING a dim row between groups: both the
    # losing and gaining groups re-derive
    U.upsert(spark, a, _dim(spark, [(1, "z")]), ["k"], feed_preimages=True)
    assert refresh()
    assert got() == expected()
    # replay: exactly-once
    before = got()
    assert refresh() is None
    assert got() == before


def test_join_aggregate_minmax_null_groups(spark, tmp_path):
    """NULL group keys re-derive through the null-safe rescan joins."""
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, None), (2, "x")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (1, 11, 110), (2, 20, 200)]), b
    )

    def refresh():
        return refresh_join_aggregate(
            spark, a, b, dst, ["k"], ["dname"], ["amt"],
            min_cols=["amt"], max_cols=["amt"],
        )

    def got():
        return {
            (r["dname"], r["amt_sum"], r["amt_min"], r["amt_max"],
             r["n_rows"])
            for r in U.read_table(spark, dst).collect()
        }

    refresh()
    assert got() == {(None, 210, 100, 110, 2), ("x", 200, 200, 200, 1)}
    # delete the NULL group's max
    U.delete_where_dv(spark, b, "fid = 11", ["k", "fid"])
    refresh()
    assert got() == {(None, 100, 100, 100, 1), ("x", 200, 200, 200, 1)}


def test_join_aggregate_keyed_rewrites_touched_buckets(spark, tmp_path):
    """dst_buckets: the join aggregate lays out by a hash bucket of the
    group key; a delta touching one group commits a manifest DELTA whose
    own files live only in that group's bucket."""
    from spookystuff_spark.sources.join_view import refresh_join_aggregate
    from spookystuff_spark.sources.partitioned_table import _part_of

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    # many groups so buckets spread
    dim = spark.range(64).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("d"), (F.col("id") % 32).cast("string")).alias("dname"),
    )
    fact = spark.range(200).select(
        (F.col("id") % 64).cast("int").alias("k"),
        F.col("id").cast("int").alias("fid"),
        (F.col("id") * 7).cast("long").alias("amt"),
    )
    U.write_table(dim, a)
    U.write_table(fact, b)

    def refresh():
        return refresh_join_aggregate(
            spark, a, b, dst, ["k"], ["dname"], ["amt"], dst_buckets=16
        )

    refresh()  # keyed seed
    seed_m = U.read_manifest(dst, U._latest(dst))
    assert all(_part_of(e) is not None for e in seed_m["files"])
    assert len({_part_of(e) for e in seed_m["files"]}) > 4

    # one fact row for one dim group → exactly one bucket rewritten
    U.append_rows(spark, b, _fact(spark, [(7, 9001, 12345)]))
    v = refresh()
    raw = U._read_manifest_raw(dst, v)
    assert "files_base" in raw
    added = {_part_of(e) for e in raw["files_add"]}
    assert len(added) == 1, f"one-group delta rewrote buckets {added}"
    # and values still exact
    got = {
        (r["dname"], r["amt_sum"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    exp = {
        (r["dname"], r["amt_sum"], r["n_rows"])
        for r in U.read_table(spark, a)
        .join(U.read_table(spark, b), ["k"], "inner")
        .groupBy("dname")
        .agg(F.sum("amt").alias("amt_sum"), F.count("*").alias("n_rows"))
        .collect()
    }
    assert got == exp


def test_join_aggregate_minmax_rescan_is_partition_pruned(
    spark, tmp_path, monkeypatch
):
    """When the fact side is laid out by the join key, the min/max rescan's
    fact read goes through the partition probe with ONLY the affected
    dims' keys — the probe machinery, not a full scan."""
    from spookystuff_spark.sources import partitioned_table as PT
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "x"), (2, "y"), (3, "x")]), a)
    write_table_partitioned(
        _fact(spark, [(1, 10, 100), (2, 20, 200), (3, 30, 300)]), b, "k"
    )

    def refresh():
        return refresh_join_aggregate(
            spark, a, b, dst, ["k"], ["dname"], ["amt"],
            min_cols=["amt"], max_cols=["amt"],
        )

    refresh()
    # delete group y's only dim row: rescan re-derives y (no rows left →
    # group vanishes) — but the probe must only read y's key partitions
    U.delete_where_dv(spark, b, "fid = 20", ["k", "fid"])

    calls = []
    real = PT.read_table_partitions

    def spy(spark_, table_dir, partition_values, version=None):
        calls.append((table_dir, sorted(str(x) for x in partition_values)))
        return real(spark_, table_dir, partition_values, version)

    monkeypatch.setattr(PT, "read_table_partitions", spy)
    refresh()
    fact_probes = [vals for (d, vals) in calls if d == b]
    assert fact_probes and all(vals == ["2"] for vals in fact_probes), calls
    got = {
        (r["dname"], r["amt_min"], r["amt_max"], r["n_rows"])
        for r in U.read_table(spark, dst).collect()
    }
    assert got == {("x", 100, 300, 2)}


def test_join_aggregate_sumsq_through_retractions(spark, tmp_path):
    """``sumsq_cols`` on the composed view: SUM(amt²·_n) folds exactly
    through appends, a fact-side delete and a group-moving update —
    including a batch that ALSO carries min/max (whose rescan passthrough
    must not drop the sumsq column) — and read-time variance derives
    from the exact accumulators."""
    from spookystuff_spark.sources.incremental import with_derived_stats
    from spookystuff_spark.sources.join_view import refresh_join_aggregate

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "x"), (2, "y"), (3, "x")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (2, 20, 200), (3, 30, 300), (1, 11, 110)]),
        b,
    )

    def refresh():
        return refresh_join_aggregate(
            spark, a, b, dst, ["k"], ["dname"], ["amt"],
            min_cols=["amt"], max_cols=["amt"], sumsq_cols=["amt"],
        )

    def got():
        return {
            (r["dname"], r["amt_sum"], int(r["amt_sumsq"]), r["n_rows"],
             r["amt_var"])
            for r in with_derived_stats(
                U.read_table(spark, dst), var_cols=["amt"]
            ).collect()
        }

    def expected():
        j = (
            U.read_table(spark, a)
            .join(U.read_table(spark, b), ["k"], "inner")
            .groupBy("dname")
            .agg(
                F.sum("amt").alias("amt_sum"),
                F.sum(F.col("amt") * F.col("amt")).alias("sq"),
                F.count("*").alias("n_rows"),
            )
        )
        return {
            (
                r["dname"], r["amt_sum"], r["sq"], r["n_rows"],
                r["sq"] / r["n_rows"]
                - (r["amt_sum"] / r["n_rows"]) ** 2,
            )
            for r in j.collect()
        }

    assert refresh()  # seed
    assert got() == expected()
    U.append_rows(spark, a, _dim(spark, [(4, "y")]))
    U.append_rows(spark, b, _fact(spark, [(4, 40, 400), (2, 21, 210)]))
    assert refresh()
    assert got() == expected()
    # fact-side delete: triggers the min/max rescan, sumsq passes through
    U.delete_where_dv(spark, b, "fid = 20", ["k", "fid"])
    assert refresh()
    assert got() == expected()
    U.upsert(spark, a, _dim(spark, [(1, "y")]), ["k"], feed_preimages=True)
    assert refresh()
    assert got() == expected()


def test_join_distinct_tracks_recompute(spark, tmp_path):
    """COUNT(DISTINCT) over A⋈B from the counted join delta alone: the
    support Z-set equals a full-join COUNT(DISTINCT) recompute through
    appends on both sides, a fact-side delete, a group-moving dim update
    and a replay — no rescan, no retraction special case."""
    from spookystuff_spark.sources.incremental import (
        read_distinct_aggregate,
    )
    from spookystuff_spark.sources.join_view import refresh_join_distinct

    a, b, dst = (str(tmp_path / n) for n in ("a", "b", "g"))
    U.write_table(_dim(spark, [(1, "x"), (2, "y"), (3, "x")]), a)
    U.write_table(
        _fact(spark, [(1, 10, 100), (2, 20, 200), (3, 30, 100), (1, 11, 100)]),
        b,
    )

    def refresh():
        return refresh_join_distinct(
            spark, a, b, dst, ["k"], ["dname"], "amt", dst_buckets=4
        )

    def got():
        return {
            (r["dname"], r["amt_distinct"], r["n_rows"])
            for r in read_distinct_aggregate(
                spark, dst, ["dname"], "amt"
            ).collect()
        }

    def expected():
        return {
            (r["dname"], r["d"], r["n"])
            for r in U.read_table(spark, a)
            .join(U.read_table(spark, b), ["k"], "inner")
            .groupBy("dname")
            .agg(
                F.countDistinct("amt").alias("d"),
                F.count("*").alias("n"),
            )
            .collect()
        }

    assert refresh()  # seed
    assert got() == expected() == {("x", 1, 3), ("y", 1, 1)}
    U.append_rows(spark, a, _dim(spark, [(4, "y")]))
    U.append_rows(spark, b, _fact(spark, [(4, 40, 400), (2, 21, 100)]))
    assert refresh()
    assert got() == expected()
    # delete ONE of the two amt=100 carriers in group x: distinct holds
    U.delete_where_dv(spark, b, "fid = 10", ["k", "fid"])
    assert refresh()
    assert got() == expected()
    # keyed commit shape: the fold landed as a manifest delta
    assert "files_base" in U._read_manifest_raw(
        dst, U.committed_versions(dst)[-1]
    )
    # dim update MOVES rows between groups: support counts migrate
    U.upsert(spark, a, _dim(spark, [(1, "y")]), ["k"], feed_preimages=True)
    assert refresh()
    assert got() == expected()
    # replay: exactly-once
    before = got()
    assert refresh() is None
    assert got() == before


def test_streaming_join_sinks_drive_their_refreshes(spark, tmp_path):
    """The foreachBatch wrappers for the join-aggregate and join-distinct
    IVMs call through with the right signatures and land the watermarked
    fold (the batch frame is only the trigger)."""
    from spookystuff_spark.sources.incremental import (
        read_distinct_aggregate,
    )
    from spookystuff_spark.sources.join_view import (
        streaming_join_aggregate_sink,
        streaming_join_distinct_sink,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    g1, g2 = str(tmp_path / "g1"), str(tmp_path / "g2")
    U.write_table(_dim(spark, [(1, "x"), (2, "y")]), a)
    U.write_table(_fact(spark, [(1, 10, 100), (2, 20, 200)]), b)
    trigger = spark.range(1)  # the batch frame is only the trigger
    agg_sink = streaming_join_aggregate_sink(
        a, b, g1, ["k"], ["dname"], ["amt"], dst_buckets=4
    )
    dd_sink = streaming_join_distinct_sink(
        a, b, g2, ["k"], ["dname"], "amt", dst_buckets=4
    )
    agg_sink(trigger, 0)
    dd_sink(trigger, 0)
    U.append_rows(spark, b, _fact(spark, [(1, 11, 100)]))
    agg_sink(trigger, 1)
    dd_sink(trigger, 1)
    got_agg = {
        (r["dname"], r["amt_sum"], r["n_rows"])
        for r in U.read_table(spark, g1).collect()
    }
    assert got_agg == {("x", 200, 2), ("y", 200, 1)}
    got_dd = {
        (r["dname"], r["amt_distinct"], r["n_rows"])
        for r in read_distinct_aggregate(
            spark, g2, ["dname"], "amt"
        ).collect()
    }
    assert got_dd == {("x", 1, 2), ("y", 1, 1)}
