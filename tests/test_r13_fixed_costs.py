"""r13 fixed-cost optimizations: behavior-preservation tests.

Covers the round's internal changes (guide §1.2 — fixed job/commit costs):
  * driver-side parquet schema resolution (``parquet_schema_of``) must match
    Spark's own inference where it claims to, and bail to None elsewhere;
  * the fused touched-bucket + retraction probe (``_keyed_slice(neg_col=)``)
    must answer exactly what the separate ``limit(1).count()`` probe did;
  * the batched bloom probe (``read_table_points``) must return per-key
    frames and pruning stats identical to per-key ``read_table_point``;
  * ``upsert_partitioned``'s single-job deletion-vector carry (footer
    row-count check) must keep/drop the vector exactly as before.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def test_parquet_schema_of_matches_inference(spark, tmp_path):
    from spookystuff_spark.sources.upsert import parquet_schema_of

    df = spark.range(10).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 2 == 0).alias("b"),
        F.col("id").cast("decimal(19,0)").alias("d"),
    )
    p = str(tmp_path / "t")
    df.write.parquet(p)
    files = [
        os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
    ]
    pinned = parquet_schema_of(files)
    inferred = spark.read.parquet(*files).schema
    assert pinned is not None
    assert {f.name: f.dataType for f in pinned} == {
        f.name: f.dataType for f in inferred.fields
    }
    # mixed footer schemas (additive evolution across a file set): the
    # inference read adopts ONE file's schema, so the helper must not pin
    # a union — it bails and lets Spark decide
    q = str(tmp_path / "wider")
    df.withColumn("extra", F.lit(1)).write.parquet(q)
    wider = [
        os.path.join(q, n) for n in os.listdir(q) if n.endswith(".parquet")
    ]
    assert parquet_schema_of(wider) is not None
    assert parquet_schema_of(files + wider) is None


def test_parquet_schema_of_bails_on_timestamps(spark, tmp_path):
    from spookystuff_spark.sources.upsert import parquet_schema_of

    df = spark.range(3).select(
        F.col("id"), F.current_timestamp().alias("ts")
    )
    p = str(tmp_path / "ts")
    df.write.parquet(p)
    files = [
        os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
    ]
    # TIMESTAMP vs TIMESTAMP_NTZ semantics are reader-config-dependent:
    # the helper must refuse and let Spark's own inference decide
    assert parquet_schema_of(files) is None


def test_keyed_slice_fused_probe_answers_has_neg(spark):
    from spookystuff_spark.sources.incremental import (
        _bucket_expr,
        _keyed_slice,
        refresh_aggregate,
    )
    from spookystuff_spark.sources.upsert import write_table

    src = tempfile.mkdtemp(prefix="r13-fuse-src-")
    dst = tempfile.mkdtemp(prefix="r13-fuse-dst-")
    base = spark.createDataFrame(
        [(i, "g%d" % (i % 3), i * 10) for i in range(30)],
        "id long, g string, v long",
    )
    write_table(base, src)
    refresh_aggregate(spark, src, dst, ["g"], ["v"], dst_buckets=4)

    delta = spark.createDataFrame(
        [("g0", 5, False), ("g1", -3, True)],
        "g string, v_sum long, _has_neg boolean",
    )
    cur, touched, _cv, _rel, has_neg = _keyed_slice(
        spark, dst, delta, ["g"], 4, True, neg_col="_has_neg"
    )
    assert has_neg is True
    expected = {
        r[0]
        for r in delta.select(
            _bucket_expr(["g"], 4).cast("string")
        ).distinct().collect()
    }
    assert set(touched) == expected

    delta_pos = spark.createDataFrame(
        [("g0", 5, False)], "g string, v_sum long, _has_neg boolean"
    )
    *_rest, has_neg2 = _keyed_slice(
        spark, dst, delta_pos, ["g"], 4, True, neg_col="_has_neg"
    )
    assert has_neg2 is False
    # without neg_col the probe is not fused — caller must probe itself
    *_rest, has_neg3 = _keyed_slice(spark, dst, delta_pos, ["g"], 4, True)
    assert has_neg3 is None


def test_read_table_points_matches_per_key(spark):
    from spookystuff_spark.sources.bloom_index import (
        attach_blooms,
        read_table_point,
        read_table_points,
    )
    from spookystuff_spark.sources.upsert import write_table

    tdir = tempfile.mkdtemp(prefix="r13-bloompts-")
    base = spark.createDataFrame(
        [(i, "r%d" % i) for i in range(200)], "k long, s string"
    )
    write_table(base.repartition(6), tdir, change_feed=False)
    attach_blooms(spark, tdir, ["k"])
    keys = [3, 77, 150, 199, 12345]  # last one absent
    batch = read_table_points(spark, tdir, "k", keys)
    assert len(batch) == len(keys)
    for key, (bdf, bstats) in zip(keys, batch):
        sdf, sstats = read_table_point(spark, tdir, "k", key)
        assert bstats == sstats, key
        assert sorted(map(tuple, bdf.collect())) == sorted(
            map(tuple, sdf.collect())
        ), key
    # the absent key must have been pruned everywhere and return no rows
    assert batch[-1][0].count() == 0
    assert batch[-1][1]["skipped_bloom"] > 0

    with pytest.raises(ValueError):
        read_table_points(spark, tdir, "k", [1, None])


def test_upsert_partitioned_dv_carry_and_drop(spark):
    from spookystuff_spark.sources.partitioned_table import (
        upsert_partitioned,
        write_table_partitioned,
    )
    from spookystuff_spark.sources.upsert import (
        _latest,
        _read_manifest_raw,
        delete_where_dv,
        read_table,
    )

    base = spark.createDataFrame(
        [(i, "p%d" % (i % 3), i) for i in range(30)],
        "k long, p string, v long",
    )

    # case 1: some deleted keys NOT re-upserted → vector must carry
    t1 = tempfile.mkdtemp(prefix="r13-dvcarry-")
    write_table_partitioned(base, t1, "p")
    delete_where_dv(spark, t1, F.col("k") % 5 == 0, ["k"], change_feed=False)
    ups = base.where(F.col("k") == 10).withColumn("v", F.lit(999))
    upsert_partitioned(spark, t1, ups, ["k"], "p")
    raw = _read_manifest_raw(t1, _latest(t1))
    assert raw.get("dv"), "surviving deleted keys must stay vectored"
    rows = {r["k"]: r["v"] for r in read_table(spark, t1).collect()}
    assert 10 in rows and rows[10] == 999  # re-upserted key is live again
    assert 5 not in rows and 20 not in rows  # others stay deleted

    # case 2: EVERY deleted key re-upserted → vector must drop entirely
    t2 = tempfile.mkdtemp(prefix="r13-dvdrop-")
    write_table_partitioned(base, t2, "p")
    delete_where_dv(spark, t2, F.col("k") == 7, ["k"], change_feed=False)
    ups2 = base.where(F.col("k") == 7).withColumn("v", F.lit(111))
    upsert_partitioned(spark, t2, ups2, ["k"], "p")
    raw2 = _read_manifest_raw(t2, _latest(t2))
    assert not raw2.get("dv"), "an all-upserted vector must not linger"
    assert not os.path.exists(os.path.join(t2, _latest(t2), "_dv"))
    rows2 = {r["k"]: r["v"] for r in read_table(spark, t2).collect()}
    assert rows2[7] == 111 and len(rows2) == 30
