"""Partition-aware versioned table: MERGE that rewrites ONLY the touched
partitions — the O(changed-partitions) upsert the plain snapshot rewrite
cannot give at 100 TB.

Layout: each version's data files live under hive-style subdirs
``v000NN/__part=<value>/part-*.parquet`` (``__part`` is a throwaway COPY of
the partition column made just for ``partitionBy`` layout — the real column
stays inside the files, so manifest-driven file reads need no partition
discovery). Every manifest entry therefore carries its partition value in
its own path; carry-forward and pruning are pure string operations on the
manifest.

``upsert_partitioned``:

1. collect the distinct partition values present in the updates (bounded
   by touched partitions — raise if the caller exceeds ``max_touched``);
2. read ONLY the current snapshot files of those partitions (manifest
   pruning: untouched partitions cost zero IO);
3. anti-join + union within the touched slice, write it back
   ``partitionBy``-style into the new version dir;
4. manifest = untouched entries carried BY REFERENCE + the new files;
   commit with the usual chain/OCC/pointer-swap semantics.

``read_table_partitions`` is the matching pruned reader: a partition-value
filter answered from the manifest alone — the scan never lists or opens
any other partition's files (stronger than parquet min/max skipping, which
still enumerates every file).

Same protocol as sources/upsert.py otherwise: immutable files, manifest
parent chain, vacuum reference-safety, ConcurrentWriteError. The partition
column must be stable per key (a key never moves between partitions) — the
standard partitioned-MERGE contract; violating it leaves the old row in
the old partition (documented, not detected — detection would need the
full-table scan this exists to avoid).

Deletion vectors compose: ``upsert_partitioned`` on a table carrying
merge-keyed vectors (``delete_where_dv`` with the same key columns)
materializes them into the rewritten touched slice and carries them
forward MINUS the upserted keys — partition stability makes that exact
(see the inline proof). Vectors keyed on anything else still require a
``compact()`` first. ``read_table_partitions`` applies vectors like
``read_table``.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from spookystuff_spark import fsio
from spookystuff_spark.sources import upsert as U

_P = "__part="


def _part_of(entry: str) -> str | None:
    """Partition value encoded in a manifest entry's path, or None."""
    return U._entry_part(entry)


def _staged_partitioned(df: DataFrame, pcol: str) -> DataFrame:
    """The frame ``_write_partitioned`` writes: the ``__part`` layout copy
    plus a REBALANCE(__part) before the write (optimization guide §6). A
    partitionBy write emits one file per (task × partition value), so an
    upstream stage at default parallelism times 8 layout buckets wrote
    100s of tiny files per commit — every later manifest walk, footer
    profile and pruned read paid that count. The AQE-sized shuffle keyed
    by the layout value coalesces small partitions to one file and still
    splits big ones at advisoryPartitionSizeInBytes, so file sizing stays
    scale-adaptive rather than tuned to this box."""
    return df.withColumn("__part", F.col(pcol).cast("string")).hint(
        "rebalance", "__part"
    )


def _write_partitioned(
    df: DataFrame, pcol: str, vdir: str, preserve_layout: bool = False
) -> None:
    """``preserve_layout=True`` skips the rebalance: callers that
    deliberately clustered the frame (z-order compaction, stats-profiled
    tables whose per-file min/max tightness IS the feature) must keep
    their row→file mapping — the rebalance shuffle would merge disjoint
    clustered ranges into wide-footprint files and disable stats
    skipping."""
    staged = (
        df.withColumn("__part", F.col(pcol).cast("string"))
        if preserve_layout
        else _staged_partitioned(df, pcol)
    )
    staged.write.partitionBy("__part").mode("errorifexists").parquet(vdir)


def _own_entries_recursive(table_dir: str, version: str) -> list[str]:
    """Data-file manifest entries for a partition-laid-out version dir.
    Spark's hidden-path convention applies: any path segment starting with
    ``_`` or ``.`` (the ``_changes`` feed, ``_SUCCESS``, staging debris) is
    NOT data — except the ``__part=`` layout dirs themselves."""
    vdir = fsio.join(table_dir, version)

    def is_data(rel: str) -> bool:
        if not rel.endswith(".parquet"):
            return False
        return not any(
            seg.startswith(("_", "."))
            for seg in rel.split("/")
            if not seg.startswith(_P)
        )

    return [
        f"{version}/{rel}"
        for rel in fsio.list_files_recursive(vdir)
        if is_data(rel)
    ]


def _stats_fields(
    table_dir: str, own_entries: Sequence[str], stats_cols
) -> dict | None:
    """Manifest ``stats`` extra-field for a commit's own files (the files
    were just written, so this is the one moment profiling costs only a
    footer read per new file — inherited entries keep the stats their own
    version recorded, resolved chain-wise by ``entry_stats``)."""
    if not stats_cols:
        return None
    return {"stats": U.profile_entries(table_dir, own_entries, stats_cols)}


def write_table_partitioned(
    df: DataFrame,
    table_dir: str,
    partition_col: str,
    marker: str | None = None,
    stats_cols: Sequence[str] | None = None,
    change_feed: bool = True,
    extra_fields: dict | None = None,
    bloom_cols: Sequence[str] | None = None,
) -> str:
    """Create/replace the table with a partition-laid-out snapshot.
    ``stats_cols``: record per-file min/max stats in the manifest at commit
    time so partition pruning AND stats skipping compose
    (``read_table_partitions_pruned``). The change feed is metadata-only —
    a reference manifest over the just-written files (the layout dirs keep
    ``__part`` OUT of the files, so feed readers see the table schema
    exactly)."""
    U._enforce_checks(df, table_dir)
    fsio.mkdirs(table_dir)
    parent = U._latest(table_dir)
    v = U._next_version(table_dir)
    _write_partitioned(
        df, partition_col, fsio.join(table_dir, v),
        preserve_layout=bool(stats_cols),
    )
    own = _own_entries_recursive(table_dir, v)
    if change_feed:
        U._write_change_feed_refs(table_dir, v, own, "insert")
    U.write_manifest(
        table_dir,
        v,
        own,
        df.schema.json(),
        "upsert",
        parent=parent,
        extra_fields={
            "partition_col": partition_col,
            **(_stats_fields(table_dir, own, stats_cols) or {}),
            **(U._bloom_extra(df.sparkSession, table_dir, v, bloom_cols,
                              entries=own) or {}),
            **(extra_fields or {}),
        },
    )
    if marker:
        U._stamp_marker(table_dir, v, marker)
    U._finalize_commit(table_dir, v, parent)
    return v


def append_partitioned(
    spark: SparkSession,
    table_dir: str,
    rows: DataFrame,
    partition_col: str,
    marker: str | None = None,
    stats_cols: Sequence[str] | None = None,
    change_feed: bool = True,
    extra_fields: dict | None = None,
    bloom_cols: Sequence[str] | None = None,
) -> str:
    """Blind append keeping the partition LAYOUT: only ``rows`` are written
    (laid out by ``partition_col`` like every other commit of this module);
    every previous entry is carried forward by manifest reference. The cost
    is O(batch) no matter how many partitions the batch touches — the
    append-shaped complement of :func:`upsert_partitioned`, whose
    touched-slice rewrite would degrade to a full-table rewrite for a
    batch that scatters across all partitions (e.g. an inverted index,
    where one document's terms hash into every bucket). Parent deletion
    vectors and ``partition_col`` are carried; ``stats_cols`` profiles the
    new files only; ``extra_fields`` lets an index maintained on top store
    its own incremental metadata (e.g. corpus stats) in the same atomic
    commit."""
    U._enforce_checks(rows, table_dir)
    fsio.mkdirs(table_dir)
    cur = U._latest(table_dir)
    if cur is None:
        return write_table_partitioned(
            rows, table_dir, partition_col, marker=marker,
            stats_cols=stats_cols, change_feed=change_feed,
            extra_fields=extra_fields, bloom_cols=bloom_cols,
        )
    # O(batch) metadata: the checks below read only raw top-level manifest
    # fields, the commit is a DELTA (own entries added against the parent)
    # — neither the parent's file list nor its fold is touched on the fast
    # path, so an append costs O(batch) data AND metadata IO
    raw = U._read_manifest_raw(table_dir, cur)
    parent_pcol = (raw or {}).get("partition_col")
    if parent_pcol is not None and parent_pcol != partition_col:
        raise ValueError(
            f"{table_dir}: table is partitioned by {parent_pcol!r}, "
            f"append requested {partition_col!r}"
        )
    # column-mapping appends: outstanding renames/drops don't block the
    # write surface — the carried rename_log translates older entries'
    # physical names per entry; only retired-name reuse refuses
    U._refuse_retired_names(table_dir, raw, rows.columns)
    prev_entries: list[str] = []
    if parent_pcol is None:
        # parent not written by this module's partitioned writers: validate
        # the full entry list once (a fold READ, never a manifest write).
        # When parent_pcol matches, the layout invariant is inductive —
        # the parent validated it at its own commit and every partitioned
        # commit since wrote __part= paths.
        manifest = U.read_manifest(table_dir, cur)
        prev_entries = list(manifest["files"]) if manifest else [
            f"{cur}/{n}" for n in U._parquet_names(fsio.join(table_dir, cur))
        ]
        unattributed = [e for e in prev_entries if _part_of(e) is None]
        if unattributed:
            raise ValueError(
                f"{table_dir}: {len(unattributed)} manifest entries carry no "
                "partition path — not a partitioned table "
                "(write it with write_table_partitioned)"
            )
    schema_json = rows.schema.json()
    if raw and raw.get("schema"):
        schema_json = U._union_schema_json(raw["schema"], rows.schema)
    v = U._next_version(table_dir)
    _write_partitioned(
        rows, partition_col, fsio.join(table_dir, v),
        preserve_layout=bool(stats_cols),
    )
    own = _own_entries_recursive(table_dir, v)
    if change_feed:
        U._write_change_feed_refs(table_dir, v, own, "insert")
    carried = {}
    if raw and raw.get("dv"):
        # metadata-only commits must carry accumulated vectors or deleted
        # rows resurrect (the append_rows contract, upsert.py:549-556)
        carried = {"dv": raw["dv"], "dv_keys": raw["dv_keys"]}
    if raw is not None:
        carried.update(U._schema_map_fields(raw))
    extra = {"partition_col": partition_col, **carried}
    extra.update(_stats_fields(table_dir, own, stats_cols) or {})
    extra.update(
        U._bloom_extra(spark, table_dir, v, bloom_cols, entries=own) or {}
    )
    extra.update(extra_fields or {})
    if raw is not None and parent_pcol is not None:
        U.write_manifest_delta(
            table_dir, v, cur, own, (), schema_json, "append",
            parent=cur, extra_fields=extra,
        )
    else:
        U.write_manifest(
            table_dir, v, prev_entries + own, schema_json, "append",
            parent=cur, extra_fields=extra,
        )
    if marker:
        U._stamp_marker(table_dir, v, marker)
    U._finalize_commit(table_dir, v, cur)
    return v


def upsert_partitioned(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_col: str,
    max_touched: int = 10_000,
    marker: str | None = None,
    stats_cols: Sequence[str] | None = None,
    feed_preimages: bool = False,
) -> str:
    """MERGE rewriting only the partitions the updates touch. Returns the
    new version. Requires a table written by this module (every manifest
    entry must carry a partition path — a mixed table raises).
    ``stats_cols``: profile the commit's own (rewritten) files into the
    manifest; untouched entries keep their own versions' stats.
    ``feed_preimages``: additionally log the replaced rows' old values to
    the change feed (Delta CDF preimages) so incremental view maintenance
    (sources/incremental.py) can fold partitioned-MERGE sources — the
    preimages come from the touched slice already being read, so the cost
    is one extra semi-join, never a table scan."""
    U._enforce_checks(updates, table_dir)
    cur = U._latest(table_dir)
    if cur is None:
        return write_table_partitioned(
            updates, table_dir, partition_col, marker=marker,
            stats_cols=stats_cols,
        )

    touched_rows = updates.select(partition_col).distinct().limit(
        max_touched + 1
    ).collect()
    if len(touched_rows) > max_touched:
        raise ValueError(
            f"updates touch more than {max_touched} partitions — use the "
            "full-snapshot upsert or raise max_touched"
        )
    touched = {str(r[0]) for r in touched_rows}

    entries = U.snapshot_files(table_dir, cur)
    manifest = U.read_manifest(table_dir, cur)
    # DV-aware merge: vectors keyed on the MERGE keys compose — the touched
    # slice materializes them during its rewrite, untouched partitions keep
    # them by reference (see below). Differently-keyed vectors can't be
    # subtracted per-update-key, so those still require a compact() first.
    # Outstanding renames/drops DON'T block the merge (column-mapping): the
    # touched slice reads through the per-entry translation and rewrites
    # with current logical names; untouched entries keep their physical
    # names, translated by the carried rename_log.
    U._refuse_retired_names(table_dir, manifest, updates.columns)
    dv = (manifest or {}).get("dv")
    if dv and list(manifest.get("dv_keys", [])) != list(key_cols):
        raise ValueError(
            f"{table_dir}: deletion vectors are keyed on "
            f"{manifest.get('dv_keys')} but the merge keys are "
            f"{list(key_cols)} — compact() first to materialize them"
        )
    rel_entries = manifest["files"] if manifest else []
    unattributed = [e for e in rel_entries if _part_of(e) is None]
    if unattributed:
        raise ValueError(
            f"{table_dir}: {len(unattributed)} manifest entries carry no "
            "partition path — not a partitioned table "
            "(write it with write_table_partitioned)"
        )
    touched_pairs = [
        (rel, full)
        for full, rel in zip(entries, rel_entries)
        if _part_of(rel) in touched
    ]
    touched_files = [f for _, f in touched_pairs]

    keys = updates.select(*key_cols).distinct()
    dv_keys_df = (
        U.read_parquet_pinned(
            spark, [fsio.join(table_dir, e) for e in dv]
        ).distinct()
        if dv
        else None
    )
    if touched_files:
        current_slice = U.scan_entries(
            spark, table_dir, manifest,
            [r for r, _ in touched_pairs], touched_files,
        )
        if dv_keys_df is not None:
            # materialize the vectors for the slice being rewritten anyway
            current_slice = current_slice.join(
                dv_keys_df, list(key_cols), "left_anti"
            )
        kept = current_slice.join(keys, list(key_cols), "left_anti")
        merged_slice = kept.unionByName(updates, allowMissingColumns=True)
    else:  # all touched partitions are brand new
        merged_slice = updates

    v = U._next_version(table_dir)
    _write_partitioned(
        merged_slice, partition_col, fsio.join(table_dir, v),
        preserve_layout=bool(stats_cols),
    )
    # a REAL change feed: the rewritten slice contains kept rows too, so a
    # reference feed over the new files would overreport — log exactly the
    # update rows (semi-join on the update keys against the fresh slice).
    # The files are enumerated EXPLICITLY with the just-written slice's
    # schema pinned: reading the version dir would pay a partition-discovery
    # listing plus a schema-inference job per merge (guide §1.2), and the
    # discovery would re-add __part as a column (the changefeed stream
    # reader refuses the extra column).
    own_data = _own_entries_recursive(table_dir, v)
    snap = spark.read.schema(merged_slice.schema).parquet(
        *[fsio.join(table_dir, e) for e in own_data]
    )
    feed = snap.join(keys, list(key_cols), "leftsemi").withColumn(
        "_change", F.lit("upsert")
    )
    if feed_preimages and touched_files:
        # preimages union into the same feed write — one job, one schema
        pre = current_slice.join(keys, list(key_cols), "leftsemi")
        feed = feed.unionByName(
            pre.withColumn("_change", F.lit("update_preimage")),
            allowMissingColumns=True,
        )
    feed.write.mode("errorifexists").parquet(
        fsio.join(table_dir, v, U._CHANGES)
    )
    if feed_preimages and touched_files:
        fsio.touch(fsio.join(table_dir, v, U._CHANGES, U._PREIMAGED))
        U._write_feed_kinds(table_dir, v, ["upsert", "update_preimage"])
    elif feed_preimages:
        # all-new partitions: zero preimages by construction, but the
        # sidecar still marks the feed complete for IVM consumers
        fsio.touch(fsio.join(table_dir, v, U._CHANGES, U._PREIMAGED))
        U._write_feed_kinds(table_dir, v, ["upsert", "update_preimage"])
    else:
        U._write_feed_kinds(table_dir, v, ["upsert"])
    dv_fields = None
    if dv_keys_df is not None:
        # vectors carried forward MINUS the update keys: an upserted key is
        # live again, and by the partition-stability contract a merge key
        # lives in exactly one partition — so every other row it could have
        # hidden was just materialized out of the rewritten slice. Keys NOT
        # upserted stay in the vector (still needed for untouched
        # partitions; a no-op against the rewritten ones).
        remaining = dv_keys_df.join(keys, list(key_cols), "left_anti")
        # ONE job: write the surviving keys and decide emptiness from the
        # written footers driver-side — the old ``limit(1).count()`` probe
        # paid a second evaluation of the anti-join per merge (§1.2). An
        # all-upserted vector leaves only empty part files; the fields are
        # then dropped and the dir deleted.
        dv_dir = fsio.join(table_dir, v, "_dv")
        remaining.write.mode("errorifexists").parquet(dv_dir)
        dv_names = U._parquet_names(dv_dir)
        import pyarrow.parquet as _pq

        n_remaining = 0
        for n in dv_names:
            with fsio.open_input(fsio.join(dv_dir, n)) as f:
                n_remaining += _pq.ParquetFile(f).metadata.num_rows
        if n_remaining:
            dv_fields = {
                "dv": [f"{v}/_dv/{n}" for n in dv_names],
                "dv_keys": list(key_cols),
            }
        else:
            fsio.delete_dir(dv_dir)
    own = _own_entries_recursive(table_dir, v)
    touched_entries = [e for e in rel_entries if _part_of(e) in touched]
    extra = {"partition_col": partition_col, **(dv_fields or {})}
    if manifest:
        # untouched entries still carry old physical names — the schema
        # maps (and the per-entry rename_log) travel with the commit
        extra.update(U._schema_map_fields(manifest))
    extra.update(_stats_fields(table_dir, own, stats_cols) or {})
    # delta commit: remove the touched partitions' old entries, add the
    # rewritten slice — O(touched) manifest bytes, untouched partitions
    # carry through the base reference
    U.write_manifest_delta(
        table_dir,
        v,
        cur,
        own,
        touched_entries,
        merged_slice.schema.json(),
        "upsert",
        parent=cur,
        extra_fields=extra,
    )
    if marker:
        U._stamp_marker(table_dir, v, marker)
    U._finalize_commit(table_dir, v, cur)
    return v


def read_table_partitions(
    spark: SparkSession,
    table_dir: str,
    partition_values: Sequence,
    version: str | None = None,
) -> DataFrame:
    """Manifest-pruned read: only the named partitions' files reach the
    scan — no listing, no footer reads, no row-group skipping needed for
    the rest of the table. Above the inline-manifest threshold the
    pruning itself is DISTRIBUTED (``upsert.entries_plan``): the parquet
    entry table scans as a DataFrame, the partition filter runs as a
    column predicate, and the driver collects only the SURVIVING entries
    — never the million-file list the JSON fold would materialize."""
    import pyspark.sql.functions as F  # noqa: F811 (module alias shadow)

    cur = U._latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    v = version or cur
    U._check_readable(table_dir, v, cur)
    wanted = {str(x) for x in partition_values}
    plan = U.entries_plan(spark, table_dir, v)
    if plan is not None:
        # scan-side planning: schema/renames/dv all live top-level in the
        # RAW manifest — the folded file list is never built on the driver
        manifest = U._read_manifest_raw(table_dir, v) or {"files": []}
        keep_rel = [
            r["entry"]
            for r in plan.where(F.col("part").isin(sorted(wanted)))
            .select("entry")
            .collect()  # O(survivors), the scan needs them anyway
        ]
        keep = [
            (r, r if U._is_abs_entry(r) else fsio.join(table_dir, r))
            for r in keep_rel
        ]
    else:
        manifest = U.read_manifest(table_dir, v) or {"files": []}
        rel_all, full_all = U._entries_and_paths(table_dir, manifest)
        keep = [
            (r, f) for r, f in zip(rel_all, full_all) if _part_of(r) in wanted
        ]
    if not keep and not manifest.get("schema"):
        raise FileNotFoundError(f"no files for partitions {sorted(wanted)}")
    df = U.scan_entries(
        spark, table_dir, manifest,
        [r for r, _ in keep], [f for _, f in keep],
    )
    # merge-on-read: the pruned read must hide DV-deleted rows exactly like
    # read_table — key vectors apply unchanged to any partition subset
    return U._apply_deletion_vectors(spark, table_dir, v, df)


def compact_partitioned(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    marker: str | None = None,
    stats_cols: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    files_per_partition: int = 1,
) -> str:
    """Layout-preserving OPTIMIZE: rewrite the current snapshot back into
    the hive-style partition layout, one file per partition value (each
    value hashes to exactly one shuffle task, so ``partitionBy`` emits
    exactly one file for it) — the small-file compaction a partitioned
    table accumulates after many touched-slice MERGEs. Reads through
    ``read_table``, so any accumulated deletion vectors MATERIALIZE here
    (the DV-compaction contract), unlike ``upsert.compact`` which would
    flatten the partition layout away. No change feed: the logical content
    is unchanged.

    ``zorder_by`` (+ ``files_per_partition`` + ``stats_cols``): cluster
    each partition's rewrite on the Z-curve over those columns — range
    partitioning on (partition value, z-key) makes every output file's
    footprint tight in every clustered dimension WITHIN its partition, so
    a ``read_table_partitions_pruned`` filter composes all three pruning
    layers: partition → manifest stats → parquet row groups."""
    import pyspark.sql.functions as F  # noqa: F811 (module alias shadow)

    cur = U._latest(table_dir)
    parent_m = U._read_manifest_raw(table_dir, cur) if cur else None
    current = U.read_table(spark, table_dir)  # applies deletion vectors
    if zorder_by:
        from spookystuff_spark.operators.layout import zorder_key

        # bounded driver count: one value per partition, the same
        # cardinality the layout itself materializes as directories
        n_vals = current.select(partition_col).distinct().count()
        df = (
            current.withColumn("__z", zorder_key(list(zorder_by)))
            .repartitionByRange(
                max(1, int(n_vals) * max(1, files_per_partition)),
                F.col(partition_col),
                F.col("__z"),
            )
            .sortWithinPartitions(partition_col, "__z")
            .drop("__z")
        )
    else:
        df = current.repartition(F.col(partition_col))
    v = U._next_version(table_dir)
    # compaction sets its own layout (one task per partition value, or
    # range-clustered on (partition, z-key)) — always preserve it
    _write_partitioned(
        df, partition_col, fsio.join(table_dir, v), preserve_layout=True
    )
    own = _own_entries_recursive(table_dir, v)
    U.write_manifest(
        table_dir,
        v,
        own,
        current.schema.json(),
        "compact",
        parent=cur,
        extra_fields={
            "partition_col": partition_col,
            **(_stats_fields(table_dir, own, stats_cols) or {}),
            # content-preserving commit: snapshot-scoped index metadata
            # (e.g. bm25_stats) carries, or compaction would strip it;
            # schema maps MATERIALIZE here (the rewrite reads logical)
            **U.carry_extra_fields(
                parent_m, exclude=("renames", "rename_log", "drops")
            ),
        },
    )
    if marker:
        U._stamp_marker(table_dir, v, marker)
    U._finalize_commit(table_dir, v, cur)
    return v


def fragmentation(table_dir: str) -> dict:
    """{partition value: file count} of the current snapshot — the manifest
    alone answers it (zero listing/footer IO), so an auto-compaction check
    costs one small JSON read no matter the table size."""
    cur = U._latest(table_dir)
    if cur is None:
        return {}
    m = U.read_manifest(table_dir, cur) or {"files": []}
    out: dict = {}
    for e in m["files"]:
        p = _part_of(e)
        if p is not None:
            out[p] = out.get(p, 0) + 1
    return out


def compact_auto_partitioned(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    max_files_per_partition: int = 8,
    force_dv: bool = False,
    **compact_kwargs,
) -> str | None:
    """OPTIMIZE-when-fragmented: rewrite the layout only when some
    partition has accumulated more than ``max_files_per_partition`` files
    (what an append-heavy maintained index — e.g. the BM25 postings table,
    one file per bucket per refresh — does after N batches). The check is
    manifest-only; returns the new version or None when nothing is
    fragmented. Read amplification stays bounded: between compactions a
    pruned read opens at most ``max_files_per_partition + batches-since``
    files per partition. ``force_dv=True`` additionally compacts when the
    table's deletion vector is non-empty even with no fragmentation —
    the rewrite reads through the DV-applied snapshot, MATERIALIZING the
    deletes and clearing the vector (the heal the index refreshes name
    before a DV-hidden key can be re-inserted)."""
    frag = fragmentation(table_dir)
    if not frag or max(frag.values()) <= max_files_per_partition:
        cur = U._latest(table_dir)
        has_dv = cur is not None and bool(
            (U._read_manifest_raw(table_dir, cur) or {}).get("dv")
        )
        if not (force_dv and has_dv):
            return None
    return compact_partitioned(
        spark, table_dir, partition_col, **compact_kwargs
    )


def read_table_partitions_pruned(
    spark: SparkSession,
    table_dir: str,
    partition_values: Sequence,
    col: str,
    lo,
    hi,
    version: str | None = None,
) -> tuple[DataFrame, dict]:
    """Partition pruning AND manifest-stats file skipping composed: only
    the named partitions' files whose recorded [min, max] intersects
    ``lo <= col <= hi`` reach the scan — zero listing, zero footer IO at
    plan time. At 100 TB the within-partition file count is exactly where
    stats skipping pays ON TOP of partition pruning; either alone reads
    every file of the other dimension. Files without recorded stats scan
    conservatively; the residual range filter applies either way; deletion
    vectors apply like every other reader. Returns
    (frame, {"scanned": n, "skipped_partition": p, "skipped_stats": s})."""
    import json

    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    cur = U._latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    v = version or cur
    U._check_readable(table_dir, v, cur)
    wanted = {str(x) for x in partition_values}
    manifest = U.read_manifest(table_dir, v) or {"files": []}
    log = U.rename_log_of(manifest)
    stats = U.entry_stats(table_dir, v)
    rel_all, full_all = U._entries_and_paths(table_dir, manifest)
    keep_rel, keep_full, skipped_part, skipped_stats = [], [], 0, 0
    for e, full in zip(rel_all, full_all):
        if _part_of(e) not in wanted:
            skipped_part += 1
            continue
        # stats carry the names current at the entry's commit — translate
        # the logical filter column per entry
        owner = e.split("/", 1)[0]
        rng = (stats.get(e) or {}).get(
            U.physical_name_for_entry(log, owner, col)
        )
        if rng and (rng[1] < lo or rng[0] > hi):
            skipped_stats += 1
            continue
        keep_rel.append(e)
        keep_full.append(full)
    df = U.scan_entries(spark, table_dir, manifest, keep_rel, keep_full)
    df = U._apply_deletion_vectors(spark, table_dir, v, df)
    return (
        df.where((F.col(col) >= lo) & (F.col(col) <= hi)),
        {
            "scanned": len(keep_full),
            "skipped_partition": skipped_part,
            "skipped_stats": skipped_stats,
        },
    )
