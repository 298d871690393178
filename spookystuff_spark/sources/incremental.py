"""Incremental materialized aggregates over the versioned table's change
feed — lakehouse IVM (incremental view maintenance).

A derived table holding ``GROUP BY group_cols: SUM(sum_cols), COUNT(*)``
is kept current by processing ONLY the change-feed rows of source versions
committed since the last refresh, never rescanning the source:

    insert / upsert postimage rows  → +value, +1
    update_preimage / delete rows   → −value, −1

Decomposable aggregates compose from these signed deltas exactly (sums and
counts; averages derive as sum/count at read time). The refresh records
the last processed source version as a ``_SRC_<version>`` marker riding
the derived table's own atomic commit — so refresh is exactly-once per
source version under crashes/replays (the streaming-sink marker idiom,
applied to batch ETL), and a re-run with nothing new is a no-op.

Requirements: the source's upserts must log preimages
(``upsert(..., feed_preimages=True)``) — without them an update's old
value cannot be subtracted and the refresh REFUSES (it checks the feed
kinds rather than silently drifting). Compactions produce no feed and are
skipped; metadata-only appends are read through their reference manifests.
Retention contract (same as Delta CDF): never ``vacuum`` the source below
a feed no consumer has processed — ``last_processed_version(dst)`` is the
watermark to check before vacuuming.

Scale shape: each refresh reads O(changed rows since last refresh) + the
current derived table (group-cardinality), one groupBy for the delta, one
full-outer key join to apply it. The source table is never scanned.

Reference scope: the reference has no derived-table machinery; this is
rebuild-native lakehouse surface in the spirit of Delta CDF consumers
(docstring cites public Delta CDF semantics only).
"""

from __future__ import annotations

import logging
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from spookystuff_spark.sources import upsert as U

_log = logging.getLogger(__name__)

_SRC_MARK = "_SRC_"

_POS = ("insert", "upsert")
_NEG = ("update_preimage", "delete")

#: The min/max rescan's affected-group enumeration collects group values to
#: the driver to name the partitions to rescan — right for trickle deletes,
#: unbounded for a backfill-sized delete touching millions of groups. Above
#: this many affected groups the enumeration stops (limit(N+1), nothing
#: further collected) and the rescan falls through to the one-pass
#: null-safe semi-join scan instead (the join view's PROBE_KEYS_MAX idiom).
AFFECTED_PARTS_MAX = 10_000

#: Manifest fields a KEYED aggregate table records: the bucket count its
#: hive-style layout was built with and the group columns the buckets hash
#: — every refresh re-reads them so the layout can never silently drift
#: from the fold's own bucketing.
_BUCKETS_KEY = "agg_buckets"
_GROUPS_KEY = "agg_group_cols"


def _bucket_expr(gcols: Sequence[str], n_buckets: int):
    """Bucket of a group key: ``xxhash64`` over the STRING form of every
    group column, mod the bucket count. The string cast pins the hash
    across integral-width schema evolution (Spark hashes int 5 and bigint
    5 differently — a widened source column would silently re-bucket every
    group, stranding their current rows in partitions the fold no longer
    reads); NULL keys hash deterministically like any other value, so the
    NULL group lives in an ordinary bucket (no ``__part=`` NULL hole)."""
    import pyspark.sql.functions as F  # noqa: F811

    return F.pmod(
        F.xxhash64(*[F.col(g).cast("string") for g in gcols]),
        F.lit(int(n_buckets)),
    )


def _write_bucketed(df: DataFrame, gcols, n_buckets: int, vdir: str) -> None:
    """Write ``df`` hive-laid-out by the VIRTUAL bucket of its group key:
    ``__part`` is computed for layout only and never stored inside the
    files, so readers see the aggregate schema exactly (no bucket-column
    pollution) while manifest entries carry ``__part=<bucket>`` paths the
    pruned reader matches by string.

    REBALANCE(__part) before the write (guide §6): without it every
    keyed commit wrote one file per (shuffle task × touched bucket); the
    AQE-sized shuffle coalesces to ~one file per touched bucket on small
    folds and advisory-size files at scale."""
    (
        _staged_bucketed(df, gcols, n_buckets)
        .write.partitionBy("__part")
        .mode("errorifexists")
        .parquet(vdir)
    )


def _staged_bucketed(df: DataFrame, gcols, n_buckets: int) -> DataFrame:
    """The frame ``_write_bucketed`` writes (see its docstring)."""
    return df.withColumn(
        "__part", _bucket_expr(gcols, n_buckets).cast("string")
    ).hint("rebalance", "__part")


def agg_layout(dst_dir: str) -> tuple[int | None, list[str] | None]:
    """(bucket count, group columns) a keyed aggregate table's current
    manifest records, or (None, None) for a plain (full-rewrite) table or
    no table at all."""
    from spookystuff_spark import fsio

    if not fsio.is_dir(dst_dir):
        return None, None
    cur = U._latest(dst_dir)
    if cur is None:
        return None, None
    raw = U._read_manifest_raw(dst_dir, cur) or {}
    return raw.get(_BUCKETS_KEY), raw.get(_GROUPS_KEY)


def _null_safe_key_cond(left: DataFrame, right: DataFrame, cols):
    """Conjunction of ``eqNullSafe`` over the group key — plain equality
    never matches NULL = NULL, so NULL-keyed groups would silently split
    or vanish in every key join below."""
    cond = None
    for g in cols:
        e = left[g].eqNullSafe(right[g])
        cond = e if cond is None else cond & e
    return cond


def _fold_support(
    current: DataFrame | None, delta: DataFrame, fold_key: Sequence[str]
) -> DataFrame:
    """Fold a signed per-pair delta (``_dn``) into a counted-support Z-set
    (``_n`` per live ``fold_key`` row), dropping pairs whose multiplicity
    reaches zero — the one construction behind :func:`refresh_distinct`
    and the join view's ``refresh_join_distinct``. NULL-SAFE full-outer
    merge: a NULL value is an ordinary support row (read-time COUNT
    excludes it, SQL-style) and a NULL-keyed group must not split
    (the same class as ``refresh_aggregate``'s NULL-safe merge)."""
    if current is None:
        merged = delta.select(*fold_key, F.col("_dn").alias("_n"))
    else:
        joined = current.join(
            delta, _null_safe_key_cond(current, delta, fold_key), "full_outer"
        )
        merged = joined.select(
            *[F.coalesce(current[c], delta[c]).alias(c) for c in fold_key],
            (
                F.coalesce(F.col("_n"), F.lit(0))
                + F.coalesce(F.col("_dn"), F.lit(0))
            ).alias("_n"),
        )
    return merged.where(F.col("_n") > 0)


def _fold_max(
    current: DataFrame | None,
    delta: DataFrame,
    fold_key: Sequence[str],
    val_col: str,
) -> DataFrame:
    """Fold a delta into a MONOTONE max-lattice table (one live row per
    ``fold_key``, value = the max ever seen) — the merge behind the HLL
    register view (``sources/sketch_view.py``): rho registers only ever
    grow, so inserts compose as a per-key ``greatest`` with no
    multiplicity to track (and, unlike :func:`_fold_support`, no row ever
    leaves — which is exactly why delete feeds must refuse upstream).
    NULL-safe on the key for the same split-group reason as the support
    fold; ``greatest`` skips the NULL side of a one-sided match."""
    if current is None:
        return delta
    joined = current.join(
        delta, _null_safe_key_cond(current, delta, fold_key), "full_outer"
    )
    return joined.select(
        *[F.coalesce(current[c], delta[c]).alias(c) for c in fold_key],
        F.greatest(current[val_col], delta[val_col]).alias(val_col),
    )


def _resolve_buckets(
    dst_dir: str, gcols: Sequence[str], dst_buckets: int | None
) -> tuple[int | None, bool]:
    """(effective bucket count, layout already recorded) for a derived
    aggregate table: the manifest's recorded layout wins (the parameter
    then only cross-checks — a mismatched bucket count or group-column
    list raises, re-bucketing is a rebuild, never a silent drift);
    otherwise the caller's ``dst_buckets`` opts an unbucketed table in."""
    rec_buckets, rec_gcols = agg_layout(dst_dir)
    if rec_buckets is not None:
        if dst_buckets is not None and int(dst_buckets) != int(rec_buckets):
            raise ValueError(
                f"{dst_dir}: laid out with {rec_buckets} buckets but the "
                f"refresh asked for {dst_buckets} — re-bucketing requires "
                "rebuilding the derived table"
            )
        if rec_gcols is not None and list(rec_gcols) != list(gcols):
            raise ValueError(
                f"{dst_dir}: bucketed by group columns {rec_gcols}, "
                f"refresh asked for {list(gcols)}"
            )
        return int(rec_buckets), True
    return (int(dst_buckets) if dst_buckets else None), False


def _sq_expr(df: DataFrame, c: str):
    """``c²`` with the widest exact arithmetic the column admits:
    integral types square as ``decimal(19,0)`` (cast BEFORE multiplying —
    a bigint square could overflow first) and decimals square natively,
    so their sums fold bit-exactly under any retraction schedule;
    floating columns square in double (exactness is impossible there —
    callers wanting exact variance over prices should scale to integer
    cents first)."""
    t = dict(df.dtypes)[c]
    if t in ("tinyint", "smallint", "int", "bigint"):
        cc = F.col(c).cast("decimal(19,0)")
        return cc * cc
    if t.startswith("decimal"):
        return F.col(c) * F.col(c)
    return F.col(c).cast("double") * F.col(c).cast("double")


def _apply_rescan(
    merged: DataFrame,
    rescan: DataFrame,
    affected: DataFrame,
    gcols: Sequence[str],
    sum_cols: Sequence[str],
    min_cols: Sequence[str],
    max_cols: Sequence[str],
    sumsq_cols: Sequence[str] = (),
) -> DataFrame:
    """Overwrite the min/max of the AFFECTED groups in ``merged`` with the
    re-derived authoritative values (``rescan``'s ``_r_<c>_min/max``
    columns, keyed by the group); every other group keeps its folded
    extremes. NULL-safe left joins on the group key (the eqNullSafe story
    of the main fold); the right sides' group columns are renamed first so
    the chained joins never hold two columns of one name. Shared by the
    plain aggregate IVM and the join-aggregate IVM."""
    rescan2 = rescan.select(
        *[F.col(g).alias(f"_rg_{g}") for g in gcols],
        *[c for c in rescan.columns if c not in gcols],
    )
    aff2 = affected.select(
        *[F.col(g).alias(f"_ag_{g}") for g in gcols],
        F.lit(True).alias("_aff"),
    )

    def _ns(left, right, prefix):
        c = None
        for g in gcols:
            e = F.col(g).eqNullSafe(F.col(f"{prefix}{g}"))
            c = e if c is None else c & e
        return left.join(right, c, "left")

    j2 = _ns(_ns(merged, rescan2, "_rg_"), aff2, "_ag_")
    return j2.select(
        *gcols,
        *[F.col(f"{c}_sum") for c in sum_cols],
        *[F.col(f"{c}_sumsq") for c in sumsq_cols],
        *[
            F.when(F.col("_aff"), F.col(f"_r_{c}_min"))
            .otherwise(F.col(f"{c}_min"))
            .alias(f"{c}_min")
            for c in min_cols
        ],
        *[
            F.when(F.col("_aff"), F.col(f"_r_{c}_max"))
            .otherwise(F.col(f"{c}_max"))
            .alias(f"{c}_max")
            for c in max_cols
        ],
        F.col("n_rows"),
    )


def _keyed_state(dst_dir: str) -> tuple[str, list[str], bool]:
    """(current version, manifest entries, the keyed delta path is safe)
    for a keyed aggregate table — the one manifest fold a keyed refresh
    pays. ``False`` in the last slot routes the refresh through the HEAL
    path (full fold + bucketed re-seed) instead, which happens when:

    - some commit flattened the layout (a plain ``compact``), or
    - the table carries DELETION VECTORS or outstanding SCHEMA MAPS
      (renames/drops): a keyed delta commit carries untouched buckets by
      base reference, and NOT re-carrying dv/rename fields would
      resurrect deleted rows / misread renamed columns in them — the
      full re-seed reads through both (materializing them) and writes a
      clean bucketed snapshot, after which keyed deltas resume."""
    from spookystuff_spark.sources.partitioned_table import _part_of

    cur = U._latest(dst_dir)
    raw = U._read_manifest_raw(dst_dir, cur) or {}
    if raw.get("dv") or raw.get("renames") or raw.get("drops"):
        return cur, [], False
    m = U.read_manifest(dst_dir, cur)
    rel = list(m["files"]) if m else []
    ok = bool(rel) and all(_part_of(e) is not None for e in rel)
    return cur, rel, ok


def _keyed_slice(
    spark: SparkSession,
    dst_dir: str,
    delta: DataFrame,
    gcols: Sequence[str],
    n_buckets: int | None,
    keyed_layout: bool,
    neg_col: str | None = None,
) -> tuple[
    DataFrame | None, list[str] | None, str | None, list | None, bool | None
]:
    """(current state, touched buckets, cur version, manifest entries,
    any-negative flag) for a derived-table fold — the read half every
    keyed refresh shares (plain aggregate, distinct support, join
    aggregate). With a valid keyed layout: ONLY the buckets the delta's
    groups hash into are read (manifest pruning — untouched buckets cost
    zero IO and carry through the commit's base reference), ``touched``
    naming them for the manifest-delta commit; the bucket collect is
    bounded by n_buckets, never by group count. ``neg_col`` (a boolean
    per-group column riding the delta, e.g. the min/max refreshes'
    ``_has_neg``) FUSES the retraction probe into the same bucket
    collect — one job answers both "which buckets" and "any retraction?"
    instead of a separate ``limit(1).count()`` probe per refresh (r12
    verdict #4); the last slot is that answer, or None when the fused
    path didn't run (caller probes separately). A flattened layout
    (plain ``compact``) or dv/rename-carrying state heals via one full
    read + bucketed re-seed (``touched=None``). A table that doesn't
    exist yet returns ``(None, None, None, None, None)`` — the delta
    seeds it."""
    touched: list[str] | None = None
    cur = rel = None
    has_neg: bool | None = None
    if keyed_layout:
        cur, rel, layout_ok = _keyed_state(dst_dir)
        if layout_ok:
            from spookystuff_spark.sources.partitioned_table import (
                read_table_partitions,
            )

            b = _bucket_expr(gcols, n_buckets).cast("string").alias("_b")
            if neg_col is not None and neg_col in delta.columns:
                rows = (
                    delta.groupBy(b)
                    .agg(F.max(F.col(neg_col)).alias("_neg"))
                    .collect()
                )
                touched = sorted(r[0] for r in rows)
                has_neg = any(bool(r[1]) for r in rows)
            else:
                touched = sorted({
                    r[0] for r in delta.select(b).distinct().collect()
                })
            if n_buckets >= 4 and 2 * len(touched) > n_buckets:
                # the layout-too-coarse signal: a delta that keeps hitting
                # most buckets pays near-full rewrites anyway — either the
                # deltas are backfill-sized (expected) or dst_buckets is
                # too small for the group cardinality (rebucket())
                _log.warning(
                    "%s: refresh touches %d of %d buckets — if routine, "
                    "the keyed layout is too coarse; see rebucket()",
                    dst_dir, len(touched), n_buckets,
                )
            return (
                read_table_partitions(spark, dst_dir, touched),
                touched, cur, rel, has_neg,
            )
        return U.read_table(spark, dst_dir), None, cur, rel, None
    try:
        return U.read_table(spark, dst_dir), None, None, None, None
    except FileNotFoundError:
        return None, None, None, None, None


def _commit_keyed(
    merged: DataFrame,
    dst_dir: str,
    gcols: Sequence[str],
    n_buckets: int,
    marker: str,
    touched: Sequence[str] | None = None,
    cur: str | None = None,
    rel: Sequence[str] | None = None,
) -> str:
    """Commit a keyed aggregate refresh. With ``touched`` (+ the
    pre-fetched ``cur``/``rel`` state), the commit is a manifest DELTA:
    the rewritten buckets' files added, their old entries removed,
    untouched buckets carried by the base reference — O(touched buckets)
    data and metadata IO. Without it (first seed, or healing a flattened
    layout), the whole aggregate is written bucketed under a full
    manifest. Either way the ``_SRC_`` marker, the bucket count and the
    group columns ride the same atomic commit."""
    from spookystuff_spark import fsio
    from spookystuff_spark.sources.partitioned_table import (
        _own_entries_recursive,
        _part_of,
    )

    U._enforce_checks(merged, dst_dir)
    fsio.mkdirs(dst_dir)
    if cur is None:
        cur = U._latest(dst_dir)
    v = U._next_version(dst_dir)
    _write_bucketed(merged, gcols, n_buckets, fsio.join(dst_dir, v))
    own = _own_entries_recursive(dst_dir, v)
    extra = {_BUCKETS_KEY: int(n_buckets), _GROUPS_KEY: list(gcols)}
    if touched is not None:
        wanted = set(touched)
        removed = [e for e in rel if _part_of(e) in wanted]
        U.write_manifest_delta(
            dst_dir, v, cur, own, removed, merged.schema.json(), "upsert",
            parent=cur, extra_fields=extra,
        )
    else:
        U.write_manifest(
            dst_dir, v, own, merged.schema.json(), "upsert", parent=cur,
            extra_fields=extra,
        )
    U._stamp_marker(dst_dir, v, marker)
    U._finalize_commit(dst_dir, v, cur)
    return v


def resolve_restamp_marker(dst_dir: str, op: str) -> str:
    """Full name of the newest ``_SRC_``-family watermark marker on
    ``dst_dir`` — the value every maintenance REWRITE (:func:`rebucket`,
    the index rebuckets, ANN retrain) must re-stamp verbatim on its own
    commit so a later vacuum of the marker's original version can't break
    the exactly-once refresh contract. The prefix match covers the whole
    family (``_SRC_`` and the join view's dual ``_SRCJ_``), so whichever
    watermark kind this table's refresher reads is the one preserved.
    Raises (naming the refusing ``op``) when no marker exists: a rewrite
    without a watermark to carry would leave the next refresh unable to
    prove which source versions are already folded in.

    Only the REAL watermark families match — ``_SRC_`` and ``_SRCJ_`` —
    never the ``_SRCSTEP_`` append-step markers the LSH/BM25 folds stamp
    mid-refresh (deliberately named to NOT be watermarks): re-stamping a
    step marker instead of a watermark would leave the rewrite commit
    with no ``_SRC_`` entry, and after a vacuum of the older versions
    the next refresh would re-fold every source version (r11 advice)."""
    try:
        for v, raw in U.chain_desc(dst_dir):
            for name in U.version_markers(dst_dir, v, raw=raw):
                if name.startswith(_SRC_MARK) or name.startswith("_SRCJ_"):
                    return name
    except FileNotFoundError:
        pass
    raise ValueError(
        f"{dst_dir}: no _SRC watermark marker found to re-stamp — "
        f"refusing to {op} (a follow-up refresh could not prove "
        "exactly-once); refresh once first"
    )


def rebucket(spark: SparkSession, dst_dir: str, n_buckets: int) -> str | None:
    """Re-seed a KEYED derived table (aggregate, distinct support, or the
    join-view composites — anything committed through :func:`_commit_keyed`)
    at a new bucket count: one full read through the current snapshot
    (deletion vectors and schema maps materialize away, the heal path's
    contract) + one bucketed rewrite + a fresh full manifest recording the
    new layout, with the current ``_SRC_``-family watermark RE-STAMPED so
    exactly-once refresh survives. Keyed folds resume at the new count on
    the next refresh — without this, a table seeded at 8 buckets that
    grew 1000× could only rebuild by hand (:func:`_resolve_buckets`
    correctly refuses a mismatched ``dst_buckets`` parameter).

    Sizing rule of thumb (see :func:`refresh_aggregate`): buckets ≈
    group-cardinality rows / (a few hundred MB of aggregate rows), so a
    trickle delta rewrites a bounded slice. No-op (returns None) when the
    table already has the requested count. Refreshes are single atomic
    commits, so there is no mid-refresh state to race: a concurrent
    refresh and a rebucket serialize on the version slot like any two
    writers."""
    rec_buckets, gcols = agg_layout(dst_dir)
    if gcols is None:
        raise ValueError(
            f"{dst_dir}: not a keyed derived table (no recorded bucket "
            "layout) — seed one by passing dst_buckets to its refresh"
        )
    if rec_buckets is not None and int(rec_buckets) == int(n_buckets):
        return None
    marker = resolve_restamp_marker(dst_dir, "rebucket")
    merged = U.read_table(spark, dst_dir)
    return _commit_keyed(merged, dst_dir, list(gcols), int(n_buckets), marker)


def advance_watermark(dst_dir: str, marker: str) -> str:
    """O(1) watermark-only commit: feed-less source versions (compactions,
    maintenance) advance the ``_SRC_``-family marker with an EMPTY manifest
    delta — no data files written, never a table rewrite. Deletion
    vectors, schema maps and snapshot-scoped extras carry exactly like a
    metadata-only append."""
    from spookystuff_spark import fsio

    cur = U._latest(dst_dir)
    raw = U._read_manifest_raw(dst_dir, cur) or {}
    extra: dict = {}
    if raw.get("dv"):
        extra.update({"dv": raw["dv"], "dv_keys": raw["dv_keys"]})
    v = U._next_version(dst_dir)
    fsio.mkdirs(fsio.join(dst_dir, v))
    extra.update(U._schema_map_fields(raw))
    # NOT carrying "markers": the advance's own marker must be the tip
    # version's newest — a carried older _SRC_ entry would precede it in
    # the manifest index and newest_marker would answer stale
    extra.update(
        U.carry_extra_fields(
            raw, exclude=("renames", "rename_log", "drops", "markers")
        )
    )
    U.write_manifest_delta(
        dst_dir, v, cur, (), (), raw.get("schema"), "append",
        parent=cur, extra_fields=extra or None,
    )
    U._stamp_marker(dst_dir, v, marker)
    U._finalize_commit(dst_dir, v, cur)
    return v


def insert_only_runs(
    src_dir: str, pending: Sequence[str], meta_cache: dict
) -> list[list[str]]:
    """Group a pending-version backlog into per-fold RUNS for the index
    refreshes' replay loops (ANN/BM25/LSH): contiguous ``append``-kind
    commits — pure insert feeds by the writer's contract — batch into ONE
    fold, so a source that committed K crawl batches between refreshes
    pays one signature/tokenize pass and one index commit instead of K
    Spark jobs. Every other kind (upsert, delete, rename, drop, restore,
    compact, ...) stays a single-version run, keeping the per-version
    soundness checks and the delete/mixed crash healing exactly as before.
    Kind comes from the RAW manifest via the replay's shared
    ``meta_cache`` memo — zero extra metadata reads."""
    raws = meta_cache.setdefault("raws", {})
    runs: list[list[str]] = []
    cur: list[str] = []
    for v in pending:
        if v not in raws:
            raws[v] = U._read_manifest_raw(src_dir, v) or {}
        if raws[v].get("kind") == "append":
            cur.append(v)
        else:
            if cur:
                runs.append(cur)
                cur = []
            runs.append([v])
    if cur:
        runs.append(cur)
    return runs


def feed_has_duplicate_ids(changes: DataFrame, id_col: str) -> bool:
    """True when any id appears more than once in a (batched) insert
    feed. A batched fold of K append versions is only guaranteed
    value-identical to the per-version replay when no id repeats across
    them (duplicate appends of one doc would collapse in a batched
    tokenize/stats pass where per-version replay appends both) — the
    refresh loops fall back to per-version on a hit. One cheap
    aggregation over the batch."""
    return bool(
        changes.groupBy(F.col(id_col).alias("__id"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") > 1)
        .limit(1)
        .count()
    )


def newest_marker(dst_dir: str, prefix: str) -> str | None:
    """Suffix of the newest committed marker starting with ``prefix``,
    walking committed versions newest-first — the shared primitive behind
    the ``_SRC_`` watermark family (aggregate IVM here, the join view's
    dual ``_SRCJ_`` marker, index refresh watermarks). None when no marker
    or no table. The walk is LAZY and newest-first (``upsert.chain_desc``)
    and each step answers from the manifest's ``markers`` index — a
    marker on or near the tip (the refresh steady state, since every
    refresh stamps its commit and maintenance carries the index) costs
    one or two raw-manifest reads, never an O(history) chain
    materialization or a directory listing per version."""
    try:
        for v, raw in U.chain_desc(dst_dir):
            for name in U.version_markers(dst_dir, v, raw=raw):
                if name.startswith(prefix):
                    return name[len(prefix):]
    except FileNotFoundError:
        return None
    return None


def last_processed_version(dst_dir: str) -> str | None:
    """Newest source version a committed refresh of ``dst_dir`` covers."""
    return newest_marker(dst_dir, _SRC_MARK)


def _changes_since(
    spark: SparkSession,
    src_dir: str,
    after: str | None,
    requested_cols: Sequence[str] | None = None,
    until: str | None = None,
    meta_cache: dict | None = None,
) -> tuple[DataFrame | None, str | None]:
    """(all feed rows of versions > after with ``_change`` filled, newest
    version seen). None frame when nothing new. ``until`` caps the fold
    range to (after, until] — the per-VERSION replay the index refreshes
    use so a crash heals by skipping already-covered versions instead of
    re-folding a batch whose extent changed under it; rename translation
    still scans past ``until`` so capped feeds arrive under the CURRENT
    column names either way.

    Per-version soundness check: an ``upsert`` feed on any version except
    the table's FIRST (the pure-insert baseline) may hide updates whose
    old values the fold cannot subtract unless preimage rows accompany it
    — such a version raises instead of drifting silently.

    RENAME commits inside the fold range are tolerated: a metadata-only
    rename is value-preserving, so feeds older than the rename simply have
    their columns translated to the current names (per the rename commit's
    event) instead of stranding every downstream IVM/ANN/BM25 index until
    a full rebuild. DROP commits raise only when the dropped column is
    actually CONSUMED by the fold — pass ``requested_cols`` (what the
    consumer folds: group/sum columns, the vector column, the text
    column); dropping anything else just stops appearing in newer feeds.
    With ``requested_cols=None`` (consumption unknown) every drop refuses,
    the conservative behavior — a consumer folding the dropped
    column would silently treat post-drop feeds as null contributions.

    ``meta_cache``: an empty dict a PER-VERSION replay loop (the index
    refreshes) passes to every call of one refresh — the committed
    listing and raw manifests memoize there, so replaying a P-version
    backlog costs O(P) metadata reads instead of O(P²) (each call's
    pre-pass spans the FULL post-watermark range, not just ``until``).
    Committed manifests are immutable, so the memo is always current."""
    frames = []
    newest = None
    if meta_cache is not None:
        # the memo keys are version strings only — a dict accidentally
        # shared across two sources would serve the other table's
        # manifests with no error; bind the cache to its source on first
        # use and refuse any other
        owner = meta_cache.setdefault("_src_dir", src_dir)
        if owner != src_dir:
            raise ValueError(
                f"meta_cache is bound to {owner!r} but was passed for "
                f"{src_dir!r} — use one cache dict per source table"
            )
    if meta_cache is not None and "committed" in meta_cache:
        committed = meta_cache["committed"]
    else:
        committed = U.committed_versions(src_dir)
        if meta_cache is not None:
            meta_cache["committed"] = committed
    first = committed[0] if committed else None
    past_after = [
        v
        for v in committed
        if after is None or U._vnum(v) > U._vnum(after)
    ]
    in_range = [
        v
        for v in past_after
        if until is None or U._vnum(v) <= U._vnum(until)
    ]
    # one raw-manifest read per post-watermark version, shared by the
    # rename-event pre-pass (which must see renames PAST `until` too, so
    # capped feeds still translate to current names) and the fold loop —
    # memoized across a replay loop's calls via meta_cache
    raw_memo = (
        meta_cache.setdefault("raws", {}) if meta_cache is not None else {}
    )
    raws = {}
    for v in past_after:
        if v not in raw_memo:
            raw_memo[v] = U._read_manifest_raw(src_dir, v) or {}
        raws[v] = raw_memo[v]
    # rename events after the watermark, chronological — applied to FEEDS
    # older than each event below
    events: list[dict] = []
    for v in past_after:
        m = raws[v]
        if m.get("kind") == "rename":
            events.append(m["rename_log"][-1])
    for v in in_range:
        newest = v
        m = raws[v]
        if m.get("kind") == "drop":
            # the commit's OWN drops = cumulative list minus the parent's
            parent = m.get("parent")
            praw = raws.get(parent) or (
                U._read_manifest_raw(src_dir, parent) if parent else None
            ) or {}
            dropped_here = set(m.get("drops") or ()) - set(
                praw.get("drops") or ()
            )
            consumed = (
                dropped_here
                if requested_cols is None
                else dropped_here & set(requested_cols)
            )
            if consumed:
                raise ValueError(
                    f"{src_dir}/{v}: column(s) {sorted(consumed)} dropped "
                    "inside the fold range are consumed by this fold — a "
                    "fold across the drop would silently null-fill them; "
                    "rebuild derived views/indexes from the new schema"
                )
            # unconsumed drop: older feeds still carry the column, newer
            # ones lack it — unionByName null-fills and no consumer reads
            # it, so the fold continues
        files, kind = U.change_files(src_dir, v)
        if not files:
            if m.get("kind") == "restore":
                # a rollback IS a logical change; skipping it like a
                # compaction would freeze every consumer at the
                # pre-restore state forever — silent permanent drift
                raise ValueError(
                    f"{src_dir}/{v}: restore commit without a change feed "
                    "— the fold cannot see the rollback; use "
                    "restore(..., spark=, key_cols=) to emit the diff "
                    "feed, or rebuild derived views/indexes"
                )
            continue  # compaction / no-feed commit: no logical change
        # schema resolved driver-side from the footers when possible —
        # the schema-inference job otherwise paid here is a fixed cost on
        # EVERY refresh of every IVM/index consumer (guide §1.2)
        df = U.read_parquet_pinned(spark, files)
        filled_kind = None
        if "_change" not in df.columns:
            filled_kind = kind or "insert"
            df = df.withColumn("_change", F.lit(filled_kind))
        # translate pre-rename feeds to the current column names
        for ev in events:
            if U._vnum(ev["v"]) > U._vnum(v) and ev["old"] in df.columns:
                df = df.withColumnRenamed(ev["old"], ev["new"])
        if v != first:
            # kinds from metadata — a reference feed's column is the
            # literal we just filled, and row feeds record their writer's
            # exact kind set — so the soundness check costs zero Spark jobs
            kinds = (
                {filled_kind}
                if filled_kind is not None
                else U.feed_kinds(src_dir, v)
            )
            unknown = kinds - set(_POS) - set(_NEG)
            if unknown:
                raise ValueError(
                    f"{src_dir}/{v}: feed kinds {sorted(unknown)} the "
                    "incremental fold cannot apply"
                )
            if "upsert" in kinds and "update_preimage" not in kinds:
                # an insert-only preimage-logged batch has zero preimage
                # ROWS; the _PREIMAGED sidecar distinguishes it from a feed
                # that never logged them (which would drift)
                from spookystuff_spark import fsio

                preimaged = fsio.exists(
                    fsio.join(src_dir, v, U._CHANGES, U._PREIMAGED)
                )
                if not preimaged:
                    raise ValueError(
                        f"{src_dir}/{v}: upsert feed without preimage rows — "
                        "maintain the source with upsert(..., "
                        "feed_preimages=True) to make it incrementally "
                        "foldable"
                    )
        frames.append(df)
    if not frames:
        return None, newest
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out, newest


def refresh_aggregate(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    src_partition_col: str | None = None,
    dst_buckets: int | None = None,
    sumsq_cols: Sequence[str] = (),
) -> str | None:
    """Fold source changes since the last refresh into the derived
    aggregate table at ``dst_dir`` (schema: group_cols, ``<c>_sum`` per sum
    col, ``<c>_sumsq`` per sumsq col, ``<c>_min``/``<c>_max`` per min/max
    col, ``n_rows``). Returns the
    new derived version, or None if the source had nothing new. Groups
    whose count reaches zero are removed.

    ``sumsq_cols``: additionally maintain ``SUM(c*c)`` per listed column
    as ``<c>_sumsq`` — with ``<c>_sum`` and ``n_rows`` this derives
    population variance/stddev at read time (:func:`with_derived_stats`).
    Squares of integral/decimal columns accumulate in exact decimal
    arithmetic (like DuckDB's hugeint sums), so the incremental fold is
    bit-identical to a closed-form recompute — a floating accumulator
    would drift under long retraction schedules; floating columns sum in
    double (scale to integer cents first for exact money variance, see
    :func:`_sq_expr`).

    Sums and counts fold exactly from signed deltas on ANY feed. Mins and
    maxes don't decompose under subtraction (deleting a group's current
    minimum leaves no way to know the runner-up from the feed alone), so a
    batch containing preimage/delete rows triggers TARGETED RE-DERIVATION
    for just the AFFECTED groups (those with negative rows): their min/max
    is recomputed from the current source snapshot restricted to those
    groups — O(affected groups' rows), never a full recompute — while
    unaffected groups keep folding insert-side extremes. When the source
    is a partitioned table laid out BY the (single) group column, pass
    ``src_partition_col`` and the rescan reads only the affected
    partitions' files via the manifest (zero IO for everything else);
    otherwise the rescan is a semi-join-filtered scan (still one pass,
    column-pruned).

    ``dst_buckets``: lay the DERIVED table out by a hash bucket of the
    group key (``__part=<bucket>`` hive layout, the bucket never stored in
    the files) and fold each refresh against ONLY the buckets the delta
    touches — the rewrite is O(touched buckets) data and manifest IO, not
    O(group cardinality). At 100 TB a per-URL/per-doc aggregate has
    billions of groups; rewriting them all to fold a one-row delta is the
    scale-killer this kills. The layout is recorded in the manifest and
    re-detected on every refresh (the parameter then only cross-checks; a
    mismatched explicit value raises — re-bucketing is a rebuild, not a
    drift). A maintenance commit that flattened the layout (plain
    ``compact``) HEALS on the next refresh with one full bucketed
    rewrite. Feed-less source versions advance the watermark with an
    empty O(1) commit in either mode.

    Choosing ``dst_buckets`` (each refresh rewrites every touched bucket
    whole, so size buckets to a comfortable rewrite unit, ~100-500 MB of
    aggregate rows)::

        group cardinality     dst_buckets
        ------------------    -----------
        < ~1M groups          None (full rewrite is the cheaper plan)
        ~1M - 100M            8 - 64
        ~100M - 10B           256 - 4096
        > 10B                 8192+

    A warning is logged when a refresh keeps touching more than half the
    buckets — the signal the layout is too coarse for the delta shape;
    :func:`rebucket` re-seeds an existing table at a new count."""
    after = last_processed_version(dst_dir)
    changes, newest = _changes_since(
        spark, src_dir, after,
        requested_cols=[
            *group_cols, *sum_cols, *sumsq_cols, *min_cols, *max_cols
        ],
    )
    if newest is None:
        return None  # nothing new

    gcols = list(group_cols)
    n_buckets, keyed_layout = _resolve_buckets(dst_dir, gcols, dst_buckets)
    want_minmax = bool(min_cols or max_cols)
    persisted = changes is not None and bool(
        want_minmax or n_buckets is not None
    )
    pinned = None
    try:
        affected = None
        if changes is not None:
            is_neg = F.col("_change").isin(*_NEG)
            sign = F.when(F.col("_change").isin(*_POS), F.lit(1)).otherwise(
                F.lit(-1)
            )
            # min/max fold over INSERT-side rows only: negative rows are
            # handled by the targeted re-derivation below. The retraction
            # probe rides the SAME aggregation as a per-group `_has_neg`
            # flag (no separate feed-DAG job): affected groups read off
            # the aggregated — and persisted — delta.
            pos_val = lambda c: F.when(~is_neg, F.col(c))  # noqa: E731
            delta = changes.groupBy(*gcols).agg(
                *[
                    F.sum(F.col(c) * sign).alias(f"{c}_sum")
                    for c in sum_cols
                ],
                *[
                    F.sum(_sq_expr(changes, c) * sign).alias(f"{c}_sumsq")
                    for c in sumsq_cols
                ],
                *[F.min(pos_val(c)).alias(f"{c}_min") for c in min_cols],
                *[F.max(pos_val(c)).alias(f"{c}_max") for c in max_cols],
                F.sum(sign).alias("n_rows"),
                *(
                    [F.max(is_neg).alias("_has_neg")]
                    if want_minmax
                    else []
                ),
            )
            if persisted:
                # the affected probe, touched-bucket collect, rescan and
                # final commit each re-evaluate the delta — pin the
                # AGGREGATED frame (O(touched groups) rows, not the feed)
                pinned = delta = delta.persist()
        else:
            delta = None  # only feed-less versions: watermark-only advance

        marker = f"{_SRC_MARK}{newest}"
        if delta is None:
            # feed-less source versions: an O(1) empty marker commit when the
            # table exists (never a rewrite), nothing to advance otherwise
            from spookystuff_spark import fsio

            if fsio.is_dir(dst_dir) and U._latest(dst_dir) is not None:
                return advance_watermark(dst_dir, marker)
            return None

        # the retraction probe rides the touched-bucket collect when the
        # keyed path runs (ONE job answers both — r12 verdict #4); only
        # the non-keyed min/max path still pays a separate probe job
        current, touched, cur, rel, fused_neg = _keyed_slice(
            spark, dst_dir, delta, gcols, n_buckets, keyed_layout,
            neg_col="_has_neg" if want_minmax else None,
        )
        if want_minmax:
            if fused_neg is None:
                aff = delta.where(F.col("_has_neg")).select(*gcols)
                if aff.limit(1).count():
                    affected = aff
            elif fused_neg:
                affected = delta.where(F.col("_has_neg")).select(*gcols)
        if "_has_neg" in delta.columns:
            delta = delta.drop("_has_neg")

        if current is not None:
            # a refresh that silently NARROWS the maintained column set
            # (a later call omitting sumsq_cols, or any agg-col family)
            # would rewrite touched buckets without the column — in keyed
            # layout that leaves mixed bucket schemas and a manifest
            # claiming the narrower one, losing the statistic; a WIDENED
            # set can't backfill history from a delta either — both must
            # rebuild, so any mismatch refuses
            expected = {
                *gcols,
                *(f"{c}_sum" for c in sum_cols),
                *(f"{c}_sumsq" for c in sumsq_cols),
                *(f"{c}_min" for c in min_cols),
                *(f"{c}_max" for c in max_cols),
                "n_rows",
            }
            have = set(current.columns)
            if have != expected:
                raise ValueError(
                    f"{dst_dir}: maintained columns {sorted(have)} don't "
                    f"match this refresh's aggregate set {sorted(expected)}"
                    " — changing the maintained statistics requires "
                    "rebuilding the derived table"
                )
        if current is None:
            merged = delta
        else:
            d = delta.select(
                *gcols,
                *[F.col(f"{c}_sum").alias(f"_d_{c}_sum") for c in sum_cols],
                *[
                    F.col(f"{c}_sumsq").alias(f"_d_{c}_sumsq")
                    for c in sumsq_cols
                ],
                *[F.col(f"{c}_min").alias(f"_d_{c}_min") for c in min_cols],
                *[F.col(f"{c}_max").alias(f"_d_{c}_max") for c in max_cols],
                F.col("n_rows").alias("_d_n"),
            )
            # NULL-SAFE key match: a full-outer equi-join never matches
            # NULL = NULL, so a NULL-keyed group's delta would miss its
            # current row, split into two rows, and the n_rows filter would
            # silently drop the retraction half — permanent drift
            joined = current.join(
                d, _null_safe_key_cond(current, d, gcols), "full_outer"
            )
            merged = joined.select(
                *[F.coalesce(current[g], d[g]).alias(g) for g in gcols],
                *[
                    (
                        F.coalesce(F.col(f"{c}_sum"), F.lit(0))
                        + F.coalesce(F.col(f"_d_{c}_sum"), F.lit(0))
                    ).alias(f"{c}_sum")
                    for c in sum_cols
                ],
                *[
                    (
                        F.coalesce(F.col(f"{c}_sumsq"), F.lit(0))
                        + F.coalesce(F.col(f"_d_{c}_sumsq"), F.lit(0))
                    ).alias(f"{c}_sumsq")
                    for c in sumsq_cols
                ],
                *[
                    # least/greatest return null only when BOTH sides are null;
                    # a group present on one side only keeps its own extreme
                    F.coalesce(
                        F.least(F.col(f"{c}_min"), F.col(f"_d_{c}_min")),
                        F.col(f"{c}_min"),
                        F.col(f"_d_{c}_min"),
                    ).alias(f"{c}_min")
                    for c in min_cols
                ],
                *[
                    F.coalesce(
                        F.greatest(F.col(f"{c}_max"), F.col(f"_d_{c}_max")),
                        F.col(f"{c}_max"),
                        F.col(f"_d_{c}_max"),
                    ).alias(f"{c}_max")
                    for c in max_cols
                ],
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("_d_n"), F.lit(0))
                ).alias("n_rows"),
            )
        merged = merged.where(F.col("n_rows") > 0)

        if affected is not None:
            # targeted re-derivation: recompute min/max for ONLY the groups the
            # negative rows touched, from the current source snapshot restricted
            # to those groups — the authoritative value after any mix of
            # updates/deletes; every other group keeps its folded extremes
            vals = None
            if src_partition_col and gcols == [src_partition_col]:
                # bounded driver pull: limit(N+1) caps the collect structurally
                # — a backfill-sized delete (more affected groups than
                # AFFECTED_PARTS_MAX) falls through to the one-pass null-safe
                # semi-join scan below, nothing further collected
                rows = affected.limit(AFFECTED_PARTS_MAX + 1).collect()
                if len(rows) <= AFFECTED_PARTS_MAX:
                    vals = [r[0] for r in rows]
            if vals is not None and not any(v is None for v in vals):
                from spookystuff_spark.sources.partitioned_table import (
                    read_table_partitions,
                )

                # PINNED to the version the fold covers: a concurrent source
                # commit after `newest` must not leak into this refresh's
                # min/max while its sums/counts reflect the watermark (the
                # join-aggregate rescan pins its snapshots the same way)
                src_slice = read_table_partitions(
                    spark, src_dir, vals, version=newest
                )
            else:
                # unpartitioned source, composite group key, or a NULL-keyed
                # affected group (a NULL has no ``__part=`` path segment to
                # enumerate): null-safe semi-join scan, one pass
                src = U.read_table(spark, src_dir, version=newest)
                src_slice = src.join(
                    affected,
                    _null_safe_key_cond(src, affected, gcols),
                    "leftsemi",
                )
            rescan = src_slice.groupBy(*gcols).agg(
                *[F.min(c).alias(f"_r_{c}_min") for c in min_cols],
                *[F.max(c).alias(f"_r_{c}_max") for c in max_cols],
            )
            merged = _apply_rescan(
                merged, rescan, affected, gcols, sum_cols, min_cols, max_cols,
                sumsq_cols=sumsq_cols,
            )

        # the derived table is itself a versioned table; the _SRC_ marker rides
        # its atomic commit, making the refresh exactly-once per source version
        if n_buckets is not None:
            return _commit_keyed(
                merged, dst_dir, gcols, n_buckets, marker,
                touched=touched, cur=cur, rel=rel,
            )
        return U.write_table(merged, dst_dir, marker=marker, change_feed=False)
    finally:
        if pinned is not None:
            pinned.unpersist()


def refresh_distinct(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    dst_buckets: int | None = None,
) -> str | None:
    """Fold source changes into a COUNT(DISTINCT ``value_col``) support
    table at ``dst_dir`` — the Z-set that makes distinct counts EXACTLY
    incremental under deletes, where min/max need a rescan: the table
    holds one row per live (group, value) pair with its multiplicity
    ``_n`` (how many source rows currently carry that value in that
    group). A delete decrements ``_n``; the pair leaves the support set
    only when its count reaches zero — so the distinct count never needs
    the source again, for ANY feed mix. Read the aggregate itself with
    :func:`read_distinct_aggregate` (one groupBy over the support table).

    Same contract as :func:`refresh_aggregate`: exactly-once per source
    version via the ``_SRC_`` marker, preimage-logged upserts required,
    feed-less versions advance the watermark with an O(1) commit. With
    ``dst_buckets`` the support table is laid out by a hash bucket of the
    GROUP key (all of a group's values co-located), and each refresh
    rewrites only the buckets its delta touches — at 100 TB a per-domain
    distinct-URL table has billions of support rows, and a trickle delta
    must not rewrite them all. Support cardinality is O(live distinct
    pairs), the same order as the exact distinct count itself; callers
    needing a bounded sketch instead use the HLL/KMV operators.

    Reference scope: the reference has no derived-table machinery; this
    is the standard counted-multiset view-maintenance construction
    (public DBSP/Z-set semantics), composed with the repo's lakehouse."""
    gcols = list(group_cols)
    if value_col in gcols:
        raise ValueError(
            f"value_col {value_col!r} is also a group column — a distinct "
            "count over the group key is constant 1 per group"
        )
    fold_key = [*gcols, value_col]
    after = last_processed_version(dst_dir)
    changes, newest = _changes_since(
        spark, src_dir, after, requested_cols=fold_key
    )
    if newest is None:
        return None  # nothing new

    n_buckets, keyed_layout = _resolve_buckets(dst_dir, gcols, dst_buckets)
    marker = f"{_SRC_MARK}{newest}"
    if changes is None:
        # feed-less source versions: an O(1) empty marker commit when the
        # table exists, nothing to advance otherwise
        from spookystuff_spark import fsio

        if fsio.is_dir(dst_dir) and U._latest(dst_dir) is not None:
            return advance_watermark(dst_dir, marker)
        return None

    sign = F.when(F.col("_change").isin(*_POS), F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = (
        changes.groupBy(*fold_key)
        .agg(F.sum(sign).alias("_dn"))
        .where(F.col("_dn") != 0)  # an update leaving the value unchanged
    )

    persisted = keyed_layout
    if persisted:
        # the touched-bucket collect and the commit both evaluate the
        # delta DAG (one full feed read each) - pin it once
        delta = delta.persist()
    try:
        current, touched, cur, rel, _ = _keyed_slice(
            spark, dst_dir, delta, gcols, n_buckets, keyed_layout
        )

        merged = _fold_support(current, delta, fold_key)

        if n_buckets is not None:
            return _commit_keyed(
                merged, dst_dir, gcols, n_buckets, marker,
                touched=touched, cur=cur, rel=rel,
            )
        return U.write_table(merged, dst_dir, marker=marker, change_feed=False)
    finally:
        if persisted:
            delta.unpersist()


def with_derived_stats(
    df: DataFrame,
    avg_cols: Sequence[str] = (),
    var_cols: Sequence[str] = (),
) -> DataFrame:
    """Append read-time derived statistics to a :func:`refresh_aggregate`
    table: ``<c>_avg`` (= sum/n) per ``avg_cols`` entry, and
    ``<c>_var``/``<c>_std`` (population variance E[c²]−E[c]² and its
    square root) per ``var_cols`` entry — the latter require the table to
    have been maintained with ``sumsq_cols``. Derivation happens on the
    exact integer accumulators at read time, so incremental and
    closed-form tables derive identical values; the variance is clamped
    at zero before the square root (the subtraction can land a hair
    negative in floating point for constant columns)."""
    for c in avg_cols:
        df = df.withColumn(
            f"{c}_avg",
            F.col(f"{c}_sum").cast("double") / F.col("n_rows"),
        )
    for c in var_cols:
        mean = F.col(f"{c}_sum").cast("double") / F.col("n_rows")
        df = df.withColumn(
            f"{c}_var",
            F.greatest(
                F.col(f"{c}_sumsq").cast("double") / F.col("n_rows")
                - mean * mean,
                F.lit(0.0),
            ),
        ).withColumn(f"{c}_std", F.sqrt(F.col(f"{c}_var")))
    return df


def read_distinct_aggregate(
    spark: SparkSession,
    dst_dir: str,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """The distinct-count aggregate a :func:`refresh_distinct` support
    table maintains: per group, ``<value_col>_distinct`` (live distinct
    non-NULL values — ``COUNT(DISTINCT v)``'s NULL-excluding semantics;
    each support row IS one distinct value, so this is a row count, not a
    distinct-aggregate) and ``n_rows`` (total live source rows, NULLs
    included — the sum of multiplicities). One O(support) groupBy; with a
    keyed layout a caller slicing to specific groups can instead read
    just their buckets via ``read_table_partitions``."""
    sup = U.read_table(spark, dst_dir)
    return sup.groupBy(*group_cols).agg(
        F.count(F.col(value_col)).alias(f"{value_col}_distinct"),
        F.sum("_n").alias("n_rows"),
    )


def read_topk_values(
    spark: SparkSession,
    dst_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 10,
) -> DataFrame:
    """EXACT top-k most frequent values per group from a
    :func:`refresh_distinct` support table — heavy hitters maintained
    incrementally as a byproduct of the distinct Z-set (each support row
    already carries the value's live multiplicity, folded exactly under
    deletes), where the sketch path (operators/heavy.py Misra-Gries) is
    approximate and batch-only. One rank window over the support table
    (O(support), no corpus scan); ties break by value for a total order;
    NULL values are excluded (no frequency semantics). Output: group
    cols, the value, ``_n`` (its live count), ``rank``."""
    from pyspark.sql.window import Window

    sup = U.read_table(spark, dst_dir).where(F.col(value_col).isNotNull())
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_n").desc(), F.col(value_col).asc()
    )
    return sup.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= int(k)
    )


def read_percentiles(
    spark: SparkSession,
    dst_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    ps: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group percentiles from a :func:`refresh_distinct` support
    table — ``PERCENTILE_DISC`` maintained incrementally as ANOTHER read
    of the same counted Z-set (like :func:`read_topk_values`): the support
    rows already carry every live value's multiplicity folded exactly
    under deletes, so quantiles — which sketches only approximate and
    min/max-style IVM can't survive deletes for — come from one
    cumulative window over the support set, O(support), no corpus scan.

    Semantics: for each ``p``, the smallest live value whose cumulative
    live-row share reaches ``p`` (``percentile_disc(p) WITHIN GROUP
    (ORDER BY value)``, NULLs excluded). The cut ``cum/total ≥ p`` is
    decided in exact integer arithmetic (p as parts-per-million, cross-
    multiplied), so the chosen value is bit-reproducible against any
    independent replica — no float-boundary flakes at exact quantile
    positions. Long-range note: ``cum × 10⁶`` stays inside int64 up to
    ~9×10¹² live rows per group. Output: group cols, ``p`` (double),
    ``value``."""
    from pyspark.sql.window import Window

    sup = U.read_table(spark, dst_dir).where(F.col(value_col).isNotNull())
    wcum = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    wtot = Window.partitionBy(*group_cols)
    aug = sup.select(
        *group_cols,
        value_col,
        F.sum("_n").over(wcum).alias("_cum"),
        F.sum("_n").over(wtot).alias("_tot"),
    )
    ppms = F.explode(
        F.array(
            *[F.lit(int(round(p * 1_000_000))).cast("long") for p in ps]
        )
    ).alias("_ppm")
    return (
        aug.select(*group_cols, value_col, "_cum", "_tot", ppms)
        .where(F.col("_cum") * F.lit(1_000_000) >= F.col("_ppm") * F.col("_tot"))
        .groupBy(*group_cols, "_ppm")
        .agg(F.min(value_col).alias("value"))
        .select(
            *group_cols,
            (F.col("_ppm").cast("double") / 1e6).alias("p"),
            "value",
        )
    )


def streaming_refresh_sink(
    src_dir: str,
    dst_dir: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    **refresh_kwargs,
):
    """``foreachBatch`` body turning the ``spooky_versioned`` CDC stream
    into a CONTINUOUSLY-maintained aggregate: every micro-batch triggers
    :func:`refresh_aggregate`. The batch DataFrame is only the trigger —
    the fold reads the feed itself from the ``_SRC_`` watermark, so
    replayed micro-batches, overlapping triggers and stream restarts are
    all naturally exactly-once (the watermark, not the stream checkpoint,
    is the source of truth).

    Usage::

        (spark.readStream.format("spooky_versioned")
           .option("path", src).option("changeFeed", "true").load()
           .writeStream
           .foreachBatch(streaming_refresh_sink(src, dst, ["g"], ["v"]))
           .start())
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        refresh_aggregate(
            batch_df.sparkSession,
            src_dir,
            dst_dir,
            group_cols,
            sum_cols,
            **refresh_kwargs,
        )

    return sink


def streaming_distinct_sink(
    src_dir: str,
    dst_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    **refresh_kwargs,
):
    """``foreachBatch`` body keeping a :func:`refresh_distinct` support
    table continuously fresh from the ``spooky_versioned`` CDC stream —
    the :func:`streaming_refresh_sink` idiom for distinct counts: the
    micro-batch is only the trigger, the ``_SRC_`` watermark makes
    replays and restarts exactly-once."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        refresh_distinct(
            batch_df.sparkSession,
            src_dir,
            dst_dir,
            group_cols,
            value_col,
            **refresh_kwargs,
        )

    return sink
