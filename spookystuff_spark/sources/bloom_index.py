"""Per-file bloom-filter index for point lookups on arbitrary columns
(the Delta bloom-filter-index idea, manifest-native).

Min/max stats (``upsert.attach_stats``) only skip files when the column
is clustered — on a shuffled column every file's [min, max] spans the
domain and nothing prunes. A bloom per (file, column) answers "is value
v DEFINITELY absent from this file?" regardless of layout, which is what
a 100 TB point lookup (`WHERE user_id = X`) needs when the table is laid
out by something else.

Build shape: one Arrow-vectorized pass — the two base hashes are JVM
expressions (``xxhash64``, ``crc32``), the k bit positions and the OR-fold
into the bit array are numpy inside one ``applyInPandas`` keyed by file
(one shuffle), and each task writes its file's sidecar EXECUTOR-SIDE
under ``<version>/_bloom/`` — only tiny spec rows (file name, m, k) ever
reach the driver, so attaching blooms to a million-file table costs the
driver O(files × ~100 B), never O(files × bitset). The manifest records
{entry: {col: {m, k, path}}} in the version that built it; readers
resolve chain-wise exactly like ``entry_stats`` — an inherited entry's
bloom lives in the manifest of the version that attached it. Writers can
also attach AT COMMIT TIME (``bloom_cols=`` on ``write_table`` /
``append_rows`` / the partitioned writers): the specs ride the same
atomic manifest commit, so fresh appends are point-lookup-prunable with
no second pass and no manifest rewrite.

Probe shape: the probed value's base hashes come from the SAME JVM
expressions (one 1-row job — no Python reimplementation of xxhash64 to
drift). With ≤ ``PROBE_DRIVER_MAX`` bloom-bearing candidates the driver
tests the k bits itself (a handful of tiny reads beats a Spark job);
above it the (path, m, k) spec rows ship to executors and a
``mapInPandas`` pass reads each task's slice of sidecars in parallel,
returning only surviving indexes — a million-file probe costs the driver
O(files × spec row), never a million serial small-object GETs. Either
way only maybe-present files reach the scan. Files without a usable bloom —
never attached, or the sidecar was vacuumed away with its version's
metadata — scan conservatively; deletion vectors apply like every other
reader; the residual equality filter applies either way, so a bloom
false positive costs IO, never correctness.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from spookystuff_spark import fsio
from spookystuff_spark.sources import upsert as U

_BLOOMS = "blooms"
_DIR = "_bloom"
#: {col: [{m, k, path, npos}]} — COMMIT-LEVEL aggregate blooms: one union
#: bitset over ALL values a manifest's per-file specs cover, consulted
#: BEFORE any per-file sidecar. A miss probe on a checkpointed table then
#: reads ≤ one small object per chain manifest instead of one per file.
_AGG_FIELD = "agg_blooms"
#: [col, ...] — columns with per-file specs recorded in THIS manifest.
#: The probe's coverage contract: ``col in bloom_spec_cols`` and ``col in
#: agg_blooms`` together mean every per-file spec for ``col`` in this
#: manifest is covered by the agg list; a manifest holding bloom storage
#: WITHOUT this key (pre-r9) disables the fast path conservatively.
_SPEC_COLS_FIELD = "bloom_spec_cols"

# Probes with at most this many bloom-bearing candidate files stay on the
# driver (a handful of tiny reads beats a Spark job). Above it the bit
# tests ship to executors — at 1M files the driver would otherwise issue
# 1M serial small-object GETs before the scan even plans.
PROBE_DRIVER_MAX = 100

#: Aggregate bloom size/k — m MUST be a power of two: the build computes
#: positions JVM-side with pmod over wrapped signed longs while the probe
#: uses numpy uint64 arithmetic, and the two agree exactly when (and only
#: when) m divides 2^64. 2^20 bits = 128 KiB, ~0.6% fpp at 150k distinct
#: values; union across commits degrades toward all-maybes (never wrong).
AGG_M_BITS = 1 << 20
AGG_K = 5


def _base_hash_cols(col: str):
    """(h1, h2) as JVM expressions — h2 forced odd so the double-hash
    stride is coprime with any power-of-two m."""
    h1 = F.xxhash64(F.col(col).cast("string")).cast("long")
    h2 = (F.crc32(F.col(col).cast("string")).cast("long") * 2 + 1).cast("long")
    return h1, h2


def _positions(h1: int, h2: int, m: int, k: int) -> np.ndarray:
    a = np.uint64(np.int64(h1))
    b = np.uint64(np.int64(h2))
    i = np.arange(k, dtype=np.uint64)
    return ((a + i * b) % np.uint64(m)).astype(np.int64)


def _params(n: int, fpp: float) -> tuple[int, int]:
    n = max(1, n)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def build_bloom_specs(
    spark: SparkSession,
    table_dir: str,
    version: str,
    entries: Sequence[str],
    cols: Sequence[str],
    fpp: float = 0.01,
) -> tuple[dict, dict]:
    """Build one bloom sidecar per (entry, col) under ``<version>/_bloom/``
    plus ONE commit-level AGGREGATE bloom per col (fixed power-of-two m —
    the union bitset over the whole batch's values), returning
    ``(per-file spec map {entry: {col: {m,k,path}}}, agg map {col:
    [spec]})``. The per-file sidecars are written INSIDE the
    ``applyInPandas`` tasks (executor-side, next to where the bits are
    folded) — the driver receives only (file, m, k, sidecar-name) spec
    rows, never a bitset, so the attach path's driver memory is O(files ×
    spec) at any table size; the aggregate's bit positions come back as a
    DISTINCT collect bounded by min(values·k, m) integers, never by table
    size. Sidecar names are a content hash of (full file path, column
    name) — unique per (file, col) even across a partitioned layout's
    ``__part=`` dirs (where Spark reuses task basenames) and across
    attach calls with different column lists."""
    import pandas as pd  # noqa: F401 (typing in the udf body)

    if not entries or not cols:
        return {}, {}
    full = [fsio.join(table_dir, e) for e in entries]
    by_suffix = {f: e for f, e in zip(full, entries)}
    # footer-resolved schema: skips the per-attach inference job (§1.2)
    df = U.read_parquet_pinned(spark, full)
    fsio.mkdirs(fsio.join(table_dir, version, _DIR))
    specs: dict = {}
    agg: dict = {}
    for col in cols:
        h1, h2 = _base_hash_cols(col)
        # NULLs never match an equality probe, so they contribute no bits
        # — and crc32(NULL) is NULL, which would crash the folds' int64
        # conversion (an all-NULL file simply gets no spec: the probe
        # keeps it as a candidate, false-positive-only as ever)
        hashed = df.where(F.col(col).isNotNull()).select(
            F.input_file_name().alias("_file"),
            h1.alias("_h1"),
            h2.alias("_h2"),
        )
        sidecar_base = fsio.join(table_dir, version, _DIR)

        def fold(pdf):
            import pandas as pd

            from spookystuff_spark import fsio as xfs

            n = len(pdf)
            mm, kk = _params(n, fpp)
            bits = np.zeros(mm // 8, dtype=np.uint8)
            a = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
            b = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
            for i in range(kk):
                pos = (a + np.uint64(i) * b) % np.uint64(mm)
                pos = pos.astype(np.int64)
                np.bitwise_or.at(
                    bits, pos // 8, (1 << (pos % 8)).astype(np.uint8)
                )
            fname = pdf["_file"].iloc[0]
            # name = content hash of (full path, COLUMN NAME): basenames
            # collide across a partitioned layout's __part= dirs (Spark
            # reuses part-NNNNN task names per dir) and positional column
            # indexes collide across attach calls with different column
            # lists — either collision overwrites a sibling's bits while
            # both specs still point at the file, turning the
            # false-positive-only contract into false NEGATIVES
            import hashlib

            digest = hashlib.md5(
                f"{fname}|{col}".encode()
            ).hexdigest()[:20]
            name = f"{digest}.bloom"
            # executor-side publish: the sidecar is immutable debris until
            # the manifest naming it commits — same crash story as data
            xfs.write_bytes(xfs.join(sidecar_base, name), bits.tobytes())
            return pd.DataFrame(
                {"_file": [fname], "m": [mm], "k": [kk], "name": [name]}
            )

        built_df = hashed.groupBy("_file").applyInPandas(
            fold, "_file string, m long, k long, name string"
        )  # spec rows only: O(files), no bitsets on the driver
        # commit-level aggregate: the k bit positions under the FIXED
        # (m, k) are computed JVM-side (the pmod chain keeps every
        # intermediate below 2^23 — no ANSI long overflow; power-of-two m
        # makes the signed pmod agree with the probe's uint64 arithmetic)
        # and OR-folded into the bitset INSIDE one executor task, which
        # publishes the sidecar itself — the driver receives one tiny
        # (npos, name) row, never positions or bitset bytes (the same
        # no-bytes-on-the-driver contract as the per-file sidecars)
        import hashlib

        mb = F.lit(AGG_M_BITS)
        pos_arr = F.array(*[
            F.pmod(
                F.pmod(F.col("_h1"), mb) + F.lit(i) * F.pmod(F.col("_h2"), mb),
                mb,
            )
            for i in range(AGG_K)
        ])
        digest = hashlib.md5(f"{version}|{col}".encode()).hexdigest()[:16]
        agg_name = f"agg_{digest}.bloom"
        agg_dest = fsio.join(table_dir, version, _DIR, agg_name)

        def agg_fold(batches):
            import pandas as pd

            from spookystuff_spark import fsio as xfs

            bits = np.zeros(AGG_M_BITS // 8, dtype=np.uint8)
            n = 0
            for pdf in batches:
                p = pdf["p"].to_numpy(dtype=np.int64)
                if len(p):
                    np.bitwise_or.at(
                        bits, p // 8, (1 << (p % 8)).astype(np.uint8)
                    )
                n += len(p)
            xfs.write_bytes(agg_dest, bits.tobytes())
            yield pd.DataFrame({"npos": pd.array([n], dtype="int64")})

        agg_df = (
            hashed.select(F.explode(pos_arr).alias("p"))
            .distinct()
            .repartition(1)  # ONE task owns the whole bitset fold
            .mapInPandas(agg_fold, "npos long")
        )
        # ONE action per column: the per-file spec branch and the aggregate
        # fold branch union into a single tagged collect (guide §1.2 — the
        # two separate collects paid a second action's fixed cost; the scan
        # count is unchanged, each branch reads the files once either way)
        rows = built_df.unionByName(
            agg_df, allowMissingColumns=True
        ).collect()
        built = [r for r in rows if r["_file"] is not None]
        folded_rows = [r for r in rows if r["_file"] is None]
        for r in built:
            # input_file_name returns a URI; match on the path suffix
            entry = next(
                e for f, e in by_suffix.items() if r["_file"].endswith(f)
            )
            specs.setdefault(entry, {})[col] = {
                "m": int(r["m"]),
                "k": int(r["k"]),
                "path": f"{version}/{_DIR}/{r['name']}",
            }
        agg[col] = [
            {
                "m": AGG_M_BITS,
                "k": AGG_K,
                "path": f"{version}/{_DIR}/{agg_name}",
                "npos": int(sum(r["npos"] for r in folded_rows)),
            }
        ]
    return specs, agg


def bloom_fields(
    spark: SparkSession,
    table_dir: str,
    version: str,
    own_entries: Sequence[str],
    cols: Sequence[str],
    fpp: float = 0.01,
) -> dict | None:
    """Manifest ``blooms`` (+ ``agg_blooms``/``bloom_spec_cols``)
    extra-fields for a commit's own files — the write-time auto-attach
    hook (the ``_stats_fields`` idiom): writers pass the result into
    their commit's ``extra_fields`` so fresh files are
    point-lookup-prunable the moment the commit lands, with no post-hoc
    manifest rewrite; the commit-level aggregate makes a miss probe skip
    this commit's per-file sidecars with one small read."""
    if not cols:
        return None
    specs, agg = build_bloom_specs(
        spark, table_dir, version, own_entries, cols, fpp
    )
    if not specs:
        return None
    return {
        _BLOOMS: specs,
        _AGG_FIELD: agg,
        _SPEC_COLS_FIELD: sorted(
            {c for per in specs.values() if per for c in per}
        ),
    }


def attach_blooms(
    spark: SparkSession,
    table_dir: str,
    cols: Sequence[str],
    fpp: float = 0.01,
) -> int:
    """Build blooms for the CURRENT version's OWN files (inherited entries
    keep the blooms their own version attached — resolve chain-wise via
    :func:`entry_blooms`) and record them in the manifest. Returns the
    number of (file, col) blooms written. Run at commit / OPTIMIZE time,
    like ``attach_stats`` — or skip the second pass entirely by passing
    ``bloom_cols=`` to the writer."""
    cur = U._latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = U.read_manifest(table_dir, cur)  # folded: own entries needed
    if m is None:
        raise FileNotFoundError(f"{cur} has no manifest")
    # outstanding renames don't block: the tip's OWN files always carry the
    # names current at the tip (post-rename appends write logical names),
    # so specs record under the logical name — exactly what the per-entry
    # probe translation resolves for entries owned by this commit
    own = [e for e in m["files"] if e.startswith(f"{cur}/")]
    if not own:
        return 0
    specs, agg = build_bloom_specs(spark, table_dir, cur, own, cols, fpp)
    # ONE atomic raw rewrite carrying the spec merge AND the agg/coverage
    # bookkeeping together: two writes would open a crash window in which
    # the manifest records the new per-file specs while bloom_spec_cols
    # still lists only the old columns — a later consolidated-chain probe
    # for the new column would then treat the tip as spec-free, skip its
    # files on an agg miss, and silently drop matching rows (false
    # negatives, the one failure class blooms must never have)
    raw = U._read_manifest_raw(table_dir, cur)
    if raw is None:
        raise FileNotFoundError(f"{cur} has no manifest")
    prior = raw.get(_SPEC_COLS_FIELD)
    had_storage = any(
        k in raw for k in (_BLOOMS, f"{_BLOOMS}_ref", U._ENTRIES_REF)
    )
    # per-entry MERGE (the _merge_field_into_raw semantics, inlined so the
    # agg update rides the same write): never clobber other columns' or a
    # checkpoint's consolidated specs
    recorded = U._field_of_raw(table_dir, raw, _BLOOMS)
    for e, rec in specs.items():
        cur_rec = recorded.get(e) or {}  # may hold a None (probed-absent)
        cur_rec.update(rec)
        recorded[e] = cur_rec
    raw.pop(_BLOOMS, None)
    raw.pop(f"{_BLOOMS}_ref", None)
    raw.update(U._field_fields(table_dir, cur, _BLOOMS, recorded))
    if prior is not None or not had_storage:
        built_cols = sorted(
            {c for per in specs.values() if per for c in per}
        )
        cur_agg = raw.get(_AGG_FIELD) or {}
        for c, lst in agg.items():
            cur_agg[c] = list(cur_agg.get(c) or ()) + list(lst)
        raw[_AGG_FIELD] = cur_agg
        raw[_SPEC_COLS_FIELD] = sorted(set(prior or ()) | set(built_cols))
    else:
        # prior coverage unknown (pre-r9 storage): the spec set just grew
        # beyond anything a stale claim describes — drop the agg keys so
        # the fast path bails conservatively on this manifest
        raw.pop(_AGG_FIELD, None)
        raw.pop(_SPEC_COLS_FIELD, None)
    U._write_manifest_raw(fsio.join(table_dir, cur), raw)
    return sum(len(per_col) for per_col in specs.values())


def entry_blooms(table_dir: str, version: str) -> dict:
    """Blooms for EVERY entry of a snapshot (the ``entry_stats`` idiom):
    {entry: {col: {m, k, path}}}, {} when never attached. Fold-chain
    manifests answer first (checkpoints consolidate specs — bounded
    metadata reads at any append count), owner manifests as the
    pre-consolidation fallback."""
    return U._entry_field_map(table_dir, version, _BLOOMS)


def _agg_definitive_miss(
    table_dir: str, version: str, col: str, h1: int, h2: int
) -> bool:
    """True when the commit-level aggregate blooms prove ``col == value``
    is ABSENT from every per-file-spec-covered file of the snapshot — the
    probe may then skip all per-file sidecar reads (scanning only files
    without specs). Requirements, all conservative bails:

    - the fold chain holds a CONSOLIDATING checkpoint (its chain is then
      authoritative for specs — no owner-manifest specs exist outside it);
    - no rename events (spec/agg column names are attach-time names; with
      renames the per-entry translation must run, which the per-file path
      does);
    - every chain manifest that records specs for ``col`` (per its
      ``bloom_spec_cols`` contract — key absent with bloom storage means
      unknown coverage → bail) carries agg entries for it, and every one
      of those agg bitsets tests ABSENT (a vacuumed agg sidecar reads as
      maybe → bail).

    Cost: ≤ one small sidecar read per chain manifest — 1 checkpoint +
    ≤ CHECKPOINT_EVERY deltas — regardless of file count."""
    raws: list[dict] = []
    v = version
    consolidated = False
    while True:
        raw = U._read_manifest_raw(table_dir, v)
        if raw is None:
            return False
        raws.append(raw)
        if raw.get(U._CONSOLIDATED_KEY):
            consolidated = True
        if U._is_full_manifest(raw):
            break
        v = raw["files_base"]
    if not consolidated:
        return False
    if U.rename_log_of(raws[0]):
        return False
    tested_any = False
    for raw in raws:
        spec_cols = raw.get(_SPEC_COLS_FIELD)
        if spec_cols is None:
            if any(
                k in raw
                for k in (_BLOOMS, f"{_BLOOMS}_ref", U._ENTRIES_REF)
            ):
                return False  # unknown coverage (pre-r9 storage)
            continue
        if col not in spec_cols:
            continue
        agg = (raw.get(_AGG_FIELD) or {}).get(col)
        if not agg:
            return False
        for spec in agg:
            if _maybe_contains(table_dir, spec, h1, h2):
                return False
            tested_any = True
    return tested_any


def consolidate_agg_fields(
    table_dir: str,
    version: str,
    res,
    cons_blooms: dict,
    own_extra: dict,
    own_blooms: dict | None = None,
    source_versions=None,
) -> dict:
    """Checkpoint-time consolidation of the COMMIT-LEVEL aggregate blooms
    (upsert.write_manifest_delta's hook, mirroring the per-file spec
    gather): for every column whose specs made it into the checkpoint's
    consolidated map, union the contributing manifests' agg bitsets —
    grouped by (m, k), OR-able only within a group — into fresh sidecars
    under this checkpoint. A column is included ONLY when every visited
    manifest recording specs for it carries agg coverage (otherwise the
    fast path would wrongly skip the uncovered specs); a missing agg
    sidecar likewise drops its column. ≤ one small read per (visited
    manifest, column) — amortized O(1) per commit, since the previous
    checkpoint already holds one union per group. ``own_extra`` is the
    committing writer's extra_fields (its own agg/spec-cols are popped
    and folded in)."""
    spec_cols = sorted(
        {c for per in cons_blooms.values() if per for c in per}
    )
    own_agg = own_extra.pop(_AGG_FIELD, None) or {}
    own_extra.pop(_SPEC_COLS_FIELD, None)
    if not spec_cols:
        # [] is load-bearing: it tells the probe this manifest records no
        # per-file specs, so bloom storage keys alone never disable the
        # fast path for other chains' columns
        return {_SPEC_COLS_FIELD: []}
    per_col: dict = {c: [] for c in spec_cols}
    uncovered: set = set()
    # the committing writer's own specs must come with its own aggs —
    # bloom_fields always writes both, but a custom extra_fields caller
    # might not, and a partial union would wrongly claim coverage
    own_cols = {c for per in (own_blooms or {}).values() if per for c in per}
    uncovered |= {c for c in own_cols if c not in own_agg}
    # the source set must be exactly the manifests this version's gather
    # consulted: a SHARED resolver (vacuum caches across kept versions)
    # would otherwise pollute the coverage check with unrelated manifests
    # — dropping covered columns and unioning foreign bits in. The
    # checkpoint path's per-commit resolver holds exactly its own sources,
    # so it passes nothing; vacuum names its per-version set explicitly.
    if source_versions is not None:
        sources = [(w, res.raw(w)) for w in source_versions]
    else:
        sources = list(res._raws.items())
    for v_src, raw in sources:
        if not raw:
            continue
        bl_map = res.field_of(v_src, _BLOOMS)
        cols_here = {c for per in bl_map.values() if per for c in per}
        agg = raw.get(_AGG_FIELD) or {}
        for c in cols_here & set(spec_cols):
            if c in agg:
                per_col[c].extend(agg[c])
            else:
                uncovered.add(c)
    for c, lst in own_agg.items():
        if c in per_col:
            per_col[c].extend(lst)
    out_agg: dict = {}
    for c in spec_cols:
        if c in uncovered or not per_col[c]:
            continue
        groups: dict = {}
        npos: dict = {}
        ok = True
        for spec in per_col[c]:
            try:
                raw_bits = fsio.read_bytes(
                    fsio.join(table_dir, spec["path"])
                )
            except (FileNotFoundError, OSError):
                ok = False  # vacuumed source bitset: cannot claim coverage
                break
            key = (int(spec["m"]), int(spec["k"]))
            bits = np.frombuffer(raw_bits, dtype=np.uint8)
            if len(bits) * 8 != key[0]:
                ok = False
                break
            if key in groups:
                groups[key] = groups[key] | bits
            else:
                groups[key] = bits.copy()
            npos[key] = npos.get(key, 0) + int(spec.get("npos") or 0)
        if not ok:
            continue
        import hashlib

        fsio.mkdirs(fsio.join(table_dir, version, _DIR))
        specs_out = []
        for (m, k), bits in groups.items():
            digest = hashlib.md5(
                f"{version}|{c}|{m}|{k}".encode()
            ).hexdigest()[:16]
            name = f"agg_{digest}.bloom"
            fsio.write_bytes(
                fsio.join(table_dir, version, _DIR, name), bits.tobytes()
            )
            specs_out.append(
                {
                    "m": m,
                    "k": k,
                    "path": f"{version}/{_DIR}/{name}",
                    "npos": npos[(m, k)],
                }
            )
        out_agg[c] = specs_out
    out: dict = {_SPEC_COLS_FIELD: spec_cols}
    if out_agg:
        out[_AGG_FIELD] = out_agg
    return out


def _maybe_contains(table_dir: str, spec: dict, h1: int, h2: int) -> bool:
    try:
        raw = fsio.read_bytes(fsio.join(table_dir, spec["path"]))
    except (FileNotFoundError, OSError):
        return True  # sidecar vacuumed away — scan conservatively
    bits = np.frombuffer(raw, dtype=np.uint8)
    if len(bits) * 8 != spec["m"]:
        return True
    pos = _positions(h1, h2, spec["m"], spec["k"])
    return bool(np.all(bits[pos // 8] & (1 << (pos % 8).astype(np.uint8))))


def _surviving_specs_distributed(
    spark: SparkSession,
    table_dir: str,
    spec_rows: list,
    h1: int,
    h2: int,
) -> set:
    """Executor-side bloom probe: each task reads ITS slice of candidate
    sidecars and tests the k bits, returning only the surviving indexes —
    no sidecar bytes ever reach the driver, and the small-object GETs run
    in parallel across the cluster instead of serially on one node.
    Missing / mis-sized sidecars survive (scan conservatively), exactly
    like the driver fast path."""
    import pandas as pd

    def test(batches):
        from spookystuff_spark import fsio as xfs

        for pdf in batches:
            keep = []
            for idx, path, m, k in zip(
                pdf["idx"], pdf["path"], pdf["m"], pdf["k"]
            ):
                try:
                    raw = xfs.read_bytes(xfs.join(table_dir, path))
                except (FileNotFoundError, OSError):
                    keep.append(idx)
                    continue
                bits = np.frombuffer(raw, dtype=np.uint8)
                if len(bits) * 8 != int(m):
                    keep.append(idx)
                    continue
                pos = _positions(h1, h2, int(m), int(k))
                if bool(
                    np.all(
                        bits[pos // 8] & (1 << (pos % 8).astype(np.uint8))
                    )
                ):
                    keep.append(idx)
            yield pd.DataFrame({"idx": pd.array(keep, dtype="int64")})

    df = spark.createDataFrame(
        spec_rows, "idx long, path string, m long, k long"
    )
    n_slices = max(
        1,
        min(len(spec_rows), spark.sparkContext.defaultParallelism * 4),
    )
    surv = df.repartition(n_slices).mapInPandas(test, "idx long").collect()
    return {int(r["idx"]) for r in surv}


def _plan_probe(
    spark: SparkSession,
    table_dir: str,
    plan: DataFrame,
    log: list,
    col: str,
    probes: Sequence[tuple[int, int, bool]],
) -> list[tuple[list, int]]:
    """Per-probe (surviving entries, skipped count) from ONE DISTRIBUTED
    pass over the parquet entry table: each task parses its slice's
    ``blooms`` JSON, resolves the probe column's physical name per entry
    (rename epochs, same logic as the driver path) and tests every
    probe's k bits against the sidecars it can read — a sidecar is read
    ONCE per entry regardless of probe count (the batch form
    :func:`read_table_points` shares this pass across a lookup fan that
    previously paid it per value). ``probes``: (h1, h2,
    definitive_miss) per probe value. Entries without a usable spec —
    never attached, vacuumed sidecar, foreign/absolute path — survive
    (scan conservatively), exactly like the driver fast path."""
    import json as _json

    import pandas as pd

    n_probes = len(probes)

    def probe_fn(batches):
        from spookystuff_spark import fsio as xfs

        for pdf in batches:
            keeps: list[tuple[int, str]] = []
            n_batch = len(pdf)
            for entry, bj in zip(pdf["entry"], pdf["blooms"]):
                spec = None
                if bj:
                    per = _json.loads(bj) or {}
                    owner = (
                        ""
                        if U._is_abs_entry(entry)
                        else entry.split("/", 1)[0]
                    )
                    spec = per.get(
                        U.physical_name_for_entry(log, owner, col)
                    )
                if not spec:
                    keeps.extend((i, entry) for i in range(n_probes))
                    continue
                bits = None
                usable = True
                try:
                    raw_bits = xfs.read_bytes(
                        xfs.join(table_dir, spec["path"])
                    )
                    bits = np.frombuffer(raw_bits, dtype=np.uint8)
                    if len(bits) * 8 != int(spec["m"]):
                        usable = False
                except (FileNotFoundError, OSError):
                    usable = False
                for i, (h1, h2, definitive_miss) in enumerate(probes):
                    if definitive_miss:
                        # the chain's aggregate blooms already proved the
                        # value absent from every spec-covered file — drop
                        # without touching the per-file sidecar
                        continue
                    if not usable:
                        keeps.append((i, entry))
                        continue
                    pos = _positions(
                        h1, h2, int(spec["m"]), int(spec["k"])
                    )
                    if bool(
                        np.all(
                            bits[pos // 8]
                            & (1 << (pos % 8).astype(np.uint8))
                        )
                    ):
                        keeps.append((i, entry))
            # the skip count rides the same pass (entry=None sentinel row
            # per batch) — a second count() would re-scan the entry table
            yield pd.DataFrame(
                {
                    "pi": [i for i, _ in keeps] + [-1],
                    "entry": [e for _, e in keeps] + [None],
                    "seen": [0] * len(keeps) + [n_batch],
                }
            )

    src = plan.select("entry", "blooms")
    rows = src.mapInPandas(
        probe_fn, "pi long, entry string, seen long"
    ).collect()
    total = sum(r["seen"] for r in rows if r["entry"] is None)
    out = []
    for i in range(n_probes):
        kept = [r["entry"] for r in rows if r["entry"] is not None and r["pi"] == i]
        out.append((kept, total - len(kept)))
    return out


def read_table_point(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: str | None = None,
    driver_max: int | None = None,
) -> tuple[DataFrame, dict]:
    """Point lookup ``col == value`` scanning only files whose bloom says
    maybe-present. Returns (frame, {"scanned": n, "skipped_bloom": s}).
    The residual equality filter and deletion vectors apply regardless, so
    pruning can only save IO, never change the answer.

    The probe value is hashed AT THE TABLE COLUMN'S TYPE (resolved from
    the snapshot schema, not inferred from the Python literal): build-time
    hashes are over ``CAST(col AS STRING)`` of the actual column, so an
    int probe against a double column must hash "5.0", not "5" — a repr
    mismatch would make every bloom answer "definitely absent" and
    silently EMPTY the result, turning the advertised false-positive-only
    contract into false negatives."""
    return read_table_points(
        spark, table_dir, col, [value], version=version,
        driver_max=driver_max,
    )[0]


def read_table_points(
    spark: SparkSession,
    table_dir: str,
    col: str,
    values: Sequence,
    version: str | None = None,
    driver_max: int | None = None,
) -> list[tuple[DataFrame, dict]]:
    """Batched point lookups: one (frame, stats) pair PER VALUE, each
    exactly what :func:`read_table_point` returns — but the fixed costs
    are paid ONCE for the whole batch (guide §1.2): one 1-row Spark job
    hashes every probe value, one distributed entry-table pass tests all
    probes (each sidecar read once), one manifest resolution. A k-key
    lookup fan (q_bloom_lookup's shape) previously paid ~4 fixed jobs
    per key; the batch pays ~2 total. Per-key file pruning is unchanged:
    each value's frame scans only ITS maybe-present files."""
    import json

    from pyspark.sql.types import StructType

    values = list(values)
    if not values:
        return []
    if any(value is None for value in values):
        # NULL equals nothing: the residual `col == NULL` filter below
        # would return zero rows anyway, and crc32(NULL) has no hash to
        # probe — refuse loudly instead of int(None) crashing
        raise ValueError(
            "bloom point lookup of NULL — `col == NULL` matches no rows; "
            "scan with an IS NULL predicate instead"
        )

    cur = U._latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    v = version or cur
    U._check_readable(table_dir, v, cur)
    h1, h2 = _base_hash_cols(col)
    probe = spark.createDataFrame(
        [(i, value) for i, value in enumerate(values)], ["_i", "_v"]
    )
    schema_json0 = U.snapshot_schema_json(table_dir, v)
    col_type = None
    if schema_json0:
        sch = StructType.fromJson(json.loads(schema_json0))
        if col in sch.fieldNames():
            col_type = sch[col].dataType
    probe = probe.select(
        "_i",
        (
            F.col("_v").cast(col_type)
            if col_type is not None
            else F.col("_v")
        ).alias(col),
    )
    # ONE hash job for the whole batch — the same JVM expressions the
    # build used, so there is no Python xxhash64 reimplementation to drift
    hrows = {
        r["_i"]: (int(r["h1"]), int(r["h2"]))
        for r in probe.select("_i", h1.alias("h1"), h2.alias("h2")).collect()
    }
    hashes = [hrows[i] for i in range(len(values))]
    # commit-level aggregate fast path: on a consolidated chain, ≤ one
    # small read per chain manifest can prove a value absent from EVERY
    # spec-covered file — a miss probe then never touches per-file
    # sidecars at all (1 + chain-length small objects total)
    misses = [
        _agg_definitive_miss(table_dir, v, col, ha, hb)
        for ha, hb in hashes
    ]
    plan = U.entries_plan(spark, table_dir, v)
    results: list[tuple[DataFrame, dict]] = []
    if plan is not None:
        # DISTRIBUTED candidate assembly + probe in one pass: the parquet
        # entry table scans as a DataFrame and each task parses its
        # slice's bloom specs, translates the probe column per entry
        # (rename epochs) and tests every probe's k bits against its
        # sidecars — the driver never loops the file list, never folds
        # the manifest, and collects only the SURVIVORS the scans need
        # anyway. A miss probe on a fully-indexed million-file table
        # returns ~0 rows.
        raw = U._read_manifest_raw(table_dir, v) or {"files": []}
        log = U.rename_log_of(raw)
        per_probe = _plan_probe(
            spark, table_dir, plan, log, col,
            [(ha, hb, miss) for (ha, hb), miss in zip(hashes, misses)],
        )
        for value, (keep_rel, skipped) in zip(values, per_probe):
            keep_full = [
                e if U._is_abs_entry(e) else fsio.join(table_dir, e)
                for e in keep_rel
            ]
            if not keep_full and not raw.get("schema"):
                raise FileNotFoundError(f"no candidate files in {table_dir}")
            df = U.scan_entries(spark, table_dir, raw, keep_rel, keep_full)
            df = U._apply_deletion_vectors(spark, table_dir, v, df)
            results.append(
                (
                    df.where(F.col(col) == F.lit(value)),
                    {"scanned": len(keep_full), "skipped_bloom": skipped},
                )
            )
        return results
    blooms = entry_blooms(table_dir, v)
    manifest = U.read_manifest(table_dir, v) or {"files": []}
    # bloom specs are recorded under the attach-time name — translate the
    # logical probe column PER ENTRY (column-mapping appends: files from
    # different rename epochs carry different physical names)
    log = U.rename_log_of(manifest)
    rel_all, full_all = U._entries_and_paths(table_dir, manifest)
    cand = []  # (index into rel_all, spec) for entries with a usable bloom
    for i, e in enumerate(rel_all):
        owner = "" if U._is_abs_entry(e) else e.split("/", 1)[0]
        spec = (blooms.get(e) or {}).get(
            U.physical_name_for_entry(log, owner, col)
        )
        if spec:
            cand.append((i, spec))
    limit = PROBE_DRIVER_MAX if driver_max is None else driver_max
    for (ha, hb), definitive_miss, value in zip(hashes, misses, values):
        if definitive_miss:
            # the aggregate blooms already proved absence from every
            # spec-covered file — zero per-file sidecar reads
            drop = {i for i, _spec in cand}
        elif len(cand) <= limit:
            drop = {
                i
                for i, spec in cand
                if not _maybe_contains(table_dir, spec, ha, hb)
            }
        else:
            rows = [
                (i, spec["path"], int(spec["m"]), int(spec["k"]))
                for i, spec in cand
            ]
            surv = _surviving_specs_distributed(
                spark, table_dir, rows, ha, hb
            )
            drop = {i for i, _ in cand} - surv
        keep_rel, keep_full, skipped = [], [], 0
        for i, (e, full) in enumerate(zip(rel_all, full_all)):
            if i in drop:
                skipped += 1
                continue
            keep_rel.append(e)
            keep_full.append(full)
        if not keep_full and not manifest.get("schema"):
            raise FileNotFoundError(f"no candidate files in {table_dir}")
        df = U.scan_entries(spark, table_dir, manifest, keep_rel, keep_full)
        df = U._apply_deletion_vectors(spark, table_dir, v, df)
        results.append(
            (
                df.where(F.col(col) == F.lit(value)),
                {"scanned": len(keep_full), "skipped_bloom": skipped},
            )
        )
    return results
