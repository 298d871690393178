"""Versioned parquet table with MERGE-style upsert — lakehouse-lite.

Plain parquet directories can't be updated in place; the standard fix
(Delta/Iceberg's core idea) is versioned immutable snapshots + an atomic
commit. This module implements ONE on-disk format:

    <dir>/v00001/part-*.parquet     immutable data files
    <dir>/v00001/_MANIFEST.json     THE snapshot record: format stamp, data
                                    files (possibly living in EARLIER version
                                    dirs) or an entry delta against a base,
                                    schema, kind, PARENT version, commit
                                    timestamp, marker index, optional
                                    per-file stats and deletion vectors
    <dir>/v00002/_dv/*.parquet      deletion vectors (deleted-row keys)
    <dir>/v00002/_changes/          the version's change feed
    <dir>/_commits/<parent>.c       THE commit: created exclusively, content
                                    = the committed child version
    <dir>/_LATEST                   two lines: tip version, its parent slot

A writer materializes the next snapshot's data files (Spark write), writes
the manifest (chain link = the parent it READ from), then commits by
creating ``_commits/<parent>.c`` create-exclusive — every writer extending
the same parent races for the same object, so exactly one child of any
parent exists and a loser gets :class:`ConcurrentWriteError` instead of
erasing the winner's rows. ``_LATEST`` is a VERIFIED cache of the tip: it
counts only when the named parent slot holds exactly that version, and
committed child slots are walked forward from it; anything unverifiable
falls back to listing ``_commits``. Committed history is the manifest
parent chain walked back from the tip — a dir outside it (torn data, a
manifest whose commit never happened) is vacuumable debris, never
readable state.

Every manifest is written by :func:`_write_manifest_raw`, which stamps
:data:`FORMAT_VERSION`; every read refuses a manifest whose stamp is
missing or different. Appends and clones are metadata-only: the new
manifest references the previous snapshot's immutable files — no hard
links, no copies — which is what makes the protocol object-store-safe
(the reference's cache likewise goes through Hadoop ``FileSystem``,
module/core/.../caching/DFSDocCache.scala:13-46). All IO is routed
through :mod:`spookystuff_spark.fsio` (pyarrow.fs), never ``os.path``.

Extras over the core protocol: ``history()``/``version_at`` (DESCRIBE
HISTORY + TIMESTAMP AS OF), ``attach_stats``/``read_table_pruned``
(stats-in-manifest file pruning with zero footer IO at plan time),
``compact(zorder_by=...)`` (OPTIMIZE ZORDER), merge-on-read deletion
vectors, and the partition-aware O(touched) MERGE in
sources/partitioned_table.py.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from spookystuff_spark import fsio

_POINTER = "_LATEST"
_MANIFEST = "_MANIFEST.json"
_CHANGES = "_changes"
_COMMITS = "_commits"
_KIND = "_kind"
_PREIMAGED = "_PREIMAGED"  # feed sidecar: update preimages were logged
_FEED_KINDS = "_KINDS"  # feed sidecar: JSON list of the _change kinds present

#: The on-disk table format every manifest is stamped with
#: (:func:`_write_manifest_raw`) and every read requires
#: (:func:`_load_manifest`). Tables never outlive the format: there is no
#: reader for any other version.
FORMAT_VERSION = 1
_FORMAT_KEY = "format"

_UNCHECKED = object()  # sentinel: commit without a conflict check


def _enforce_checks(df: DataFrame, table_dir: str) -> None:
    """Writer-side CHECK enforcement (sources/constraints.py) — zero jobs
    when the table has no registered constraints."""
    from spookystuff_spark.sources.constraints import enforce_checks

    enforce_checks(df.sparkSession, table_dir, df)


class ConcurrentWriteError(RuntimeError):
    """The table advanced between this writer's snapshot read and its
    commit — committing would silently drop the interleaved writer's rows
    (lost update). Detection is the PARENT-KEYED commit-file CAS
    (:func:`_finalize_commit`): every writer extending parent P races to
    create the SAME ``_commits/<P>.c`` object, so exactly one child of any
    parent can ever exist — regardless of which version names the racers
    staged — on top of the expected-parent re-check. Retry the operation
    against the new state."""


def _commit_file_name(parent: str | None) -> str:
    """The commit CAS object for a child of ``parent``. Keyed by the PARENT
    (not the writer-chosen version name) so same-parent racers always
    contend on one create-exclusive — the arbitration needs no listing, no
    sibling scan, and has no crash window. ``v00000.c`` is the root slot."""
    return f"{parent or 'v00000'}.c"


def _commit_names(table_dir: str) -> list[str]:
    """Commit-file names ``vNNNNN.c`` under ``_commits``."""
    return [
        n
        for n in fsio.ls(fsio.join(table_dir, _COMMITS))
        if n.startswith("v") and n.endswith(".c") and n[1:-2].isdigit()
    ]


def _vnum(name: str) -> int:
    """Numeric order of a version / commit-file name — ``v00005`` and
    ``v00005.c`` both → 5. String comparison breaks at the
    v99999→v100000 width transition (the name grows a digit — at exactly
    the 100k-commit scale the pointer fast path exists for), so EVERY
    ordering of version names must go through this."""
    return int(name[1:-2] if name.endswith(".c") else name[1:])


def _latest_from_listing(table_dir: str) -> str | None:
    """Authoritative tip: list ``_commits`` and read the newest slot (the
    Delta-log rule — a commit IS the ``_commits`` entry, created
    exclusively, holding the committed version as content). None when
    nothing ever committed. O(total commits) — the slow path behind
    :func:`_latest`'s verified-pointer fast path."""
    names = _commit_names(table_dir)
    if not names:
        return None
    top = max(names, key=_vnum)  # numeric order, see _vnum
    v = fsio.read_bytes(fsio.join(table_dir, _COMMITS, top)).decode().strip()
    return v or None


def _latest(table_dir: str) -> str | None:
    """Current version, WITHOUT listing ``_commits`` on the hot path.

    Every read and every commit resolves the tip, so an O(total commits)
    directory listing here is ~100 paginated LIST round-trips per table
    touch at 100k commits on an object store. Instead the ``_LATEST``
    pointer — written by :func:`_finalize_commit` as ``version\\n<parent
    slot>`` — is treated as a VERIFIED hint: the hint counts only when
    ``_commits/<parent slot>`` exists with exactly this version as content
    (i.e. the pointed-at version provably won its commit CAS; a corrupted
    or hand-written pointer can never pass). Staleness (a writer that died
    between its CAS and the pointer refresh) is healed by walking child
    slots forward: ``_commits/<v>.c`` existing means v has a committed
    child, so follow its content — O(versions behind), normally one
    existence check that finds nothing.

    Anything unverifiable — pointer missing, torn write, slot-content
    mismatch, non-monotone walk — falls back to the authoritative listing
    (:func:`_latest_from_listing`)."""
    p = fsio.join(table_dir, _POINTER)
    try:
        lines = fsio.read_bytes(p).decode().splitlines()
    except (FileNotFoundError, OSError):
        return _latest_from_listing(table_dir)
    if len(lines) != 2:
        return _latest_from_listing(table_dir)
    v, slot = lines[0].strip(), lines[1].strip()
    if not (v.startswith("v") and v[1:].isdigit() and slot.endswith(".c")):
        return _latest_from_listing(table_dir)
    try:
        committed = (
            fsio.read_bytes(fsio.join(table_dir, _COMMITS, slot))
            .decode()
            .strip()
        )
    except (FileNotFoundError, OSError):
        return _latest_from_listing(table_dir)
    if committed != v:
        return _latest_from_listing(table_dir)
    while True:
        child = fsio.join(table_dir, _COMMITS, _commit_file_name(v))
        if not fsio.exists(child):
            return v
        try:
            nxt = fsio.read_bytes(child).decode().strip()
        except (FileNotFoundError, OSError):  # raced a vacuum
            return _latest_from_listing(table_dir)
        if not (
            nxt.startswith("v") and nxt[1:].isdigit() and _vnum(nxt) > _vnum(v)
        ):
            return _latest_from_listing(table_dir)
        v = nxt


def _finalize_commit(
    table_dir: str, version: str, parent: str | None
) -> None:
    """THE commit point: create ``_commits/<parent>.c`` exclusively, content
    = the committed version name. The manifest is already on disk, so the
    instant the commit file appears the snapshot is fully readable; a crash
    one line earlier leaves an invisible dangling dir.

    Arbitration is structural: the CAS object's NAME is derived from the
    parent, so every writer extending the same parent — even ones that
    staged DIFFERENT version names because crashed-writer debris occupied
    the lower name — races to create the same file, and the filesystem
    guarantees exactly one child of any parent ever exists. No sibling
    scan, no retraction, no window in which two writers can both report
    success. The expected-parent re-check stays as a cheap fast-fail for
    writers whose table moved underneath them. The ``_LATEST`` pointer is
    then refreshed as a cache: ``version\\n<parent slot>``, the form
    :func:`_latest` verifies with one slot read."""
    now = _latest(table_dir)
    if now != parent:
        raise ConcurrentWriteError(
            f"{table_dir}: expected parent {parent!r} but the table advanced "
            f"to {now!r} — retry against the new state"
        )
    fsio.mkdirs(fsio.join(table_dir, _COMMITS))
    try:
        fsio.create_exclusive(
            fsio.join(table_dir, _COMMITS, _commit_file_name(parent)),
            version.encode(),
        )
    except FileExistsError:
        raise ConcurrentWriteError(
            f"{table_dir}: parent {parent!r} already has a committed child "
            "— retry against the new state"
        ) from None
    fsio.write_bytes(
        fsio.join(table_dir, _POINTER),
        f"{version}\n{_commit_file_name(parent)}".encode(),
    )


def retry_on_conflict(
    op, attempts: int = 3, backoff_s: float = 0.05, table_dir: str | None = None
):
    """Multi-writer liveness on top of the CAS safety: re-run ``op`` (a
    zero-arg closure performing ONE full table operation — it must re-read
    the table state each call, which every writer in this module does) when
    it loses commit arbitration, with a small jittered backoff. The loser's
    torn dir is ordinary vacuum debris; the final attempt's
    :class:`ConcurrentWriteError` propagates.

    Only two signals count as conflicts: :class:`ConcurrentWriteError`, and
    an already-exists failure whose path is a VERSION DIR (two writers race
    the same next-version data dir before either commits — the retry
    re-derives a fresh name past it). An unrelated PATH_ALREADY_EXISTS
    (misconfigured destination, a nested write colliding elsewhere) is a
    real error and propagates immediately instead of being retried into
    noise. Pass ``table_dir`` to pin the match to THIS table's version
    dirs.

        retry_on_conflict(lambda: upsert(spark, dir, batch, ["k"]),
                          table_dir=dir)
    """
    import random
    import re
    import time

    def is_conflict(ex: Exception) -> bool:
        if isinstance(ex, ConcurrentWriteError):
            return True
        msg = str(ex)
        if "PATH_ALREADY_EXISTS" not in msg and "already exists" not in msg:
            return False
        if table_dir is not None:
            return (
                re.search(re.escape(table_dir.rstrip("/")) + r"/+v\d{5}", msg)
                is not None
            )
        return re.search(r"/v\d{5}", msg) is not None

    for i in range(attempts):
        try:
            return op()
        except Exception as ex:  # noqa: BLE001 — filtered by is_conflict
            if not is_conflict(ex) or i == attempts - 1:
                raise
            time.sleep(backoff_s * (2**i) * (0.5 + random.random()))


def _next_version(table_dir: str) -> str:
    """Next unoccupied version name WITHOUT listing the table dir (an
    O(version dirs) listing per write is the same object-store tax the
    verified pointer removed from reads): probe upward from the tip's
    successor until a free slot — a crashed writer's dangling dir at
    pointer+1 costs one extra existence check, not a full listing. Names
    stay strictly increasing along the commit chain (which the pointer
    walk in :func:`_latest` relies on); commit order is the parent-keyed
    CAS, never the numbering, and the create-exclusive data dir still
    arbitrates racing writers."""
    cur = _latest(table_dir)
    n = _vnum(cur) if cur else 0
    while True:
        n += 1
        name = f"v{n:05d}"
        if not fsio.exists(fsio.join(table_dir, name)):
            return name


# --------------------------------------------------------------- manifest


#: Full manifests with more entries than this spill the file list to a
#: parquet entry-table sidecar (``entries_ref``) instead of inline JSON —
#: at 1M files an inline checkpoint is ~100 MB of JSON parsed on every
#: fold, while the sidecar is a few MB read only by consumers that
#: actually need the list (raw top-level fields stay readable without it).
CHECKPOINT_INLINE_MAX = 1000

_FILES_COUNT = "files_count"
_ENTRIES_REF = "entries_ref"  # parquet ENTRY TABLE sidecar
#: NOT underscore-prefixed (Spark's hidden-file convention would make it
#: invisible to the DataFrame read that distributed planning depends on)
#: and NOT ``.parquet``-suffixed (writers enumerate their own data files
#: by globbing ``*.parquet`` in the version dir) — explicit-path readers
#: don't care about either.
_ENTRIES_SIDECAR = "ENTRIES.pq"

#: Per-entry field columns the parquet entry table carries alongside the
#: file list — the checkpoint-consolidated maps, readable as DataFrame
#: columns so planning (partition pruning, bloom candidate assembly) can
#: run DISTRIBUTED instead of as an O(files) Python loop on the driver.
_ENTRY_FIELD_COLS = ("stats", "blooms")


def _entry_part(entry: str) -> str | None:
    """Partition value encoded in a manifest entry's path (the hive-style
    ``__part=<value>`` segment partitioned layouts write), or None."""
    for seg in entry.split("/"):
        if seg.startswith("__part="):
            return seg[len("__part="):]
    return None


def _is_full_manifest(raw: dict) -> bool:
    """Full (checkpoint) manifest — file list inline or in a sidecar — as
    opposed to a delta manifest (``files_base``/``files_add``/...)."""
    return "files" in raw or _ENTRIES_REF in raw


def _read_entries_table(table_dir: str, ref: str):
    """The parquet entry table as a pyarrow Table (driver-side reads —
    spark reads the same file as a DataFrame for distributed planning)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pq.read_table(pa.BufferReader(fsio.read_bytes(fsio.join(table_dir, ref))))


def _full_files(table_dir: str, raw: dict) -> list[str]:
    """Materialized file list of a FULL manifest: inline ``files`` or the
    parquet entry table."""
    if "files" in raw:
        return list(raw["files"])
    return _read_entries_table(table_dir, raw[_ENTRIES_REF])[
        "entry"
    ].to_pylist()


def _files_fields(
    table_dir: str,
    version: str,
    files: Sequence[str],
    entry_fields: dict | None = None,
) -> dict:
    """Manifest fields recording ``files`` (+ optional per-entry
    ``entry_fields`` maps — consolidated stats/blooms): inline below
    :data:`CHECKPOINT_INLINE_MAX` entries; above it, ONE parquet entry
    table ``_ENTRIES.parquet`` holding the file list, the precomputed
    partition value and the per-entry fields as JSON columns — written
    atomically (serialized in memory, published via ``write_bytes``),
    immutable debris until the manifest naming it commits. The parquet
    form is what makes planning distributable: Spark scans it as a
    DataFrame (:func:`entries_plan`), so a partition-pruned read or a
    bloom probe of a million-file table never materializes the file list
    in driver Python. At 1M entries the table is a few MB (zstd) vs
    ~100 MB of inline JSON."""
    files = list(files)
    ef = {k: v for k, v in (entry_fields or {}).items() if v}
    if len(files) <= CHECKPOINT_INLINE_MAX:
        out = {"files": files}
        for f, mp in ef.items():
            out.update(_field_fields(table_dir, version, f, mp))
        return out
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols: dict = {
        "entry": files,
        "part": [_entry_part(e) for e in files],
    }
    for f in _ENTRY_FIELD_COLS:
        mp = ef.get(f) or {}
        # json "null" = a checkpoint's probed-and-absent NEGATIVE marker;
        # SQL NULL = no record at all — both states survive the roundtrip
        cols[f] = [
            json.dumps(mp[e], separators=(",", ":")) if e in mp else None
            for e in files
        ]
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(cols), sink, compression="zstd")
    ref = f"{version}/{_ENTRIES_SIDECAR}"
    fsio.mkdirs(fsio.join(table_dir, version))
    fsio.write_bytes(fsio.join(table_dir, ref), sink.getvalue().to_pybytes())
    return {_ENTRIES_REF: ref, _FILES_COUNT: len(files)}


def write_manifest(
    table_dir: str,
    version: str,
    files: Sequence[str],
    schema_json: str | None,
    kind: str,
    parent: str | None = None,
    extra_fields: dict | None = None,
    entry_fields: dict | None = None,
) -> None:
    """Record the snapshot's commit manifest: relative (to ``table_dir``)
    or absolute data-file paths, the Spark schema (StructType.json()), the
    commit kind, and the PARENT version this snapshot was derived from.
    The manifest + commit file define the commit: committed history is
    the parent chain walked back from the tip, so a crashed writer's
    dir — even one that got as far as its manifest, or that carries
    Spark's ``_SUCCESS`` — is unreachable debris, never readable state.
    Above :data:`CHECKPOINT_INLINE_MAX` entries the file list (and any
    per-entry ``entry_fields`` maps) lives in a parquet entry-table
    sidecar (see :func:`_files_fields`). Per-entry maps a writer passed
    through ``extra_fields`` (``stats``/``blooms``) are routed through
    the same spill logic, so a million-file snapshot never inlines a
    100 MB stats map."""
    import time

    ef = dict(entry_fields or {})
    extra_fields = dict(extra_fields) if extra_fields else None
    if extra_fields:
        for f in _ENTRY_FIELD_COLS:
            mp = extra_fields.pop(f, None)
            if mp:
                cur = dict(ef.get(f) or {})
                cur.update(mp)
                ef[f] = cur
    payload = {
        **_files_fields(table_dir, version, files, ef),
        "schema": schema_json,
        "kind": kind,
        "parent": parent,
        "ts_ms": int(time.time() * 1000),
        # the marker index — [] means "this commit carries no markers".
        # Marker-bearing commits fill it via _stamp_marker;
        # content-preserving commits carry it in extra_fields (below) so
        # watermarks survive maintenance.
        "markers": [],
    }
    if extra_fields:
        payload.update(extra_fields)
    _write_manifest_raw(fsio.join(table_dir, version), payload)


def _write_manifest_raw(manifest_dir: str, raw: dict) -> None:
    """THE manifest writer: every ``_MANIFEST.json`` — table, view, index
    and change-feed manifests, full or delta, fresh or rewritten in place
    — is published here, stamped with :data:`FORMAT_VERSION`."""
    fsio.write_bytes(
        fsio.join(manifest_dir, _MANIFEST),
        json.dumps(
            {**raw, _FORMAT_KEY: FORMAT_VERSION}, separators=(",", ":")
        ).encode(),
    )


def _load_manifest(path: str) -> dict:
    """Parse a ``_MANIFEST.json``, refusing any manifest whose format
    stamp is missing or different."""
    raw = json.loads(fsio.read_bytes(path))
    if raw.get(_FORMAT_KEY) != FORMAT_VERSION:
        raise ValueError(
            f"{path}: table format {raw.get(_FORMAT_KEY)!r} is not "
            f"{FORMAT_VERSION}, the only format this reader reads — "
            "rebuild the table"
        )
    return raw


def _stamp_marker(table_dir: str, version: str, marker: str) -> None:
    """Record a commit marker (stream batch / IVM watermark) in the
    ``markers`` index of the version's raw manifest, so watermark lookups
    cost one manifest read per walked version. Runs before the commit
    file, so marker and snapshot stay atomic together."""
    raw = _read_manifest_raw(table_dir, version)
    if marker not in raw["markers"]:
        raw["markers"].append(marker)
    _write_manifest_raw(fsio.join(table_dir, version), raw)


def version_markers(
    table_dir: str, version: str, raw: dict | None = None
) -> list[str]:
    """Marker names a committed version carries (its manifest's
    ``markers`` index). Pass ``raw`` when the caller already holds the raw
    manifest (the chain walk) to skip the read."""
    if raw is None:
        raw = _read_manifest_raw(table_dir, version)
    return list(raw["markers"])


def _read_manifest_raw(table_dir: str, version: str) -> Optional[dict]:
    """The literal on-disk manifest JSON — a FULL manifest carries
    ``files``; a DELTA manifest carries ``files_base``/``files_add``/
    ``files_remove``/``delta_depth`` instead. Every other field (schema,
    kind, parent, dv, renames, extras) is present top-level in both forms,
    so consumers that never touch the file list should read raw and skip
    the fold. In-place manifest rewriters (``attach_stats``, bloom attach)
    MUST read raw — rewriting a folded view would silently materialize the
    full file list back into a delta commit. None when the version has
    no manifest; raises on a manifest of another format."""
    p = fsio.join(table_dir, version, _MANIFEST)
    if not fsio.exists(p):
        return None
    return _load_manifest(p)


_DELTA_KEYS = ("files_base", "files_add", "files_remove", "delta_depth")

#: Delta manifests deeper than this fold-chain length trigger a full
#: CHECKPOINT manifest instead (the Delta-log checkpoint / Iceberg
#: manifest-list idea): metadata-only commits write O(batch) bytes, and
#: every K-th one amortizes an O(files) materialization so reads fold at
#: most K small deltas on top of one checkpoint.
CHECKPOINT_EVERY = 20


def read_manifest(table_dir: str, version: str) -> Optional[dict]:
    """The manifest with a MATERIALIZED ``files`` list: a full manifest is
    returned as-is; a delta manifest folds its chain (base checkpoint +
    at most :data:`CHECKPOINT_EVERY` deltas, each a small JSON read) —
    removed entries filtered, added entries appended, order preserved.
    The returned dict keeps every other raw field and drops the delta
    bookkeeping keys. Raises when the chain is broken (a base manifest
    missing means non-protocol damage — vacuum materializes kept deltas
    before dropping their bases)."""
    raw = _read_manifest_raw(table_dir, version)
    if raw is None:
        return None
    if _is_full_manifest(raw):
        if "files" in raw:
            return raw
        out = {
            k: val
            for k, val in raw.items()
            if k not in (_FILES_COUNT, _ENTRIES_REF)
        }
        out["files"] = _full_files(table_dir, raw)
        return out
    chain = [raw]
    v = raw["files_base"]
    while True:
        r = _read_manifest_raw(table_dir, v)
        if r is None:
            raise FileNotFoundError(
                f"{table_dir}: delta manifest chain of {version} is broken "
                f"at base {v} (manifest missing)"
            )
        if _is_full_manifest(r):
            files = _full_files(table_dir, r)
            break
        chain.append(r)
        v = r["files_base"]
    for d in reversed(chain):
        rm = set(d.get("files_remove") or ())
        if rm:
            files = [e for e in files if e not in rm]
        files = files + list(d.get("files_add") or ())
    out = {k: val for k, val in raw.items() if k not in _DELTA_KEYS}
    out["files"] = files
    return out


def _entries_under(
    table_dir: str, version: str, owners: set[str]
) -> set[str]:
    """The subset of ``version``'s manifest entries physically OWNED by
    one of ``owners`` (relative entries whose leading path segment is in
    the set) — WITHOUT materializing the full file list. Vacuum's
    referenced-set assembly only ever probes entries inside the versions
    it is about to drop, so folding every kept manifest's complete list
    into driver memory (O(table files) strings per vacuum) was pure
    waste; this folds the same delta chain but keeps only matching
    entries, and on parquet entry tables filters with Arrow compute
    (one zero-copy prefix scan per owner) instead of a Python loop.
    Raises the same broken-chain error as :func:`read_manifest`."""

    def _match(e: str) -> bool:
        return not _is_abs_entry(e) and e.split("/", 1)[0] in owners

    def _full_scoped(raw: dict) -> set[str]:
        if "files" in raw:
            return {e for e in raw["files"] if _match(e)}
        import pyarrow.compute as pc

        col = _read_entries_table(table_dir, raw[_ENTRIES_REF])["entry"]
        out: set[str] = set()
        for o in owners:
            out.update(
                pc.filter(col, pc.starts_with(col, f"{o}/")).to_pylist()
            )
        return {e for e in out if not _is_abs_entry(e)}

    raw = _read_manifest_raw(table_dir, version)
    if raw is None:
        return set()
    chain = []
    v = version
    while not _is_full_manifest(raw):
        chain.append(raw)
        v = raw["files_base"]
        raw = _read_manifest_raw(table_dir, v)
        if raw is None:
            raise FileNotFoundError(
                f"{table_dir}: delta manifest chain of {version} is broken "
                f"at base {v} (manifest missing)"
            )
    files = _full_scoped(raw)
    for d in reversed(chain):
        files -= {e for e in (d.get("files_remove") or ()) if _match(e)}
        files |= {e for e in (d.get("files_add") or ()) if _match(e)}
    return files


def entries_plan(spark: SparkSession, table_dir: str, version: str):
    """The snapshot's entry table as a Spark DataFrame ``[entry, part,
    stats, blooms]`` for DISTRIBUTED planning, or None when the snapshot
    has no parquet checkpoint in its fold chain (small tables — the JSON
    fold is cheaper than a Spark job).

    The nearest parquet checkpoint scans as a DataFrame; the ≤
    :data:`CHECKPOINT_EVERY` deltas above it apply as column filters
    (removes) plus a driver-built union (adds, each delta's own small
    batch with its write-time stats/blooms). The driver therefore holds
    O(delta adds + removes), never the checkpoint's file list — at 1M
    files a partition-pruned read or a bloom probe plans scan-side
    (filter → collect survivors) instead of looping a 100 MB JSON fold
    in driver Python. Per-entry fields attached AFTER the checkpoint to
    NON-TIP commits are not visible here (readers through
    ``entry_stats``/``entry_blooms`` see them); planners only prune less,
    never wrongly."""
    import pyspark.sql.functions as F

    chain: list[dict] = []
    raw = _read_manifest_raw(table_dir, version)
    while raw is not None and not _is_full_manifest(raw):
        chain.append(raw)
        raw = _read_manifest_raw(table_dir, raw["files_base"])
    if raw is None or _ENTRIES_REF not in raw:
        return None
    df = read_parquet_pinned(spark, [fsio.join(table_dir, raw[_ENTRIES_REF])])
    adds: list[tuple] = []
    removed: set[str] = set()
    for d in reversed(chain):  # oldest first — later removes hit earlier adds
        rm = set(d.get("files_remove") or ())
        if rm:
            adds = [a for a in adds if a[0] not in rm]
            removed |= rm
        maps = {
            f: _field_of_raw(table_dir, d, f) for f in _ENTRY_FIELD_COLS
        }
        for e in d.get("files_add") or ():
            adds.append(
                (
                    e,
                    _entry_part(e),
                    *(
                        json.dumps(maps[f][e], separators=(",", ":"))
                        if e in maps[f]
                        else None
                        for f in _ENTRY_FIELD_COLS
                    ),
                )
            )
    if removed:
        df = df.where(~F.col("entry").isin(sorted(removed)))
    if adds:
        add_df = spark.createDataFrame(
            adds, "entry string, part string, stats string, blooms string"
        )
        df = df.unionByName(add_df)
    return df


def _fold_chain(table_dir: str, version: str) -> list[str]:
    """Base versions a delta manifest's fold reads, nearest first — [] for
    a full (checkpoint) manifest. Vacuum uses this to materialize kept
    deltas before dropping versions their folds still read."""
    out: list[str] = []
    raw = _read_manifest_raw(table_dir, version)
    while raw is not None and not _is_full_manifest(raw):
        b = raw["files_base"]
        out.append(b)
        raw = _read_manifest_raw(table_dir, b)
    return out


def write_manifest_delta(
    table_dir: str,
    version: str,
    base: str,
    add: Sequence[str],
    remove: Sequence[str],
    schema_json: str | None,
    kind: str,
    parent: str | None,
    extra_fields: dict | None = None,
) -> None:
    """Record a metadata-only commit as an entry DELTA against ``base``
    (usually the parent; ``restore`` passes the restore target): the
    manifest stores only this commit's added/removed entries — O(batch)
    bytes no matter how many files the table holds, which is what keeps N
    appends at O(N) cumulative metadata instead of the O(N²) a full list
    per commit costs. Every :data:`CHECKPOINT_EVERY` deltas the fold is
    materialized into a full checkpoint manifest instead, bounding read
    amplification. Field semantics otherwise identical to
    :func:`write_manifest`."""
    braw = _read_manifest_raw(table_dir, base)
    if braw is None:
        raise FileNotFoundError(
            f"{table_dir}: delta base {base} has no manifest"
        )
    depth = 1 if _is_full_manifest(braw) else braw["delta_depth"] + 1
    if depth > CHECKPOINT_EVERY:
        rm = set(remove)
        files = [
            e for e in read_manifest(table_dir, base)["files"] if e not in rm
        ] + list(add)
        # CONSOLIDATE chain-scattered per-entry stats/blooms into the
        # checkpoint (one O(distinct owners) gather, amortized over
        # CHECKPOINT_EVERY commits): without this, a pruned read of an
        # append-heavy table resolves each entry's stats from its OWNER's
        # manifest — O(appends) small metadata reads per read at 100k
        # commits. With it, entry_stats/entry_blooms answer from the fold
        # chain (≤ 1 checkpoint + CHECKPOINT_EVERY deltas), and stats
        # even survive the owners' manifests being vacuumed away.
        extra_fields = dict(extra_fields or {})
        entry_fields: dict = {}
        res = _FieldResolver(table_dir)  # shared raw cache, both fields
        own_blooms: dict = {}
        for field in ("stats", _BLOOMS_FIELD):
            cons = _gather_entry_field(
                table_dir, base, files, field, res=res
            )
            own = extra_fields.pop(field, None) or {}
            if field == _BLOOMS_FIELD:
                own_blooms = own
            for e, rec in own.items():  # write-time auto-attach wins
                cur_rec = cons.get(e) or {}  # may hold a None marker
                cur_rec.update(rec)
                cons[e] = cur_rec
            if cons:
                entry_fields[field] = cons
            if field == _BLOOMS_FIELD:
                # consolidate the COMMIT-LEVEL aggregate blooms too —
                # union the chain's (and probed owners') agg bitsets
                # so a miss probe keeps reading ≤ 1 sidecar per chain
                # manifest after any number of checkpoints
                from spookystuff_spark.sources.bloom_index import (
                    consolidate_agg_fields,
                )

                extra_fields.update(
                    consolidate_agg_fields(
                        table_dir, version, res, cons,
                        extra_fields, own_blooms,
                    )
                )
        # the gather ran: from here the fold chain is authoritative
        # for per-entry fields — later gathers and readers never
        # probe owner manifests again (see _CONSOLIDATED_KEY)
        extra_fields[_CONSOLIDATED_KEY] = True
        write_manifest(
            table_dir, version, files, schema_json, kind, parent=parent,
            extra_fields=extra_fields, entry_fields=entry_fields,
        )
        return
    import time

    payload = {
        "files_base": base,
        "files_add": list(add),
        "files_remove": list(remove),
        "delta_depth": depth,
        "schema": schema_json,
        "kind": kind,
        "parent": parent,
        "ts_ms": int(time.time() * 1000),
        "markers": [],  # see write_manifest — the marker index default
    }
    if extra_fields:
        payload.update(extra_fields)
    _write_manifest_raw(fsio.join(table_dir, version), payload)


_CORE_MANIFEST_KEYS = {
    _FORMAT_KEY, "files", _FILES_COUNT, _ENTRIES_REF, "schema", "kind",
    "parent", "ts_ms", "stats_ref", "blooms_ref", "consolidated",
    # agg blooms / spec-col coverage are spec-scoped like "blooms": a
    # content-preserving rewrite carrying them without the specs would
    # falsely claim coverage for files it just rewrote
    "agg_blooms", "bloom_spec_cols",
    *_DELTA_KEYS,
    # entry-scoped fields (stats, blooms) resolve chain-wise from the
    # manifest of the version that RECORDED them, and writer-owned fields
    # (dv/dv_keys/partition_col) are handled explicitly by every writer —
    # neither family is ever blind-carried
    "stats", "blooms", "dv", "dv_keys", "partition_col",
}


def carry_extra_fields(manifest: Optional[dict], exclude=()) -> dict:
    """Snapshot-scoped EXTRA manifest fields — anything a layer above
    recorded via ``extra_fields`` (e.g. the BM25 index's corpus stats) —
    for a CONTENT-PRESERVING commit (compact / compact_dv / restore /
    delete_where_dv) to carry forward. Without this, maintenance commits
    silently strip index metadata. Content-CHANGING commits must NOT
    blind-carry: their owners advance such fields themselves."""
    if not manifest:
        return {}
    return {
        k: v
        for k, v in manifest.items()
        if k not in _CORE_MANIFEST_KEYS and k not in exclude
    }


def _is_abs_entry(entry: str) -> bool:
    return "://" in entry or entry.startswith("/")


def _check_readable(table_dir: str, v: str, cur: str | None) -> None:
    """Version-read guard. The tip WITH a manifest is committed by
    construction under the commit-file protocol (one cheap raw read, no
    chain walk); everything else — explicit time travel above all — must
    be on the committed chain or refuse loudly, never serve torn data."""
    if v == cur and _read_manifest_raw(table_dir, v) is not None:
        return
    if v not in committed_versions(table_dir):
        raise FileNotFoundError(f"version {v} not committed in {table_dir}")


def _entries_and_paths(
    table_dir: str, manifest: dict
) -> tuple[list[str], list[str]]:
    """(relative manifest entries, full paths) of a folded manifest — the
    pair :func:`scan_entries` wants."""
    rel = list(manifest["files"])
    return rel, [
        e if _is_abs_entry(e) else fsio.join(table_dir, e) for e in rel
    ]


def snapshot_files(table_dir: str, version: str) -> list[str]:
    """Full paths of a snapshot's data files, from its manifest."""
    m = read_manifest(table_dir, version)
    if m is None:
        raise FileNotFoundError(f"{table_dir}: {version} has no manifest")
    return _entries_and_paths(table_dir, m)[1]


def snapshot_schema_json(table_dir: str, version: str) -> Optional[str]:
    m = _read_manifest_raw(table_dir, version)  # schema is raw in both forms
    return m.get("schema") if m else None


def _parquet_names(dir_path: str) -> list[str]:
    return [
        name
        for name, _ in fsio.file_infos(dir_path)
        if name.endswith(".parquet")
    ]


def _own_entries(table_dir: str, version: str) -> list[str]:
    """Manifest entries for the parquet files Spark just wrote into the
    version's own directory."""
    return [
        f"{version}/{name}"
        for name in _parquet_names(fsio.join(table_dir, version))
    ]


def _commit_snapshot(
    df_schema_json: str | None,
    table_dir: str,
    version: str,
    kind: str = "upsert",
    marker: str | None = None,
    expected_parent=_UNCHECKED,
    extra_fields: dict | None = None,
    delta_base: str | None = None,
) -> None:
    """Manifest (own files) → optional marker → commit file. The marker
    rides the same commit as the manifest: a crash before the commit
    leaves a dangling, never-read dir; after it, marker and snapshot are
    visible together — the hook streaming/sink.py uses for exactly-once
    batch idempotence.

    ``expected_parent``: the version the WRITER read its input snapshot
    from. If the tip no longer is it at commit time, another writer
    committed in between and this snapshot would erase their rows —
    :class:`ConcurrentWriteError` is raised instead, nothing commits,
    and the torn dir is ordinary vacuumable debris. The
    manifest's chain link is the EXPECTED parent (the state the data was
    derived from), never a re-read.

    ``delta_base``: record the commit as an entry DELTA against that
    version (own files added, nothing removed) — the O(batch)-metadata
    append path (:func:`write_manifest_delta`)."""
    if expected_parent is _UNCHECKED:
        parent = _latest(table_dir)
    else:
        parent = expected_parent
        now = _latest(table_dir)
        if now != expected_parent:
            raise ConcurrentWriteError(
                f"{table_dir}: expected parent {expected_parent!r} but the "
                f"table advanced to {now!r} — retry against the new state"
            )
    own = _own_entries(table_dir, version)
    if delta_base is not None:
        write_manifest_delta(
            table_dir, version, delta_base, own, (), df_schema_json, kind,
            parent=parent, extra_fields=extra_fields,
        )
    else:
        write_manifest(
            table_dir, version, own, df_schema_json, kind, parent=parent,
            extra_fields=extra_fields,
        )
    if marker:
        _stamp_marker(table_dir, version, marker)
    _finalize_commit(table_dir, version, parent)


def _write_change_feed(df: DataFrame, table_dir: str, version: str, kind: str) -> None:
    """Record this commit's change set under ``<version>/_changes`` (the
    Delta Change-Data-Feed idea): the rows are ALREADY known at commit time,
    so downstream CDC consumers (sources/versioned_source.py's streaming
    reader) read a tiny per-version log instead of diffing two full
    snapshots — the property that keeps table→stream incremental at 100 TB.
    Underscore-prefixed paths are invisible to snapshot scans (Hadoop's
    hidden-file convention), so time travel and reads are unaffected."""
    import pyspark.sql.functions as F

    df.withColumn("_change", F.lit(kind)).write.mode("errorifexists").parquet(
        fsio.join(table_dir, version, _CHANGES)
    )
    _write_feed_kinds(table_dir, version, [kind])


def _write_feed_kinds(
    table_dir: str, version: str, kinds: Sequence[str]
) -> None:
    """Writer-authored ``_KINDS`` sidecar: the exact set of ``_change``
    values this version's feed files carry. Incremental consumers
    (sources/incremental.py::_changes_since) answer their per-version
    feed-kind soundness check from it instead of running a
    ``distinct()`` Spark job over the feed rows — one fixed job per
    folded version, across every IVM/index refresh. Underscore-named,
    so snapshot and feed parquet scans never see it."""
    fsio.write_bytes(
        fsio.join(table_dir, version, _CHANGES, _FEED_KINDS),
        json.dumps(sorted(set(kinds))).encode(),
    )


def feed_kinds(table_dir: str, version: str) -> set:
    """The distinct ``_change`` kinds recorded for the version's row feed
    by its writer (the ``_KINDS`` sidecar every row-feed writer writes)."""
    p = fsio.join(table_dir, version, _CHANGES, _FEED_KINDS)
    return set(json.loads(fsio.read_bytes(p).decode()))


def _write_change_feed_refs(
    table_dir: str, version: str, entries: Sequence[str], kind: str
) -> None:
    """Metadata-only change feed: the change set IS a set of already-written
    data files, so the feed is a manifest referencing them plus a ``_kind``
    sidecar naming the change type (the reader fills the ``_change`` column
    from it). Zero extra data written — the appended rows are the feed."""
    feed = fsio.join(table_dir, version, _CHANGES)
    fsio.mkdirs(feed)
    _write_manifest_raw(feed, {"files": list(entries)})
    fsio.write_bytes(fsio.join(feed, _KIND), kind.encode())


#: Arrow type categories parquet_schema_of trusts for driver-side schema
#: resolution — flat, zone-free types whose arrow→Spark mapping is exact.
#: Timestamps are deliberately EXCLUDED: Spark's TIMESTAMP vs TIMESTAMP_NTZ
#: round-trip depends on reader config, and a silently flipped zone
#: semantics would corrupt values, not just types. Anything outside the
#: list falls back to Spark's own inference job.
def _arrow_type_ok(t) -> bool:
    import pyarrow as pa

    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_decimal(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_date(t)
    )


def parquet_schema_of(paths: Sequence[str]):
    """Spark ``StructType`` of a parquet file set, resolved DRIVER-SIDE
    from the footers (pyarrow, through :mod:`fsio`) —
    ``spark.read.parquet`` without an explicit schema runs a
    schema-inference JOB per call, a pure fixed cost paid by every feed /
    deletion-vector / snapshot re-read on every refresh (guide §1.2:
    don't compute what you can read off metadata). Returns None when any
    footer is unreadable, the footer schemas are not all identical (the
    inference read adopts ONE file's schema, so a pinned union would
    expose different columns), or a column's type is outside the trusted
    flat-type list — callers then fall back to the inference job, so this
    is an optimization with no behavior change."""
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        flat: list[str] = []
        for p in paths:
            if fsio.is_dir(p):
                flat.extend(fsio.join(p, n) for n in _parquet_names(p))
            else:
                flat.append(p)
        schema = None
        for p in flat:
            with fsio.open_input(p) as f:
                s = pq.read_schema(f)
            if schema is None:
                schema = s
            elif not s.equals(schema):
                return None
        if schema is None:
            return None
        if not all(_arrow_type_ok(f.type) for f in schema):
            return None
        return from_arrow_schema(schema)
    except Exception:  # noqa: BLE001 — any doubt → Spark's own inference
        return None


def read_parquet_pinned(spark: SparkSession, paths: Sequence[str]):
    """``spark.read.parquet`` with the schema pre-resolved driver-side
    when possible (see :func:`parquet_schema_of`) — skips the per-call
    schema-inference job."""
    schema = parquet_schema_of(paths)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)


def change_files(table_dir: str, version: str) -> tuple[list[str], str | None]:
    """(full paths of the version's change-feed parquet files, fill kind).

    ``kind`` is non-None when the feed files lack a ``_change`` column (the
    metadata-only reference feeds of ``append_rows`` / the DataSource
    writer) — readers fill the column with it. A version with no feed
    (compaction) returns ([], None)."""
    feed = fsio.join(table_dir, version, _CHANGES)
    kind = None
    kind_path = fsio.join(feed, _KIND)
    if fsio.exists(kind_path):
        kind = fsio.read_bytes(kind_path).decode().strip() or None
    mpath = fsio.join(feed, _MANIFEST)
    if fsio.exists(mpath):  # a reference feed (see _write_change_feed_refs)
        return _entries_and_paths(table_dir, _load_manifest(mpath))[1], kind
    return [fsio.join(feed, n) for n in _parquet_names(feed)], kind


# ------------------------------------------------------------ public API


def rename_log_of(manifest: Optional[dict]) -> list[dict]:
    """Chronological rename EVENTS ``[{"v": commit, "old", "new"}, ...]`` —
    the per-entry column mapping: an entry owned by version w carries a
    column under the name it had AT w (files written after a rename carry
    the then-current logical names; earlier files keep older ones). Every
    rename commit writes the log, and every commit carrying renames
    carries it forward."""
    return list((manifest or {}).get("rename_log") or ())


def _event_after_owner(ev_v: str, owner: str) -> bool:
    """Is a rename event committed at ``ev_v`` newer than files owned by
    ``owner``? Numeric comparison (:func:`_vnum` — lexical breaks at the
    v99999→v100000 width transition); ``owner == ''`` (absolute/external
    entries) predates everything, the conservative reading."""
    return owner == "" or _vnum(ev_v) > _vnum(owner)


def physical_name_for_entry(
    rename_log: Sequence[dict], owner: str, logical: str
) -> str:
    """The column name entry files owned by ``owner`` carry for the
    current ``logical`` name: walk rename events newer than the owner
    backwards, un-applying each. Absolute (external) entries pass owner=''
    so every event applies — the conservative reading."""
    name = logical
    for ev in reversed(list(rename_log)):
        if _event_after_owner(ev["v"], owner) and name == ev["new"]:
            name = ev["old"]
    return name


def retired_column_names(manifest: Optional[dict]) -> set[str]:
    """Names that still exist PHYSICALLY in some carried file but are no
    longer (or never were) the logical name: rename sources (original and
    intermediate) and dropped columns. Appends must refuse to introduce a
    NEW column under any of these — old files would resurrect stale
    values into it under schema-on-read (the reason Delta uses column
    IDs; refusal-until-compact is this module's equivalent)."""
    if not manifest:
        return set()
    out = {ev["old"] for ev in rename_log_of(manifest)}
    out |= set((manifest.get("renames") or {}).keys())
    out |= set(manifest.get("drops") or ())
    return out


def _refuse_retired_names(
    table_dir: str, manifest: Optional[dict], new_cols: Sequence[str]
) -> None:
    """Appends may introduce NEW columns (additive schema evolution) but
    never under a RETIRED physical name — see
    :func:`retired_column_names`."""
    if manifest is None:
        return
    cur_names: set[str] = set()
    if manifest.get("schema"):
        cur_names = {
            f["name"] for f in json.loads(manifest["schema"])["fields"]
        }
    retired = retired_column_names(manifest) - cur_names
    bad = sorted(c for c in new_cols if c in retired)
    if bad:
        raise ValueError(
            f"{table_dir}: column(s) {bad} reuse retired physical names — "
            "carried files still hold stale values under them and "
            "schema-on-read would resurrect those; compact() first, or "
            "pick a fresh name"
        )


def _schema_map_fields(manifest: dict) -> dict:
    """The schema-evolution fields an append carries forward: the
    collapsed ``renames`` map with its ``rename_log``, and the ``drops``
    list."""
    out: dict = {}
    if manifest.get("renames"):
        out["renames"] = manifest["renames"]
        out["rename_log"] = manifest["rename_log"]
    if manifest.get("drops"):
        out["drops"] = manifest["drops"]
    return out


def scan_entries(
    spark: SparkSession,
    table_dir: str,
    manifest: Optional[dict],
    rel_entries: Sequence[str],
    full_paths: Sequence[str],
    file_col: str | None = None,
):
    """Schema-pinned scan of a snapshot's (sub)set of files with PER-ENTRY
    column-name translation — the one reader every snapshot consumer
    funnels through. Files written before a rename carry the old physical
    name, files written after carry the new one (column-mapping appends):
    entries group by which rename events postdate their owning commit,
    each group scans with its own physical schema, renames to logical,
    and the groups union (at most #rename-events+1 groups, typically 1).
    ``file_col``: additionally capture ``input_file_name()`` ON each
    scan (it must be attached before any join). Deletion vectors are NOT
    applied here — callers compose them."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructField, StructType

    schema_json = (manifest or {}).get("schema")
    schema = (
        StructType.fromJson(json.loads(schema_json)) if schema_json else None
    )
    if not full_paths:
        if schema is None:
            raise FileNotFoundError(f"empty snapshot in {table_dir}")
        df = spark.createDataFrame([], schema)
        if file_col:
            df = df.withColumn(file_col, F.lit(None).cast("string"))
        return df

    def with_file(df):
        if not file_col:
            return df
        return df.withColumn(file_col, F.input_file_name())

    if schema is None:
        return with_file(spark.read.parquet(*full_paths))
    log = rename_log_of(manifest)
    if not log:
        return with_file(spark.read.schema(schema).parquet(*full_paths))
    groups: dict = {}
    for e, f in zip(rel_entries, full_paths):
        owner = "" if _is_abs_entry(e) else e.split("/", 1)[0]
        key = tuple(
            i
            for i, ev in enumerate(log)
            if _event_after_owner(ev["v"], owner)
        )
        groups.setdefault(key, []).append(f)
    parts = []
    for key, paths in groups.items():
        mapping = {}
        for fld in schema.fields:
            name = fld.name
            for i in reversed(key):
                if name == log[i]["new"]:
                    name = log[i]["old"]
            mapping[fld.name] = name
        scan_schema = StructType(
            [
                StructField(mapping[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        df = with_file(spark.read.schema(scan_schema).parquet(*paths))
        ren = {p: l for l, p in mapping.items() if p != l}
        if ren:
            df = df.withColumnsRenamed(ren)
        parts.append(
            df.select(
                *[f.name for f in schema.fields],
                *([file_col] if file_col else []),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def rename_column(table_dir: str, old: str, new: str) -> str:
    """RENAME COLUMN as a METADATA-ONLY commit (Delta/Iceberg column
    mapping, refusal-first): the manifest's schema gets the new name and a
    ``renames`` {physical: logical} map records how readers translate the
    immutable files' column names — zero data IO. Readers apply the map at
    scan time; ``compact``/``upsert`` (full rewrites through the logical
    view) MATERIALIZE it; metadata-only appends and the partitioned MERGE
    refuse a renamed table until then (mixed physical names across carried
    files is the failure mode to refuse). Renaming is refused while
    deletion vectors are outstanding (their key files carry the old name)
    and for the partition column (its name is baked into the layout)."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = _read_manifest_raw(table_dir, cur)  # metadata-only: no fold needed
    if m is None:
        raise FileNotFoundError(f"{cur} has no manifest")
    if m.get("dv"):
        raise ValueError(
            f"{table_dir}: deletion vectors outstanding — their key files "
            "carry the old column name; compact() first"
        )
    if m.get("drops"):
        raise ValueError(
            f"{table_dir}: column drops outstanding — compact() first"
        )
    if m.get("partition_col") == old:
        raise ValueError(
            f"{table_dir}: {old!r} is the partition column — its name is "
            "baked into the layout; rewrite with write_table_partitioned"
        )
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(m["schema"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"{table_dir}: no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"{table_dir}: column {new!r} already exists")
    renamed = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    if new in retired_column_names(m):
        raise ValueError(
            f"{table_dir}: {new!r} is a retired physical name (a prior "
            "rename source) — carried files still hold stale values under "
            "it; compact() first"
        )
    renames = dict(m.get("renames") or {})
    phys = next((p for p, l in renames.items() if l == old), old)
    renames[phys] = new
    v = _next_version(table_dir)
    fsio.mkdirs(fsio.join(table_dir, v))
    # the EVENT log (alongside the collapsed map) is what lets appends keep
    # flowing after a rename: files written later carry the new name, and
    # readers translate per entry by comparing owners against event commits
    log = rename_log_of(m) + [{"v": v, "old": old, "new": new}]
    extra = {"renames": renames, "rename_log": log}
    if m.get("partition_col"):
        extra["partition_col"] = m["partition_col"]
    extra.update(carry_extra_fields(m, exclude=("renames", "rename_log")))
    write_manifest_delta(
        table_dir, v, cur, (), (), renamed.json(), "rename",
        parent=cur, extra_fields=extra,
    )
    _finalize_commit(table_dir, v, cur)
    return v


def drop_column(table_dir: str, col: str) -> str:
    """DROP COLUMN as a METADATA-ONLY commit: the manifest's schema loses
    the field and a ``drops`` list records the physical name so the Arrow
    reader can distinguish "deliberately dropped" from "corrupt footer".
    Native readers need nothing extra — a schema-pinned parquet scan
    ignores file columns outside the schema. Same refusal-first
    composition as :func:`rename_column`: refused while deletion vectors
    or renames are outstanding, for the partition column, and for the last
    remaining column; metadata-only appends refuse until ``compact``
    materializes the drop (full rewrites clear it naturally)."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = _read_manifest_raw(table_dir, cur)  # metadata-only: no fold needed
    if m is None:
        raise FileNotFoundError(f"{cur} has no manifest")
    if m.get("dv"):
        raise ValueError(
            f"{table_dir}: deletion vectors outstanding — compact() first"
        )
    if m.get("renames"):
        raise ValueError(
            f"{table_dir}: column renames outstanding — compact() first"
        )
    if m.get("partition_col") == col:
        raise ValueError(
            f"{table_dir}: {col!r} is the partition column — its name is "
            "baked into the layout"
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(m["schema"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"{table_dir}: no column {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError(f"{table_dir}: cannot drop the last column")
    remaining = StructType([f for f in schema.fields if f.name != col])
    drops = sorted(set(m.get("drops") or []) | {col})
    v = _next_version(table_dir)
    fsio.mkdirs(fsio.join(table_dir, v))
    extra = {"drops": drops}
    if m.get("partition_col"):
        extra["partition_col"] = m["partition_col"]
    extra.update(carry_extra_fields(m, exclude=("drops", "rename_log")))
    write_manifest_delta(
        table_dir, v, cur, (), (), remaining.json(), "drop",
        parent=cur, extra_fields=extra,
    )
    _finalize_commit(table_dir, v, cur)
    return v


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: str | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Read the current snapshot, or time-travel to an earlier committed
    ``version`` (any complete dir ≤ the pointer that vacuum hasn't dropped).
    The scan is the manifest's file list with the manifest's schema pinned —
    under additive schema evolution old files simply project missing columns
    as nulls (parquet is schema-on-read), so a snapshot mixing pre- and
    post-evolution files reads consistently."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    if as_of_ms is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ms, not both")
        version = version_at(table_dir, as_of_ms)
    v = version or cur
    _check_readable(table_dir, v, cur)
    m = read_manifest(table_dir, v)
    rel, files = _entries_and_paths(table_dir, m)
    # per-entry physical→logical column translation (column-mapping
    # appends): scan_entries groups files by rename epoch
    df = scan_entries(spark, table_dir, m, rel, files)
    # merge-on-read: apply this version's accumulated deletion vectors
    return _apply_deletion_vectors(spark, table_dir, v, df)


def _bloom_extra(
    spark: SparkSession, table_dir: str, version: str, bloom_cols,
    entries: Sequence[str] | None = None,
) -> dict | None:
    """Write-time bloom auto-attach (sources/bloom_index.py): specs for the
    commit's own files, built executor-side, riding the same atomic
    manifest commit — fresh files are point-lookup-prunable with no second
    pass. Lazy import: bloom_index imports this module."""
    if not bloom_cols:
        return None
    from spookystuff_spark.sources.bloom_index import bloom_fields

    return bloom_fields(
        spark, table_dir, version,
        entries if entries is not None else _own_entries(table_dir, version),
        list(bloom_cols),
    )


def write_table(
    df: DataFrame,
    table_dir: str,
    marker: str | None = None,
    change_feed: bool = True,
    bloom_cols: Sequence[str] | None = None,
) -> str:
    """Create/replace the table with a fresh snapshot. Returns the version.
    ``bloom_cols``: auto-attach per-file bloom indexes for those columns at
    commit time (see :func:`_bloom_extra`)."""
    _enforce_checks(df, table_dir)
    fsio.mkdirs(table_dir)
    v = _next_version(table_dir)
    df.write.mode("errorifexists").parquet(fsio.join(table_dir, v))
    if change_feed:
        # the change set IS the new snapshot, so the feed is a METADATA
        # reference over the just-written files (the append_rows trick) —
        # the previous real feed re-read and re-wrote every snapshot byte
        # a second time. Consumers are unchanged: readers fill
        # ``_change='upsert'`` from the _KIND sidecar, and a non-first
        # 'upsert' version still refuses incremental folds exactly as the
        # row feed did (a snapshot REPLACE has no preimages to retract).
        _write_change_feed_refs(
            table_dir, v, _own_entries(table_dir, v), "upsert"
        )
    _commit_snapshot(
        df.schema.json(), table_dir, v, "upsert", marker,
        extra_fields=_bloom_extra(df.sparkSession, table_dir, v, bloom_cols),
    )
    return v


def upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    marker: str | None = None,
    change_feed: bool = True,
    feed_preimages: bool = False,
) -> str:
    """MERGE: rows matching an update key are replaced, others kept, new keys
    inserted. One anti-join (update keys broadcast when small) + one union;
    the new snapshot commits through the commit file. Returns the version.

    ``feed_preimages=True`` additionally logs the REPLACED rows (the old
    values of matched update keys) to the change feed as
    ``_change='update_preimage'`` — Delta CDF's preimage rows, which is
    what makes decomposable aggregates incrementally maintainable from the
    feed alone (sources/incremental.py): an update contributes
    postimage − preimage instead of requiring a snapshot diff."""
    _enforce_checks(updates, table_dir)
    cur_v = _latest(table_dir)
    if cur_v is None:
        return write_table(updates, table_dir, marker, change_feed)
    current = read_table(spark, table_dir)
    keys = updates.select(*key_cols).distinct()
    kept = current.join(keys, list(key_cols), "left_anti")
    # schema evolution (additive, both directions): a column present on only
    # one side materializes as NULL on the other — the new snapshot's schema
    # is the union, old snapshots keep theirs (time travel is schema travel)
    merged = kept.unionByName(updates, allowMissingColumns=True)
    v = _next_version(table_dir)
    merged.write.mode("errorifexists").parquet(fsio.join(table_dir, v))
    if change_feed:
        import pyspark.sql.functions as F

        # the change set IS the updates frame — re-read it from the freshly
        # written snapshot (semi-join on the update keys) so the feed write
        # doesn't recompute the caller's arbitrary lineage; preimage rows
        # union into the SAME write (one feed job, one uniform schema —
        # the old second mode("append") write paid a separate job and
        # could leave a mixed-schema feed dir under schema evolution).
        # Schema PINNED to what was just written — inference would pay a
        # footer-scan job per upsert (guide §1.2 fixed-cost rule)
        snap = spark.read.schema(merged.schema).parquet(
            fsio.join(table_dir, v)
        )
        feed = snap.join(keys, list(key_cols), "leftsemi").withColumn(
            "_change", F.lit("upsert")
        )
        if feed_preimages:
            pre = current.join(keys, list(key_cols), "leftsemi")
            feed = feed.unionByName(
                pre.withColumn("_change", F.lit("update_preimage")),
                allowMissingColumns=True,
            )
        feed.write.mode("errorifexists").parquet(
            fsio.join(table_dir, v, _CHANGES)
        )
        if feed_preimages:
            # an insert-only batch logs ZERO preimage rows, which is
            # indistinguishable from "preimages never logged" by row
            # inspection — the sidecar tells IVM consumers the feed is
            # complete (sources/incremental.py accepts it)
            fsio.touch(fsio.join(table_dir, v, _CHANGES, _PREIMAGED))
            _write_feed_kinds(table_dir, v, ["upsert", "update_preimage"])
        else:
            _write_feed_kinds(table_dir, v, ["upsert"])
    _commit_snapshot(
        merged.schema.json(), table_dir, v, "upsert", marker,
        expected_parent=cur_v,
    )
    return v


def append_rows(
    spark: SparkSession,
    table_dir: str,
    rows: DataFrame,
    marker: str | None = None,
    change_feed: bool = True,
    bloom_cols: Sequence[str] | None = None,
) -> str:
    """Blind append as a METADATA-ONLY commit: only ``rows`` are written; the
    previous snapshot's immutable data files are carried forward by manifest
    reference — no links, no copies, object-store-safe. An append-heavy
    table (e.g. a streaming dedup state) therefore costs O(batch) per
    commit, not O(table) — the snapshot-rewrite cost stays reserved for
    keyed upserts, which actually change old rows. The manifest itself is a
    DELTA against the parent (:func:`write_manifest_delta`), so the
    metadata write is O(batch) too — N appends cost O(N) cumulative
    manifest bytes plus a checkpoint every :data:`CHECKPOINT_EVERY`
    commits, never the O(N²) a full file list per commit accumulates. The
    change feed is the same metadata trick: a reference manifest over the
    new files, so CDC consumers see appends without a second write."""
    _enforce_checks(rows, table_dir)
    fsio.mkdirs(table_dir)
    cur = _latest(table_dir)
    pm = _read_manifest_raw(table_dir, cur) if cur is not None else None
    # column-mapping appends: outstanding renames/drops DON'T block the
    # write surface (Delta column-mapping semantics) — new files carry the
    # CURRENT logical names, the carried rename_log tells readers how each
    # older entry's physical names translate. The one refusal left is
    # reusing a RETIRED physical name for a new column: old files still
    # hold stale values under it, and schema-on-read would resurrect them.
    _refuse_retired_names(table_dir, pm, rows.columns)
    v = _next_version(table_dir)
    rows.write.mode("errorifexists").parquet(fsio.join(table_dir, v))
    schema_json = rows.schema.json()
    if pm is not None and pm.get("schema"):
        # appended columns evolve the schema additively, like upsert
        schema_json = _union_schema_json(pm["schema"], rows.schema)
    if change_feed:
        _write_change_feed_refs(
            table_dir, v, _own_entries(table_dir, v), "insert"
        )
    # a metadata-only append must CARRY any accumulated deletion vectors —
    # it never materializes the snapshot, so dropping them would resurrect
    # deleted rows
    carried = {}
    if pm is not None and pm.get("dv"):
        carried = {"dv": pm["dv"], "dv_keys": pm["dv_keys"]}
    if pm is not None:
        carried.update(_schema_map_fields(pm))
    carried.update(_bloom_extra(spark, table_dir, v, bloom_cols) or {})
    _commit_snapshot(
        schema_json, table_dir, v, "append", marker,
        expected_parent=cur, extra_fields=carried or None, delta_base=cur,
    )
    return v


def _union_schema_json(prev_schema_json: str, new_schema) -> str:
    from pyspark.sql.types import StructType

    prev = StructType.fromJson(json.loads(prev_schema_json))
    fields = list(prev.fields)
    have = {f.name for f in fields}
    for f in new_schema.fields:
        if f.name not in have:
            fields.append(f)
    return StructType(fields).json()


def clone_table(src_dir: str, dst_dir: str) -> str:
    """Zero-copy (shallow) clone: a fresh single-version table whose manifest
    references the source snapshot's immutable files by absolute path — the
    dev/test-sandbox idiom that at 100 TB must be metadata-only, never a data
    copy. The clone is fully independent afterwards (its own pointer, its own
    future versions); the shared files are immutable by protocol, so neither
    side can corrupt the other. Caveat (same as Delta's shallow clone):
    ``vacuum`` on the SOURCE may eventually drop files the clone still
    references — deep-copy or re-snapshot the clone before vacuuming the
    source below the cloned version."""
    cur = _latest(src_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {src_dir}")
    parent = _latest(dst_dir)  # None for a fresh clone dir
    v = _next_version(dst_dir)
    fsio.mkdirs(fsio.join(dst_dir, v))
    # reader-state must clone WITH the files: deletion vectors (or the
    # clone resurrects deleted rows) and schema maps (or renamed sources'
    # physical names stop translating). DV entries become absolute paths
    # into the source, like the data files.
    src_m = _read_manifest_raw(src_dir, cur) or {}
    # absolute entries erase their owning commits, so PER-ENTRY rename-
    # epoch translation is impossible in a clone: a snapshot whose entries
    # all predate every rename event clones fine (the carried maps apply
    # uniformly to absolute entries), but a MIXED-epoch snapshot
    # (post-rename column-mapping appends) would silently null-read the
    # renamed column from its newer files; refuse and compact first.
    log = rename_log_of(src_m)
    if log:
        min_ev = min(_vnum(ev["v"]) for ev in log)
        src_folded = read_manifest(src_dir, cur) or {"files": []}
        mixed = any(
            not _is_abs_entry(e) and _vnum(e.split("/", 1)[0]) >= min_ev
            for e in src_folded["files"]
        )
        if mixed:
            raise ValueError(
                f"{src_dir}: snapshot {cur} mixes pre- and post-rename "
                "files (column-mapping appends) — a clone's absolute "
                "entries cannot translate per epoch; compact() the source "
                "first"
            )
    extra: dict = {}
    if src_m.get("dv"):
        extra["dv"] = [
            e if _is_abs_entry(e) else fsio.join(src_dir, e)
            for e in src_m["dv"]
        ]
        extra["dv_keys"] = src_m["dv_keys"]
    if src_m.get("partition_col"):
        extra["partition_col"] = src_m["partition_col"]
    extra.update(_schema_map_fields(src_m))
    extra.update(
        carry_extra_fields(src_m, exclude=("renames", "drops", "rename_log"))
    )
    write_manifest(
        dst_dir,
        v,
        snapshot_files(src_dir, cur),  # absolute paths into src
        snapshot_schema_json(src_dir, cur),
        "clone",
        parent=parent,
        extra_fields=extra or None,
    )
    _finalize_commit(dst_dir, v, parent)
    return v


def delete_where(
    spark: SparkSession, table_dir: str, condition, change_feed: bool = True
) -> str:
    """Anti-delete: new snapshot without rows matching ``condition``."""
    cur = _latest(table_dir)
    current = read_table(spark, table_dir)
    v = _next_version(table_dir)
    current.where(~condition).write.mode("errorifexists").parquet(
        fsio.join(table_dir, v)
    )
    if change_feed:
        # deleted rows come from the (immutable) PREVIOUS snapshot scan
        _write_change_feed(current.where(condition), table_dir, v, "delete")
    _commit_snapshot(
        current.schema.json(), table_dir, v, "delete",
        expected_parent=cur,
    )
    return v


def compact(
    spark: SparkSession,
    table_dir: str,
    num_files: int = 8,
    marker: str | None = None,
    zorder_by: Sequence[str] | None = None,
) -> str:
    """Rewrite the current snapshot into ``num_files`` files (small-file
    compaction; same manifest + commit-file commit, no change feed — the
    logical content is unchanged). ``marker``: carry a stream batch marker
    into the compacted version so maintenance under a streaming sink keeps
    replay protection even after ``vacuum`` drops the marker's original
    append version (streaming/neardup_stream.py).

    ``zorder_by``: cluster the rewrite on the Z-curve over those columns
    (Delta's ``OPTIMIZE ... ZORDER BY`` for this table format): range
    partitioning + an in-partition sort on the interleaved key, so every
    output file's parquet min/max footprint is tight in EVERY clustered
    dimension and selective filters on any of them prune files at scan
    planning (operators/layout.py's skipping proof applies verbatim)."""
    cur = _latest(table_dir)
    current = read_table(spark, table_dir)
    v = _next_version(table_dir)
    vdir = fsio.join(table_dir, v)
    if zorder_by:
        from spookystuff_spark.operators.layout import zorder_key

        (
            current.withColumn("__z", zorder_key(list(zorder_by)))
            .repartitionByRange(num_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("errorifexists")
            .parquet(vdir)
        )
    else:
        current.repartition(num_files).write.mode("errorifexists").parquet(vdir)
    _commit_snapshot(
        current.schema.json(), table_dir, v, "compact", marker,
        expected_parent=cur,
        extra_fields=carry_extra_fields(
            _read_manifest_raw(table_dir, cur),
            exclude=("renames", "rename_log", "drops"),
        ) or None,
    )
    return v


def snapshot_file_stats(table_dir: str, version: str | None = None) -> dict:
    """{n_files, total_bytes, min_bytes, max_bytes, sizes} of a snapshot's
    data files — the observability half of compaction: many small files
    means task-per-file scheduling overhead and poor scan locality; a few
    huge ones means no parallelism. One batched ``get_file_info`` per
    filesystem (fsio.sizes)."""
    v = version or _latest(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    file_sizes = fsio.sizes(snapshot_files(table_dir, v))
    return {
        "n_files": len(file_sizes),
        "total_bytes": sum(file_sizes),
        "min_bytes": min(file_sizes, default=0),
        "max_bytes": max(file_sizes, default=0),
        "sizes": sorted(file_sizes),
    }


def compact_auto(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    threshold: float = 0.5,
    zorder_by: Sequence[str] | None = None,
) -> str | None:
    """Size-aware compaction (the OPTIMIZE of a real lakehouse): measure the
    current snapshot's file-size distribution, and iff the MEDIAN data file
    is under ``threshold × target`` rewrite into ``ceil(total / target)``
    files. Returns the new version, or None when the layout is already
    healthy — callers loop this after streaming upserts (each micro-batch
    snapshot writes shuffle-partition-many small files) without paying a
    rewrite when nothing needs one.

    128 MB default target ≈ one HDFS block / one comfortable scan task; at
    100 TB that's ~800k files, each a single task with locality."""
    stats = snapshot_file_stats(table_dir)
    if stats["n_files"] == 0:
        return None
    median = stats["sizes"][stats["n_files"] // 2]
    if stats["n_files"] > 1 and median < threshold * target_file_bytes:
        n = max(1, -(-stats["total_bytes"] // target_file_bytes))
        return compact(
            spark, table_dir, num_files=int(n), zorder_by=zorder_by
        )
    return None


def versions(table_dir: str) -> list[str]:
    return sorted(
        (d for d in fsio.ls(table_dir) if d.startswith("v") and d[1:].isdigit()),
        key=_vnum,
    )


def chain_desc(table_dir: str):
    """Committed (version, raw manifest) pairs NEWEST-FIRST, lazily: the
    tip, then one parent-link manifest read per step. Consumers that stop
    early — watermark walks, where the newest marker is usually on the
    tip — pay O(steps taken), never the O(full history) of
    :func:`committed_versions`. Same chain rule: dirs off the parent
    chain are invisible; the walk ends at the root or at the first
    version vacuum dropped the manifest of."""
    seen: set[str] = set()
    v: str | None = _latest(table_dir)
    while v and v not in seen:
        m = _read_manifest_raw(table_dir, v)
        if m is None:
            return
        yield v, m
        seen.add(v)
        v = m["parent"]


def committed_versions(table_dir: str) -> list[str]:
    """Versions safe to read: the manifest PARENT CHAIN walked back from the
    tip (the commit-log rule). Dirs outside the chain are crashed-writer
    debris regardless of what they contain — data files, Spark's
    ``_SUCCESS``, even a complete manifest whose commit file never
    appeared (``_next_version`` leapfrogs them, so they can sit below the
    tip looking exactly like history that never was)."""
    return sorted((v for v, _ in chain_desc(table_dir)), key=_vnum)


def vacuum(
    table_dir: str, keep: int = 2, retain_ms: int | None = None
) -> list[str]:
    """Drop all but the newest ``keep`` committed versions (never the current
    one). Also removes dangling dirs from crashed writers — above OR below
    the pointer (the latter exist because ``_next_version`` leapfrogs them).

    ``retain_ms``: additionally PROTECT every version committed within the
    last ``retain_ms`` milliseconds regardless of ``keep`` (Delta's
    ``VACUUM ... RETAIN`` contract) — the guard that keeps time travel and
    in-flight readers alive under an aggressive ``keep``. A version with no
    recorded timestamp is conservatively retained.

    Manifest-aware: a data file physically inside a dropped version dir that
    a KEPT version's manifest still references (metadata-only appends carry
    old files forward by reference) is preserved; only unreferenced files
    and the dropped version's metadata are deleted. A version whose dir
    still holds referenced files loses its manifest (no longer
    time-travelable) but keeps the data — a later vacuum frees it once
    nothing references it. Returns fully removed version names.

    Vacuum DELETES, so it never trusts the verified-pointer fast path: the
    tip it protects is resolved from the authoritative ``_commits``
    listing."""
    cur = _latest_from_listing(table_dir)
    vs = versions(table_dir)
    committed = committed_versions(table_dir)
    dangling = [v for v in vs if v not in committed]
    drop = committed[:-keep] if keep > 0 else committed[:-1]
    if retain_ms is not None:
        import time

        cutoff = int(time.time() * 1000) - retain_ms
        recent = set()
        for v in drop:
            m = _read_manifest_raw(table_dir, v) or {}  # ts_ms is raw
            ts = m.get("ts_ms")
            if ts is None or ts >= cutoff:
                recent.add(v)
        drop = [v for v in drop if v not in recent]
    kept_versions = [v for v in vs if v not in drop and v not in dangling]
    # referenced-set assembly is SCOPED to the versions this run will
    # sweep: only entries physically inside a doomed dir are ever probed
    # below, so the set is O(doomed versions' files), never O(table
    # files) — a vacuum of 2 old versions on a million-file table holds
    # only the handful of carried-forward entries in driver memory
    doomed = {v for v in drop + dangling if v != cur}
    referenced: set[str] = set()
    for v in kept_versions:
        if not doomed:
            break
        referenced |= _entries_under(table_dir, v, doomed)
        raw_v = _read_manifest_raw(table_dir, v) or {}
        referenced.update(
            e
            for e in (raw_v.get("dv") or ())
            if not _is_abs_entry(e) and e.split("/", 1)[0] in doomed
        )
    # a kept DELTA manifest whose fold chain reads a doomed version's
    # manifest must be MATERIALIZED first (full file list written in
    # place), or dropping the base would break every later fold — the
    # delta-chain analogue of the referenced-files guard above. Kept FULL
    # manifests aren't immune either: their foreign-owned entries may
    # still resolve stats/blooms from doomed OWNER manifests
    # (pre-consolidation tables), so those records are consolidated into
    # the kept manifest before the owners die. Runs while all chains are
    # still intact; referenced bloom SIDECARS are kept alive below.
    referenced_sidecars: set[str] = set()
    if doomed:
        fields = ("stats", _BLOOMS_FIELD)
        res = _FieldResolver(table_dir)  # shared across kept versions
        for v in kept_versions:
            raw = res.raw(v)
            if raw is None:
                continue
            is_delta = not _is_full_manifest(raw)
            needs_mat = is_delta and bool(
                set(_fold_chain(table_dir, v)) & doomed
            )
            # resolve every entry's stats/bloom record, tracking whether
            # any record is reachable ONLY through a doomed owner
            # manifest (chain manifests of an intact chain survive, so
            # records already consolidated there are safe as-is; a
            # consolidated chain is authoritative — no owner probing)
            folded = read_manifest(table_dir, v)
            gathered: dict = {f: {} for f in fields}
            at_risk = False
            # THIS version's gather provenance — the chain plus every
            # owner actually consulted — scopes the agg-bloom coverage
            # check below (the shared resolver's cache holds other kept
            # versions' manifests too, which must not pollute it)
            consulted: set = {v, *_fold_chain(table_dir, v)}
            for f in fields:
                merged, consolidated = res.chain_merged(v, f)
                for e in folded["files"]:
                    if e in merged:  # incl. negative markers
                        rec = merged[e]
                        if rec:
                            gathered[f][e] = rec
                        continue
                    if consolidated or _is_abs_entry(e):
                        continue
                    owner = e.split("/", 1)[0]
                    consulted.add(owner)
                    rec = res.field_of(owner, f).get(e)
                    if rec:
                        gathered[f][e] = rec
                        if owner in doomed:
                            at_risk = True
            # bloom sidecars kept manifests still point at must outlive
            # their owner's metadata, or every later probe pays one
            # failed GET per file and never prunes
            for per_col in gathered[_BLOOMS_FIELD].values():
                for spec in per_col.values():
                    referenced_sidecars.add(spec.get("path"))
            # commit-level AGGREGATE bloom sidecars referenced by kept
            # chain manifests likewise survive (a vacuumed agg bitset
            # merely disables the fast-miss path — but keeping it is one
            # small file)
            for w in [v] + _fold_chain(table_dir, v):
                for lst in ((res.raw(w) or {}).get("agg_blooms") or {}).values():
                    for spec in lst:
                        referenced_sidecars.add(spec.get("path"))
            if not needs_mat and not at_risk:
                continue
            if needs_mat:
                new_raw = {
                    k: val for k, val in raw.items() if k not in _DELTA_KEYS
                }
                for f in fields:
                    new_raw.pop(f, None)
                    new_raw.pop(f"{f}_ref", None)
                for k in (_FILES_COUNT, _ENTRIES_REF):
                    new_raw.pop(k, None)
                # one write carries the file list AND the gathered fields
                # (parquet entry table above the inline threshold)
                new_raw.update(
                    _files_fields(table_dir, v, folded["files"], gathered)
                )
            else:
                new_raw = dict(raw)
                for f in fields:
                    new_raw.pop(f, None)
                    new_raw.pop(f"{f}_ref", None)
                    if gathered[f]:
                        new_raw.update(
                            _field_fields(table_dir, v, f, gathered[f])
                        )
            # the rewrite's spec map now spans the WHOLE gathered chain:
            # carrying the old commit-scoped agg blooms / coverage keys
            # would claim the tip's tiny aggregate covers every gathered
            # spec — a FALSE NEGATIVE on the probe's fast-miss path.
            # Re-consolidate them against the rewrite's actual spec map
            # (the checkpoint hook), dropping any uncovered column.
            new_raw.pop("agg_blooms", None)
            new_raw.pop("bloom_spec_cols", None)
            from spookystuff_spark.sources.bloom_index import (
                consolidate_agg_fields,
            )

            new_raw.update(
                consolidate_agg_fields(
                    table_dir, v, res, gathered[_BLOOMS_FIELD], {},
                    source_versions=sorted(consulted),
                )
            )
            for lst in (new_raw.get("agg_blooms") or {}).values():
                for spec in lst:
                    referenced_sidecars.add(spec.get("path"))
            # the rewrite just consolidated every reachable record: the
            # manifest is authoritative for per-entry fields from here
            new_raw[_CONSOLIDATED_KEY] = True
            _write_manifest_raw(fsio.join(table_dir, v), new_raw)
    removed = []
    for v in drop + dangling:
        if v == cur:
            continue
        # the version's commit file goes with it (keeps the _commits
        # listing O(kept); never the tip's, which cur excludes). The
        # parent-keyed form is deleted ONLY when its content names this
        # version: a dangling dir's manifest may claim a parent whose
        # commit slot belongs to the writer that WON that race — deleting
        # it blindly would retract the winner's commit.
        mv = _read_manifest_raw(table_dir, v)
        if mv is not None:
            cf = fsio.join(
                table_dir, _COMMITS, _commit_file_name(mv["parent"])
            )
            try:
                if fsio.read_bytes(cf).decode().strip() == v:
                    fsio.delete_file(cf, missing_ok=True)
            except (FileNotFoundError, OSError):
                pass
        vdir = fsio.join(table_dir, v)
        # recursive: partitioned layouts nest files under __part=*/ subdirs
        names = fsio.list_files_recursive(vdir)
        keep_names = [
            n
            for n in names
            if (n.endswith(".parquet") and f"{v}/{n}" in referenced)
            # a bloom sidecar a KEPT manifest's consolidated specs still
            # point at must outlive its owner's metadata, or every later
            # probe pays one failed GET per file and never prunes
            or f"{v}/{n}" in referenced_sidecars
        ]
        if not keep_names:
            fsio.delete_dir(vdir)
            removed.append(v)
            continue
        # referenced data survives; everything else (metadata, feed,
        # unreferenced files) goes, so the version is no longer readable
        for n in names:
            if n not in keep_names:
                fsio.delete_file(fsio.join(vdir, n))
        fsio.delete_dir(fsio.join(vdir, _CHANGES), missing_ok=True)
    # stale writer staging dirs: an aborted DataSource write removes its
    # staging, but an in-flight task can recreate the dir after the driver's
    # abort — harmless (underscore paths are invisible to readers) and swept
    # here under the table's single-writer contract
    for d in fsio.ls(table_dir):
        if d.startswith("_staging-"):
            fsio.delete_dir(fsio.join(table_dir, d), missing_ok=True)
            removed.append(d)
    return removed


def table_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: str,
    to_version: str | None = None,
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC between two committed snapshots → the newer-version rows tagged
    ``_change ∈ {insert, update, delete}``.

    With ``key_cols``: a key present only in ``to`` is an insert, only in
    ``from`` a delete (the OLD row is returned for deletes), present in both
    with any non-key column changed an update (unchanged rows are omitted).
    Without ``key_cols`` the diff is set-based (exceptAll both ways):
    appeared rows are inserts, vanished rows deletes.

    Plan shape: one full-outer join on the key (or two exceptAll
    aggregations) between two immutable parquet snapshots — column-pruned
    and partition-prunable like any other scan; nothing is collected. The
    standard lakehouse "what changed since v?" primitive for incremental
    downstream pipelines.
    """
    newer = to_version or _latest(table_dir)
    a = read_table(spark, table_dir, from_version)
    b = read_table(spark, table_dir, newer)
    return frame_diff(a, b, key_cols)


def frame_diff(
    a: DataFrame, b: DataFrame, key_cols: Sequence[str] | None = None
) -> DataFrame:
    """``table_diff`` over two already-loaded snapshots — same semantics,
    any reader (native parquet scan, the ``spooky_versioned`` DataSource,
    a foreign table)."""
    import pyspark.sql.functions as F

    if key_cols is None:
        ins = b.exceptAll(a).withColumn("_change", F.lit("insert"))
        dels = a.exceptAll(b).withColumn("_change", F.lit("delete"))
        return ins.unionByName(dels)

    val_cols = [c for c in b.columns if c not in key_cols]
    oa = a.select(
        *key_cols, F.struct(*val_cols).alias("_old")
    )
    ob = b.select(
        *key_cols, F.struct(*val_cols).alias("_new")
    )
    j = oa.join(ob, list(key_cols), "full_outer")
    change = (
        F.when(F.col("_old").isNull(), "insert")
        .when(F.col("_new").isNull(), "delete")
        .when(F.col("_old") != F.col("_new"), "update")
    )
    side = F.coalesce(F.col("_new"), F.col("_old"))
    return (
        j.withColumn("_change", change)
        .where(F.col("_change").isNotNull())
        .select(
            *key_cols,
            *[side[c].alias(c) for c in val_cols],
            "_change",
        )
    )


def history(table_dir: str) -> list[dict]:
    """Commit history, oldest first (the Delta ``DESCRIBE HISTORY`` shape):
    one dict per committed version — version, kind, parent, ts_ms (commit
    wall-clock, None on pre-timestamp manifests), n_files (snapshot width)
    and n_own_files (files physically written by that commit). Reads only
    manifests — O(versions), bounded by vacuum."""
    out = []
    for v in committed_versions(table_dir):
        m = read_manifest(table_dir, v) or {}
        files = m.get("files", [])
        out.append(
            {
                "version": v,
                "kind": m.get("kind"),
                "parent": m.get("parent"),
                "ts_ms": m.get("ts_ms"),
                "n_files": len(files),
                "n_own_files": sum(
                    1 for e in files if e.startswith(f"{v}/")
                ),
            }
        )
    return out


def table_detail(table_dir: str, version: str | None = None) -> dict:
    """One-shot table observability (the Delta ``DESCRIBE DETAIL`` shape):
    version, kind, commit ts, file/byte footprint, deletion-vector state,
    partition layout, chain depth and stats coverage — all answered from
    manifests + one batched size lookup, zero data-file reads."""
    v = version or _latest(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = read_manifest(table_dir, v) or {}
    files = m.get("files", [])
    sizes = fsio.sizes(
        [e if _is_abs_entry(e) else fsio.join(table_dir, e) for e in files]
    )
    stats = entry_stats(table_dir, v)
    from collections import Counter

    parts = Counter()
    for e in files:
        for seg in e.split("/"):
            if seg.startswith("__part="):
                parts[seg[len("__part="):]] += 1
                break
    return {
        "version": v,
        "kind": m.get("kind"),
        "ts_ms": m.get("ts_ms"),
        "n_files": len(files),
        "total_bytes": sum(sizes),
        "n_own_files": sum(1 for e in files if e.startswith(f"{v}/")),
        "n_committed_versions": len(committed_versions(table_dir)),
        "partition_col": m.get("partition_col"),
        "n_partitions": len(parts) or None,
        "dv_files": len(m.get("dv", [])),
        "dv_keys": m.get("dv_keys"),
        "stats_covered_files": sum(1 for e in files if stats.get(e)),
        "schema_cols": (
            len(json.loads(m["schema"])["fields"]) if m.get("schema") else None
        ),
        # pending schema-evolution maps (compact materializes both)
        "renames": m.get("renames"),
        "drops": m.get("drops"),
        # manifest-delta fold depth at this snapshot (0 = full checkpoint
        # manifest; bounded by CHECKPOINT_EVERY)
        "delta_depth": int(
            (_read_manifest_raw(table_dir, v) or {}).get("delta_depth", 0)
        ),
    }


def version_at(table_dir: str, ts_ms: int) -> str:
    """Newest committed version whose commit timestamp is ≤ ``ts_ms`` —
    the ``TIMESTAMP AS OF`` resolution rule. Raises when the table has no
    commit that old (all newer, or timestamps unrecorded)."""
    best = None
    for h in history(table_dir):
        if h["ts_ms"] is not None and h["ts_ms"] <= ts_ms:
            best = h["version"]
    if best is None:
        raise FileNotFoundError(
            f"no commit in {table_dir} at or before ts_ms={ts_ms}"
        )
    return best


# ---------------------------------------------------------- manifest stats


def profile_entries(
    table_dir: str, entries: Sequence[str], cols: Sequence[str]
) -> dict:
    """Per-file footer statistics for the given manifest entries →
    {relative entry: {"n_rows": n, "<col>": [min, max] | None}}. One footer
    read per file through fsio (works on any store); meant to run ONCE at
    commit / OPTIMIZE time so readers never touch footers again — the
    Delta stats-in-log idea. None for a column with no usable min/max."""
    import pyarrow.parquet as pq

    out: dict = {}
    for e in entries:
        md = pq.ParquetFile(fsio.open_input(fsio.join(table_dir, e))).metadata
        idx = {name: i for i, name in enumerate(md.schema.names)}
        rec: dict = {"n_rows": md.num_rows}
        for c in cols:
            if c not in idx:
                rec[c] = None
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            rec[c] = [lo, hi] if ok and lo is not None else None
        out[e] = rec
    return out


def collect_file_stats(
    table_dir: str, version: str, cols: Sequence[str]
) -> dict:
    """:func:`profile_entries` over a committed snapshot's OWN files."""
    m = read_manifest(table_dir, version)
    entries = [e for e in m["files"] if e.startswith(f"{version}/")]
    return profile_entries(table_dir, entries, cols)


_BLOOMS_FIELD = "blooms"


def _field_of_raw(table_dir: str, raw: dict | None, field: str) -> dict:
    """Per-entry map for ``field`` (``stats``/``blooms``) from a raw
    manifest: the inline key, the zlib sidecar a big consolidation or a
    post-checkpoint attach spilled to (``<field>_ref`` — supersedes the
    parquet columns, since attaches rewrite through it), or the parquet
    entry table's JSON column. A vacuumed-away sidecar reads as
    never-recorded — pruning degrades, answers don't."""
    if not raw:
        return {}
    if field in raw:
        return raw[field] or {}
    ref = raw.get(f"{field}_ref")
    if ref:
        import zlib

        try:
            return json.loads(
                zlib.decompress(fsio.read_bytes(fsio.join(table_dir, ref)))
            )
        except (FileNotFoundError, OSError):
            return {}
    if _ENTRIES_REF in raw and field in _ENTRY_FIELD_COLS:
        try:
            tbl = _read_entries_table(table_dir, raw[_ENTRIES_REF])
        except (FileNotFoundError, OSError):
            return {}
        out: dict = {}
        for e, s in zip(
            tbl["entry"].to_pylist(), tbl[field].to_pylist()
        ):
            if s is not None:  # json "null" = negative marker, kept
                out[e] = json.loads(s)
        return out
    return {}


def _field_fields(
    table_dir: str, version: str, field: str, mapping: dict
) -> dict:
    """Manifest fields recording ``mapping`` under ``field``: inline
    below :data:`CHECKPOINT_INLINE_MAX` entries, else a zlib sidecar next
    to the manifest (the ``_files_fields`` idiom — a consolidated 1M-entry
    stats map is ~100 MB of inline JSON otherwise). The sidecar is
    written first, immutable debris until the manifest naming it
    commits."""
    if len(mapping) <= CHECKPOINT_INLINE_MAX:
        return {field: mapping}
    import zlib

    ref = f"{version}/_{field.upper()}.z"
    fsio.mkdirs(fsio.join(table_dir, version))
    fsio.write_bytes(
        fsio.join(table_dir, ref),
        zlib.compress(
            json.dumps(mapping, separators=(",", ":")).encode(), 6
        ),
    )
    return {f"{field}_ref": ref}


#: Set on every checkpoint manifest whose write ran the stats/blooms
#: consolidation gather: from that point the fold chain is AUTHORITATIVE
#: for per-entry fields — an entry with no chain record has none anywhere,
#: so readers and later gathers never probe owner manifests. Core key:
#: blind-carrying it (compact etc.) would falsely claim consolidation.
_CONSOLIDATED_KEY = "consolidated"


class _FieldResolver:
    """Cached chain-first / owner-fallback resolution of per-entry
    manifest fields (``stats``/``blooms``) — the one machinery behind the
    read-side map (:func:`_entry_field_map`), the checkpoint consolidation
    gather (:func:`_gather_entry_field`) and vacuum's at-risk accounting.
    Raw manifests and decoded field maps are read once per (version,
    field) no matter how many entries or fields resolve through them."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self._raws: dict = {}
        self._fields: dict = {}
        self._chains: dict = {}

    def raw(self, version: str) -> Optional[dict]:
        if version not in self._raws:
            self._raws[version] = _read_manifest_raw(
                self.table_dir, version
            )
        return self._raws[version]

    def field_of(self, version: str, field: str) -> dict:
        key = (version, field)
        if key not in self._fields:
            self._fields[key] = _field_of_raw(
                self.table_dir, self.raw(version), field
            )
        return self._fields[key]

    def chain_merged(self, version: str, field: str) -> tuple[dict, bool]:
        """({entry: record} merged across the snapshot's fold chain,
        nearest wins — None values are a checkpoint's probed-and-absent
        negatives; whether any chain manifest is a CONSOLIDATING
        checkpoint, making the chain authoritative for the field)."""
        key = (version, field)
        if key in self._chains:
            return self._chains[key]
        merged: dict = {}
        consolidated = False
        v: str | None = version
        while v is not None:
            raw = self.raw(v)
            if raw is None:
                break  # torn chain: read_manifest raises where it matters
            if raw.get(_CONSOLIDATED_KEY):
                consolidated = True
            for e, rec in self.field_of(v, field).items():
                merged.setdefault(e, rec)
            v = None if _is_full_manifest(raw) else raw["files_base"]
        self._chains[key] = (merged, consolidated)
        return merged, consolidated


def _gather_entry_field(
    table_dir: str,
    base: str,
    entries: Sequence[str],
    field: str,
    res: _FieldResolver | None = None,
) -> dict:
    """{entry: record} for ``field`` (``stats``/``blooms``) across
    ``entries`` — the checkpoint-time consolidation gather. A chain that
    already contains a CONSOLIDATING checkpoint is authoritative (entries
    absent from it have no record anywhere — zero owner probing, the
    bounded steady state). Otherwise — a pre-consolidation table, which
    includes records living ONLY on owner manifests behind a
    directly-written full manifest (e.g. an append that carried foreign
    entries into a full list) — each remaining entry's owner manifest is
    probed ONCE (one raw read per distinct owner, cached), with
    probed-and-absent entries recorded as explicit None negatives; the
    checkpoint's ``consolidated`` marker then makes the probing never
    repeat. A gather that finds nothing anywhere returns {} (the marker
    alone records the authoritative absence — no all-negative map is
    stored)."""
    res = res or _FieldResolver(table_dir)
    merged, consolidated = res.chain_merged(base, field)
    if consolidated:
        return {e: merged[e] for e in entries if e in merged}
    out: dict = {}
    for e in entries:
        if e in merged:
            out[e] = merged[e]
        elif not _is_abs_entry(e):
            owner = e.split("/", 1)[0]
            out[e] = res.field_of(owner, field).get(e) or None
    if not any(out.values()):
        return {}
    return out


def _entry_field_map(table_dir: str, version: str, field: str) -> dict:
    """Per-entry ``field`` records for EVERY entry of a snapshot, with
    bounded metadata reads: the snapshot's fold-chain manifests answer
    first (consolidated checkpoints carry every pre-checkpoint entry's
    record, each delta its own adds — ≤ 1 + CHECKPOINT_EVERY raw reads);
    on a chain with a consolidating checkpoint, absence is authoritative;
    only pre-consolidation tables fall back to entry owners' manifests
    (the old O(distinct owners) shape). ``{}`` for entries never
    recorded."""
    m = read_manifest(table_dir, version)
    if m is None:
        return {}
    res = _FieldResolver(table_dir)
    merged, consolidated = res.chain_merged(version, field)
    out: dict = {}
    for e in m["files"]:
        if e in merged:
            # None = a checkpoint probed the owner and found nothing —
            # an authoritative negative, no owner read needed
            out[e] = merged[e] or {}
        elif consolidated or _is_abs_entry(e):
            out[e] = {}
        else:
            owner = e.split("/", 1)[0]
            out[e] = res.field_of(owner, field).get(e) or {}
    return out


def _merge_field_into_raw(
    table_dir: str, version: str, field: str, new_records: dict
) -> None:
    """MERGE per-entry records into ``version``'s RAW manifest under
    ``field`` and rewrite it in place — the shared attach path
    (``attach_stats`` / ``attach_blooms``). Raw, never the folded view (a
    folded rewrite would materialize a delta commit's full file list back
    into it). Per-entry MERGE, never clobber: the raw may already carry
    records — write-time auto-attach for other columns, or a checkpoint's
    consolidated map (possibly in a sidecar) — and replacing them would
    un-prune the table."""
    raw = _read_manifest_raw(table_dir, version)
    if raw is None:
        raise FileNotFoundError(f"{version} has no manifest")
    recorded = _field_of_raw(table_dir, raw, field)
    for e, rec in new_records.items():
        cur_rec = recorded.get(e) or {}  # may hold a None (probed-absent)
        cur_rec.update(rec)
        recorded[e] = cur_rec
    raw.pop(field, None)
    raw.pop(f"{field}_ref", None)
    raw.update(_field_fields(table_dir, version, field, recorded))
    _write_manifest_raw(fsio.join(table_dir, version), raw)


def attach_stats(table_dir: str, cols: Sequence[str]) -> int:
    """Record per-file stats for the CURRENT version's own files in its
    manifest (atomic rewrite; inherited entries keep the stats their OWN
    version recorded — look them up chain-wise via ``entry_stats``).
    Returns the number of files profiled."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    stats = collect_file_stats(table_dir, cur, cols)
    _merge_field_into_raw(table_dir, cur, "stats", stats)
    return len(stats)


def entry_stats(table_dir: str, version: str) -> dict:
    """Stats for EVERY entry of a snapshot — fold-chain manifests first
    (consolidated checkpoints, bounded reads), owner manifests as the
    pre-consolidation fallback; see :func:`_entry_field_map`. {} values
    for entries never profiled."""
    return _entry_field_map(table_dir, version, "stats")


def read_table_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: str | None = None,
) -> tuple[DataFrame, dict]:
    """Range read ``lo <= col <= hi`` with MANIFEST-stats file pruning: a
    file whose recorded [min, max] excludes the range never reaches the
    scan (zero footer IO at plan time — at millions of files this is the
    difference between instant planning and a listing storm). Files
    without stats are scanned conservatively; the residual filter applies
    either way. Returns (frame, {"scanned": n, "skipped": m})."""
    import pyspark.sql.functions as F

    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    v = version or cur
    _check_readable(table_dir, v, cur)
    stats = entry_stats(table_dir, v)
    m = read_manifest(table_dir, v)
    log = rename_log_of(m)
    keep_rel, keep_full, skipped = [], [], 0
    for e in m["files"]:
        s = stats.get(e) or {}
        # stats/footers carry the names CURRENT AT THE ENTRY'S COMMIT —
        # translate the logical filter column per entry (column-mapping
        # appends mean different files carry different physical names)
        owner = "" if _is_abs_entry(e) else e.split("/", 1)[0]
        rng = s.get(physical_name_for_entry(log, owner, col))
        if rng and (rng[1] < lo or rng[0] > hi):
            skipped += 1
            continue
        keep_rel.append(e)
        keep_full.append(e if _is_abs_entry(e) else fsio.join(table_dir, e))
    df = scan_entries(spark, table_dir, m, keep_rel, keep_full)
    # merge-on-read: a stats-pruned read must hide DV-deleted rows exactly
    # like read_table — the vectors are keyed, not per-file, so they apply
    # unchanged to any file subset
    df = _apply_deletion_vectors(spark, table_dir, v, df)
    return (
        df.where((F.col(col) >= lo) & (F.col(col) <= hi)),
        {"scanned": len(keep_full), "skipped": skipped},
    )


# -------------------------------------------------------- deletion vectors


def delete_where_dv(
    spark: SparkSession,
    table_dir: str,
    condition,
    key_cols: Sequence[str],
    change_feed: bool = True,
) -> str:
    """Merge-on-read delete: instead of rewriting the snapshot without the
    matching rows (O(table)), write ONLY the deleted rows' keys as a
    deletion vector under ``<version>/_dv/`` and carry every data file
    forward by reference — O(deleted) per delete, the Delta/Iceberg
    deletion-vector idea expressed as a key anti-join (row-level positions
    need format hooks; keys need nothing). Readers apply the accumulated
    vectors as one broadcast-able anti-join; ``compact`` MATERIALIZES them
    (it reads through ``read_table`` and writes a plain snapshot), which
    is the standard DV-compaction contract. ``key_cols`` must stay
    consistent across chained DV deletes (validated)."""
    import pyspark.sql.functions as F

    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = _read_manifest_raw(table_dir, cur) or {}  # metadata-only commit
    prev_keys = m.get("dv_keys")
    if prev_keys and list(prev_keys) != list(key_cols):
        raise ValueError(
            f"deletion-vector key mismatch: table uses {prev_keys}, got "
            f"{list(key_cols)}"
        )
    current = read_table(table_dir=table_dir, spark=spark)
    deleted = current.where(condition)
    v = _next_version(table_dir)
    deleted.select(*key_cols).distinct().write.mode("errorifexists").parquet(
        fsio.join(table_dir, v, "_dv")
    )
    if change_feed:
        _write_change_feed(deleted, table_dir, v, "delete")
    dv_entries = list(m.get("dv", [])) + [
        f"{v}/_dv/{n}" for n in _parquet_names(fsio.join(table_dir, v, "_dv"))
    ]
    extra = {
        "dv": dv_entries,
        "dv_keys": list(key_cols),
        # metadata-only commit: carry layout metadata forward, or a
        # partitioned table would stop partition-pruning after a DV delete
        **({"partition_col": m["partition_col"]}
           if m.get("partition_col") else {}),
        # ... and any snapshot-scoped index metadata likewise
        **carry_extra_fields(m),
    }
    write_manifest_delta(
        table_dir, v, cur, (), (), m.get("schema"), "delete_dv",
        parent=cur, extra_fields=extra,
    )
    _finalize_commit(table_dir, v, cur)
    return v


def delete_by_keys(
    spark: SparkSession,
    table_dir: str,
    keys_df: DataFrame,
    key_cols: Sequence[str],
    marker: str | None = None,
    extra_fields: dict | None = None,
) -> str:
    """Merge-on-read delete where the caller ALREADY KNOWS the row keys —
    the workload of an index maintaining itself from a change feed (the
    feed names the deleted doc ids; the index's rows for them are keyed
    by exactly those ids). :func:`delete_where_dv` scans the current
    snapshot to find matching rows; here the keys ARE the input, so this
    is O(keys) with ZERO table IO. Keys absent from the table are
    harmless (the anti-join no-ops). No change feed: the deleted rows'
    contents are never materialized — downstream feeds come from the
    index's SOURCE, not the index. ``extra_fields`` override the carried
    snapshot-scoped fields (an index adjusting its corpus stats in the
    SAME commit that hides the rows, so the two can never drift)."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = _read_manifest_raw(table_dir, cur) or {}  # metadata-only commit
    prev_keys = m.get("dv_keys")
    if prev_keys and list(prev_keys) != list(key_cols):
        raise ValueError(
            f"deletion-vector key mismatch: table uses {prev_keys}, got "
            f"{list(key_cols)}"
        )
    v = _next_version(table_dir)
    keys_df.select(*key_cols).distinct().write.mode("errorifexists").parquet(
        fsio.join(table_dir, v, "_dv")
    )
    dv_entries = list(m.get("dv", [])) + [
        f"{v}/_dv/{n}" for n in _parquet_names(fsio.join(table_dir, v, "_dv"))
    ]
    extra = {
        "dv": dv_entries,
        "dv_keys": list(key_cols),
        **({"partition_col": m["partition_col"]}
           if m.get("partition_col") else {}),
        # markers excluded: this commit ADVANCES its caller's watermark
        # (an index fold), so carrying the parent's older `_SRC_` entry
        # would sit ahead of the fresh stamp in the list and make
        # newest_marker answer the STALE version. Maintenance commits
        # (compact/vacuum survival) still blind-carry — they preserve a
        # watermark; this commit replaces one.
        **carry_extra_fields(m, exclude=("markers",)),
        **(extra_fields or {}),
    }
    write_manifest_delta(
        table_dir, v, cur, (), (), m.get("schema"), "delete_dv",
        parent=cur, extra_fields=extra,
    )
    if marker:
        _stamp_marker(table_dir, v, marker)
    _finalize_commit(table_dir, v, cur)
    return v


def dv_contains_keys(
    spark: SparkSession, table_dir: str, keys_df: DataFrame
) -> bool:
    """Does the table's deletion vector hide any key in ``keys_df``
    (columns must cover the table's ``dv_keys``)? One bounded job over
    the vector keys — never the table. False when no vector exists. The
    shared probe behind every index's re-insert refusal
    (:func:`delete_by_keys`' complement check)."""
    cur = _latest(table_dir)
    if cur is None:
        return False
    m = _read_manifest_raw(table_dir, cur) or {}
    dv = m.get("dv") or []
    if not dv:
        return False
    keys = read_parquet_pinned(spark, [fsio.join(table_dir, e) for e in dv])
    return bool(
        keys_df.join(keys, list(m["dv_keys"]), "leftsemi").limit(1).count()
    )


def compact_dv(spark: SparkSession, table_dir: str) -> str | None:
    """Vector-only OPTIMIZE: fold the accumulated deletion-vector files
    (one per chained delete) into a single distinct key file as a
    METADATA-ONLY commit — every data file carries by reference, so this
    is O(deleted keys) maintenance that keeps the per-read anti-join probe
    one small file instead of a growing list, WITHOUT the full data
    rewrite ``compact`` pays to materialize. Returns the new version, or
    None when there is at most one vector file (nothing to fold)."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    m = _read_manifest_raw(table_dir, cur) or {}  # metadata-only commit
    dv = m.get("dv") or []
    if len(dv) <= 1:
        return None
    keys = read_parquet_pinned(
        spark, [fsio.join(table_dir, e) for e in dv]
    ).distinct()
    v = _next_version(table_dir)
    keys.coalesce(1).write.mode("errorifexists").parquet(
        fsio.join(table_dir, v, "_dv")
    )
    extra = {
        "dv": [
            f"{v}/_dv/{n}" for n in _parquet_names(fsio.join(table_dir, v, "_dv"))
        ],
        "dv_keys": m["dv_keys"],
    }
    if m.get("partition_col"):
        extra["partition_col"] = m["partition_col"]
    extra.update(carry_extra_fields(m))
    write_manifest_delta(
        table_dir, v, cur, (), (), m.get("schema"), "compact_dv",
        parent=cur, extra_fields=extra,
    )
    _finalize_commit(table_dir, v, cur)
    return v


def _apply_deletion_vectors(
    spark: SparkSession, table_dir: str, version: str, df: DataFrame
) -> DataFrame:
    m = _read_manifest_raw(table_dir, version) or {}  # dv fields are raw
    dv = m.get("dv")
    if not dv:
        return df
    paths = [fsio.join(table_dir, e) for e in dv]
    keys = read_parquet_pinned(spark, paths).distinct()
    return df.join(keys, list(m["dv_keys"]), "left_anti")


def restore(
    table_dir: str,
    version: str,
    spark: SparkSession | None = None,
    key_cols: Sequence[str] | None = None,
) -> str:
    """Roll the table back to an earlier committed ``version`` — as a NEW
    commit (Delta RESTORE): the new manifest simply references the target
    snapshot's immutable files (and deletion vectors), so the rollback is
    metadata-only and itself time-travelable/undoable. History is never
    rewritten; the mistaken versions stay on the chain until vacuum.

    Change feed: a rollback IS a logical change, and a restore commit
    with no feed is INVISIBLE to every incremental consumer (IVM folds,
    index refreshes, the CDC stream) — they would silently keep the
    pre-restore state forever. Pass ``spark`` to emit the diff feed
    (rows in tip-but-not-target as deletes, target-but-not-tip as
    inserts; with ``key_cols``, key-matched changed rows additionally
    fold as preimage+postimage pairs) so consumers FOLD THROUGH the
    rollback; both the batch fold (``_changes_since``) and the CDC
    stream refuse a feed-less restore loudly instead of drifting. A
    feed-less restore (no ``spark``) is for tables with no incremental
    consumers — or rebuild them after. Requires the tip and target
    column sets to match (restore across a schema change has no
    union-able diff — rebuild consumers instead)."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    if version not in committed_versions(table_dir):
        raise FileNotFoundError(f"version {version} not committed in {table_dir}")
    import pyspark.sql.functions as F

    feed_df = None
    preimaged = False
    if spark is not None:
        a = read_table(spark, table_dir, cur)  # pre-restore tip
        b = read_table(spark, table_dir, version)  # target
        if set(a.columns) != set(b.columns):
            raise ValueError(
                f"{table_dir}: restore from {cur} to {version} crosses a "
                "schema change — no union-able diff feed exists; restore "
                "without spark= and rebuild derived views/indexes"
            )
        b = b.select(*a.columns)
        if key_cols is None:
            # the multiset diff — exact under duplicate rows; frame_diff's
            # keyless branch IS this feed's semantics
            feed_df = frame_diff(a, b)
        else:
            # refuse non-unique keys: the full-outer join below would pair
            # each duplicate with the one opposite row, compare equal and
            # emit NOTHING (or emit the postimage once per duplicate) —
            # a silently wrong feed, the exact drift this feature exists
            # to prevent; the set-based diff (key_cols=None) is exact
            # collision-free alias (a key column literally named "count"
            # would make F.col("count") ambiguous and fail confusingly)
            dup_n = F.count(F.lit(1)).alias("__dup_cnt")
            dup = (
                a.groupBy(*key_cols).agg(dup_n)
                .unionByName(b.groupBy(*key_cols).agg(dup_n))
                .where(F.col("__dup_cnt") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    f"{table_dir}: key_cols {list(key_cols)} are not "
                    "unique per row on the tip or the target — the keyed "
                    "diff would be wrong; restore with key_cols=None "
                    "(set-based diff) instead"
                )
            # frame_diff's keyed skeleton, diverging only to emit the
            # UPDATE rows as preimage/postimage pairs (frame_diff returns
            # the new side only, which an IVM fold cannot retract)
            val_cols = [c for c in a.columns if c not in key_cols]
            oa = a.select(*key_cols, F.struct(*val_cols).alias("_old"))
            ob = b.select(*key_cols, F.struct(*val_cols).alias("_new"))
            j = oa.join(ob, list(key_cols), "full_outer")
            dels = j.where(F.col("_new").isNull()).select(
                *key_cols,
                *[F.col("_old")[c].alias(c) for c in val_cols],
                F.lit("delete").alias("_change"),
            )
            ins = j.where(F.col("_old").isNull()).select(
                *key_cols,
                *[F.col("_new")[c].alias(c) for c in val_cols],
                F.lit("insert").alias("_change"),
            )
            chg = j.where(
                F.col("_old").isNotNull()
                & F.col("_new").isNotNull()
                & (F.col("_old") != F.col("_new"))
            )
            pre = chg.select(
                *key_cols,
                *[F.col("_old")[c].alias(c) for c in val_cols],
                F.lit("update_preimage").alias("_change"),
            )
            post = chg.select(
                *key_cols,
                *[F.col("_new")[c].alias(c) for c in val_cols],
                F.lit("upsert").alias("_change"),
            )
            feed_df = dels.unionByName(ins).unionByName(pre).unionByName(
                post
            )
            preimaged = True
    m = _read_manifest_raw(table_dir, version) or {}
    v = _next_version(table_dir)
    fsio.mkdirs(fsio.join(table_dir, v))
    if feed_df is not None:
        feed_df.write.mode("errorifexists").parquet(
            fsio.join(table_dir, v, _CHANGES)
        )
        if preimaged:
            fsio.touch(fsio.join(table_dir, v, _CHANGES, _PREIMAGED))
            # the keyed diff's four legs (some possibly empty — listing an
            # absent kind never changes a consumer's refusal outcome)
            _write_feed_kinds(
                table_dir, v,
                ["delete", "insert", "update_preimage", "upsert"],
            )
        else:
            # frame_diff's keyless multiset diff: insert/delete rows only
            _write_feed_kinds(table_dir, v, ["insert", "delete"])
    extra = {}
    if m.get("dv"):
        extra = {"dv": m["dv"], "dv_keys": m["dv_keys"]}
    if m.get("partition_col"):  # restore of a partitioned snapshot
        extra["partition_col"] = m["partition_col"]
    extra.update(carry_extra_fields(m))
    extra = extra or None
    # delta against the restore TARGET: the rollback references that
    # snapshot's entry set verbatim, O(1) metadata however wide the table
    write_manifest_delta(
        table_dir, v, version, (), (), m.get("schema"), "restore",
        parent=cur, extra_fields=extra,
    )
    _finalize_commit(table_dir, v, cur)
    return v


def export_symlink_manifest(
    table_dir: str, out_dir: str | None = None, version: str | None = None
) -> str:
    """Export the snapshot's data-file list as a SymlinkTextInputFormat
    manifest (Delta's ``GENERATE symlink_format_manifest`` — the standard
    interop handshake that lets Presto/Trino/Athena/Hive read a versioned
    table without understanding its commit protocol): one text file of
    absolute file URIs under ``<table>/_symlink_format_manifest/``
    (or ``out_dir``). Reflects exactly the manifest's committed file list —
    debris and uncommitted writers are invisible by construction. Raises
    when the snapshot carries deletion vectors: an external engine reading
    raw files would resurrect deleted rows, so DV tables must ``compact``
    first (the same contract Delta enforces). Returns the manifest path."""
    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    v = version or cur
    _check_readable(table_dir, v, cur)
    m = read_manifest(table_dir, v) or {}
    if m.get("dv"):
        raise ValueError(
            f"{table_dir}: snapshot {v} carries deletion vectors — external "
            "engines reading raw files would resurrect deleted rows; "
            "compact() first"
        )
    if m.get("renames") or m.get("drops"):
        raise ValueError(
            f"{table_dir}: snapshot {v} carries schema-evolution maps "
            "(renames/drops) — external engines reading raw files would "
            "see the physical layout; compact() first"
        )
    files = snapshot_files(table_dir, v)
    uris = [f if "://" in f else f"file://{f}" for f in files]
    dest = out_dir or fsio.join(table_dir, "_symlink_format_manifest")
    fsio.mkdirs(dest)
    path = fsio.join(dest, "manifest")
    fsio.write_bytes(path, ("\n".join(uris) + "\n").encode())
    return path


def read_table_with_lineage(
    spark: SparkSession,
    table_dir: str,
    version: str | None = None,
    lineage_col: str = "_commit_version",
) -> DataFrame:
    """Snapshot read with ROW-LEVEL COMMIT LINEAGE: each row carries the
    version whose commit wrote its file (the Delta ``_metadata`` /
    Iceberg ``_file`` provenance idea, manifest-native). The mapping is
    ``input_file_name()`` broadcast-joined against the manifest's
    entry→owner table (an entry's owning commit is its path prefix) — one
    tiny build side of O(files) rows, no per-file scan unions. Deletion
    vectors and schema maps apply exactly like :func:`read_table` (the
    lineage column is attached to the same logical view). Audit questions
    — "which ingest batch produced these rows", "how much of the table
    predates commit X" — answer without any extra bookkeeping, because
    the manifest chain already is the lineage."""
    import pyspark.sql.functions as F

    from pyspark.sql.types import StructType

    cur = _latest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    v = version or cur
    _check_readable(table_dir, v, cur)
    m = read_manifest(table_dir, v)
    rel, files = _entries_and_paths(table_dir, m)
    schema_json = m.get("schema")
    schema = (
        StructType.fromJson(json.loads(schema_json)) if schema_json else None
    )
    if lineage_col in (f.name for f in (schema.fields if schema else ())):
        raise ValueError(f"{table_dir}: column {lineage_col!r} already exists")
    if not files:
        base = spark.createDataFrame([], schema)
        return base.withColumn(lineage_col, F.lit(None).cast("string"))
    # the file identity must be captured ON the scan itself —
    # input_file_name() refuses plans with a second source (the DV join);
    # scan_entries attaches it per rename-epoch group before the union
    scan = scan_entries(
        spark, table_dir, m, rel, files, file_col="_file"
    ).withColumn("_file", F.regexp_replace(F.col("_file"), "^file:/*", "/"))
    df = _apply_deletion_vectors(spark, table_dir, v, scan)
    pairs = [
        (
            full.removeprefix("file://"),
            e.split("/", 1)[0] if not _is_abs_entry(e) else "external",
        )
        for e, full in zip(rel, files)
    ]
    owners = spark.createDataFrame(pairs, "_file string, _owner string")
    return (
        df.join(F.broadcast(owners), "_file", "left")
        .withColumn(lineage_col, F.col("_owner"))
        .drop("_file", "_owner")
    )


def expire_rows(
    spark: SparkSession,
    table_dir: str,
    ts_col: str,
    older_than_ms: int,
    key_cols: Sequence[str],
) -> str | None:
    """Row-level TTL (retention / right-to-be-forgotten shape): DV-delete
    every row whose ``ts_col`` is strictly before ``older_than_ms`` (epoch
    millis) — O(expired keys) metadata, zero data files rewritten; the
    bytes physically disappear at the next ``compact`` + ``vacuum``, which
    is the standard two-phase GDPR erasure contract. Returns the delete
    commit, or None when nothing expired (no empty commits)."""
    import pyspark.sql.functions as F

    cond = F.col(ts_col) < F.timestamp_millis(F.lit(older_than_ms))
    current = read_table(spark, table_dir)
    if current.where(cond).limit(1).count() == 0:
        return None
    return delete_where_dv(spark, table_dir, cond, key_cols)
