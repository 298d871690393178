"""PySpark-4 Python DataSource over the versioned table (sources/upsert.py):
batch reads with time travel, and a streaming Change-Data-Feed reader.

    spark.dataSource.register(VersionedTableDataSource)

    # batch (current snapshot, or option("version", "v00001") time travel)
    spark.read.format("spooky_versioned").option("path", dir).load()

    # streaming CDC: each committed version's _changes log becomes a
    # micro-batch; offsets are version numbers, so restart-resume is exact
    spark.readStream.format("spooky_versioned").option("path", dir).load()

Scale shape: one InputPartition per parquet data file (the same
task-per-file parallelism a native scan gets), rows shipped as Arrow
RecordBatches — never tuple-at-a-time. The stream reader never diffs
snapshots: it reads the per-version ``_changes`` logs the writers recorded
at commit time (Delta CDF protocol), so a micro-batch costs O(changed
rows), not O(table). Offsets are monotone version numbers; ``commit`` is a
no-op because version dirs are immutable and vacuum-retention is the
caller's contract.

All file IO goes through :mod:`spookystuff_spark.fsio` (pyarrow.fs) and the
manifest protocol — no ``os.path``/``glob``/hard links — so the source runs
against local disk, HDFS, or object stores alike. Columns absent from an
older file (additive schema evolution) are filled with nulls OF THE READER
SCHEMA'S TYPE; a file column missing from the reader schema fails fast with
the file name rather than silently dropping data.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

from spookystuff_spark import fsio
from spookystuff_spark.sources import upsert as U


@dataclass
class _FilePart(InputPartition):
    path: str
    change: bool  # True: file belongs to a change feed
    kind: str | None = None  # fill for a missing _change column
    # per-file logical→physical column map (column-mapping renames): rides
    # the partition so the task needs only ITS file's map, never the
    # reader's whole O(files) planning state
    colmap: dict | None = None


def _entry_partition(entry: str) -> str | None:
    """Partition value encoded in a manifest entry's ``__part=`` path —
    the canonical parser lives in upsert (one encoding, one decoder)."""
    from spookystuff_spark.sources.upsert import _entry_part

    return _entry_part(entry)


def _is_feed_entry(entry: str) -> bool:
    return "/_changes/" in entry


def _arrow_schema(spark_schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _read_arrow(
    path: str, expected, fill: dict | None = None, colmap: dict | None = None
):
    """Iterate a parquet file as Arrow RecordBatches aligned to the reader's
    ``expected`` Arrow schema (column order AND types). An absent column is
    filled from ``fill`` (constant — e.g. ``_change`` from the version's
    ``_kind`` sidecar) or with typed nulls, so a snapshot mixing pre- and
    post-schema-evolution files yields homogeneous batches. ``colmap``
    (logical → PHYSICAL file-column name) resolves metadata-only column
    renames — output batches always carry the logical names. A file column
    NOT in the reader schema is an error naming the file — silent
    column-drop on a mismatched footer is the failure mode to refuse."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = expected.names
    colmap = colmap or {}
    known = {colmap.get(n, n) for n in names} | set(names) | set(
        (colmap or {}).get("__drops__", ())
    )
    for batch in pq.ParquetFile(fsio.open_input(path)).iter_batches():
        extra = [c for c in batch.schema.names if c not in known]
        if extra:
            raise ValueError(
                f"versioned table file {path} has columns {extra} absent "
                f"from the reader schema {names} — refusing to drop data"
            )
        cols = []
        for n in names:
            typ = expected.field(n).type
            phys = colmap.get(n, n)
            if phys in batch.schema.names:
                n = phys
                col = batch.column(n)
                if col.type != typ:  # benign footer-level repr differences
                    col = col.cast(typ)
                cols.append(col)
            elif fill and fill.get(n) is not None:
                cols.append(pa.array([fill[n]] * batch.num_rows, type=typ))
            else:
                cols.append(pa.nulls(batch.num_rows, type=typ))
        yield pa.RecordBatch.from_arrays(cols, names=list(names))


class _BatchReader(DataSourceReader):
    def __init__(self, table_dir: str, version: str, schema: StructType):
        m = U.read_manifest(table_dir, version)
        self._entries, self.files = U._entries_and_paths(table_dir, m)
        self.spark_schema = schema
        # merge-on-read: deletion vectors (if any) apply per batch — the
        # DataSource scans raw files, so skipping this would resurrect
        # deleted rows the native read_table correctly hides
        self.dv_paths = [fsio.join(table_dir, e) for e in m.get("dv", [])]
        self.dv_keys = m.get("dv_keys") or []
        # metadata-only column renames: logical -> physical file names,
        # resolved PER ENTRY (column-mapping appends mean files from
        # different rename epochs carry different physical names); dropped
        # physical names ride along so the extra-column refusal
        # distinguishes "deliberately dropped" from "corrupt footer"
        log = U.rename_log_of(m)
        drops = list(m.get("drops") or ())
        lnames = [f.name for f in schema.fields]
        self._colmaps: dict = {}  # file path -> per-file colmap
        epoch_cache: dict = {}
        for e, path in zip(self._entries, self.files):
            owner = "" if U._is_abs_entry(e) else e.split("/", 1)[0]
            key = tuple(
                i
                for i, ev in enumerate(log)
                if U._event_after_owner(ev["v"], owner)
            )
            if key not in epoch_cache:
                cm = {
                    n: p
                    for n in lnames
                    if (p := U.physical_name_for_entry(
                        [log[i] for i in key], "", n
                    )) != n
                }
                # retired intermediates are known-not-data for this epoch
                retired = sorted(
                    U.retired_column_names(m) - set(cm.values())
                )
                if drops or retired:
                    cm["__drops__"] = drops + retired
                epoch_cache[key] = cm
            self._colmaps[path] = epoch_cache[key]
        # planning metadata for pushFilters: per-entry manifest stats
        # (Delta stats-in-log) and the partition value encoded in each
        # entry's path — both resolved WITHOUT touching any data file
        self._log = log
        self._stats = U.entry_stats(table_dir, version)
        self._partition_col = m.get("partition_col")
        self.files_skipped = 0  # observability / tests

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """File-level skipping from Catalyst's pushed predicates: a file
        whose manifest-recorded [min, max] (or partition path) cannot
        satisfy a conjunct never becomes an InputPartition — the same
        zero-footer-IO planning as read_table_pruned, driven by the
        engine's own filters. EVERY filter is returned as unhandled, so
        Spark still applies them post-scan: pruning here is pure plan-time
        optimization with no correctness exposure, and unknown filter
        shapes simply don't prune."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        def keeps(entry: str, f) -> bool:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col is None:
                return True
            if (
                self._partition_col == col
                and not _is_feed_entry(entry)
            ):
                # the layout encodes str-cast values; prune only on exact
                # string predicates (a formatting mismatch must err on
                # KEEP — a wrongly dropped file can't be re-added by
                # Spark's post-scan filter)
                pv = _entry_partition(entry)
                if pv is not None:
                    if isinstance(f, EqualTo) and isinstance(f.value, str):
                        return pv == f.value
                    if isinstance(f, In) and all(
                        isinstance(v, str) for v in f.value
                    ):
                        return pv in set(f.value)
            # stats carry entry-epoch physical names — translate per entry
            owner = "" if U._is_abs_entry(entry) else entry.split("/", 1)[0]
            phys = U.physical_name_for_entry(self._log, owner, col)
            rng = (self._stats.get(entry) or {}).get(phys)
            if not rng or rng[0] is None:
                return True
            lo, hi = rng
            try:
                if isinstance(f, EqualTo):
                    return lo <= f.value <= hi
                if isinstance(f, GreaterThan):
                    return hi > f.value
                if isinstance(f, GreaterThanOrEqual):
                    return hi >= f.value
                if isinstance(f, LessThan):
                    return lo < f.value
                if isinstance(f, LessThanOrEqual):
                    return lo <= f.value
                if isinstance(f, In):
                    return any(lo <= v <= hi for v in f.value)
            except TypeError:
                return True  # incomparable JSON repr vs filter value
            return True

        kept_files, kept_entries = [], []
        for path, entry in zip(self.files, self._entries):
            if all(keeps(entry, f) for f in filters):
                kept_files.append(path)
                kept_entries.append(entry)
            else:
                self.files_skipped += 1
        self.files, self._entries = kept_files, kept_entries
        return filters  # all unhandled: Spark re-applies every predicate

    def partitions(self) -> Sequence[InputPartition]:
        """One InputPartition per surviving file, each carrying its OWN
        colmap — the read task needs only its file's map, never the
        reader's whole planning state."""
        return [
            _FilePart(p, False, colmap=self._colmaps.get(p) or None)
            for p in self.files
        ] or [
            _FilePart("", False)  # empty snapshot still needs >= 1 partition
        ]

    def __getstate__(self):
        """Executor pickle: strip the planning-only state. The reader
        object ships with every read task; the file list, manifest
        entries, per-entry stats and colmaps are O(files) — at millions of
        files that's a ~100 MB closure per task, exactly the driver/
        network tax the manifest layer exists to avoid. Executors need
        only the schema and the DV state (small by the DV contract); each
        partition carries its own path + colmap. The DRIVER-side object
        keeps full state, so re-planning (a second action on the same
        frame) still works."""
        st = self.__dict__.copy()
        for k in ("files", "_entries", "_colmaps", "_stats", "_log"):
            st[k] = None
        return st

    def _deleted_keyset(self):
        import pyarrow.parquet as pq

        keys = set()
        for p in self.dv_paths:
            t = pq.ParquetFile(fsio.open_input(p)).read(columns=self.dv_keys)
            cols = [t.column(c).to_pylist() for c in self.dv_keys]
            keys.update(zip(*cols))
        return keys

    def read(self, partition: _FilePart) -> Iterator:
        if not partition.path:
            return
        colmap = partition.colmap or {}
        if not self.dv_paths:
            yield from _read_arrow(
                partition.path, _arrow_schema(self.spark_schema),
                colmap=colmap,
            )
            return
        import pyarrow as pa

        deleted = self._deleted_keyset()  # small by DV contract
        for batch in _read_arrow(
            partition.path, _arrow_schema(self.spark_schema),
            colmap=colmap,
        ):
            cols = [batch.column(c).to_pylist() for c in self.dv_keys]
            mask = pa.array(
                [t not in deleted for t in zip(*cols)], type=pa.bool_()
            )
            yield batch.filter(mask)


class _ChangeFeedReader(DataSourceStreamReader):
    """Offsets: {"version": int} = highest version whose changes were
    emitted. A micro-batch (start, end] maps to the ``_changes`` files of
    every committed version in that range. ``max_versions_per_batch``
    rate-bounds catch-up: a consumer restarting far behind the table
    advances at most that many versions per trigger instead of replaying
    the whole backlog as one giant micro-batch (the Delta
    ``maxFilesPerTrigger`` idea at version granularity). Use it with a
    continuous trigger: ``Trigger.AvailableNow`` snapshots the available
    offset ONCE at query start, so a rate-limited available-now run drains
    only the first window, then terminates (re-run to continue — each run
    resumes from the checkpoint)."""

    def __init__(
        self,
        table_dir: str,
        starting_version: int | None,
        schema: StructType,
        max_versions_per_batch: int | None = None,
    ):
        self.table_dir = table_dir
        self.spark_schema = schema
        self.max_versions = max_versions_per_batch
        if starting_version is not None:
            self.start_v = starting_version
        else:
            cur = U.committed_versions(table_dir)
            self.start_v = int(cur[-1][1:]) if cur else 0
        self._last_end = self.start_v

    def initialOffset(self) -> dict:
        return {"version": self.start_v}

    def latestOffset(self) -> dict:
        cur = U.committed_versions(self.table_dir)
        latest = int(cur[-1][1:]) if cur else 0
        latest = max(latest, self.start_v)
        if self.max_versions is not None:
            # advance the window from the previous end, never past latest
            capped = min(latest, self._last_end + self.max_versions)
            self._last_end = capped
            return {"version": capped}
        self._last_end = latest
        return {"version": latest}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # learn the true stream position (e.g. a restart replaying the last
        # offset-log batch) so the rate-limit window resumes from there
        self._last_end = max(self._last_end, end["version"])
        committed = U.committed_versions(self.table_dir)
        # rename events from versions AFTER the batch start only: an event
        # at v' <= start can never satisfy ev.v > owner for in-range feeds
        # (owner > start >= v'), and a column dropped at d <= start cannot
        # appear in feeds written after d — so the raw-manifest scan is
        # O(versions past the stream position) per trigger, not O(full
        # table history). Feed files written before a rename carry the
        # then-current names; each feed partition gets a colmap to its
        # epoch — the streaming twin of incremental._changes_since's
        # translation. A rename commit always carries its event log
        # (rename_column writes it).
        events: list[dict] = []
        drops: list[str] = []
        restores: set[str] = set()
        for v in committed:
            if int(v[1:]) <= start["version"]:
                continue
            m = U._read_manifest_raw(self.table_dir, v) or {}
            if m.get("kind") == "rename":
                events.append(m["rename_log"][-1])
            if m.get("kind") == "restore":
                restores.add(v)
            for d in m.get("drops") or ():
                if d not in drops:
                    drops.append(d)
        lnames = [f.name for f in self.spark_schema.fields]
        parts: list[InputPartition] = []
        for v in committed:
            n = int(v[1:])
            if start["version"] < n <= end["version"]:
                files, kind = U.change_files(self.table_dir, v)
                if not files and v in restores:
                    # a feed-less rollback is a logical change the stream
                    # cannot see — refuse instead of silently skipping it
                    # like a compaction (permanent downstream drift)
                    raise ValueError(
                        f"{self.table_dir}/{v}: restore commit without a "
                        "change feed in the CDC stream — use "
                        "restore(..., spark=, key_cols=) so consumers "
                        "fold through the rollback, or rebuild them"
                    )
                cm = {
                    ln: p
                    for ln in lnames
                    if (p := U.physical_name_for_entry(events, v, ln)) != ln
                }
                # columns dropped AFTER this feed was written are known-
                # not-data (deliberately dropped), not corrupt footers
                if drops:
                    cm["__drops__"] = drops
                parts.extend(
                    _FilePart(p, True, kind, colmap=cm or None)
                    for p in files
                )
        # Spark requires >= 1 partition per batch; an empty range (e.g.
        # compaction-only versions have no _changes) yields a no-row part
        return parts or [_FilePart("", True)]

    def read(self, partition: _FilePart) -> Iterator:
        if partition.path:
            yield from _read_arrow(
                partition.path,
                _arrow_schema(self.spark_schema),
                {"_change": partition.kind} if partition.kind else None,
                colmap=partition.colmap,
            )

    def commit(self, end: dict) -> None:
        pass  # version dirs are immutable; retention = vacuum policy

    def stop(self) -> None:
        pass


@dataclass
class _StagedFile(WriterCommitMessage):
    filename: str | None
    num_rows: int


def _enforce_on_batch(table_dir: str, checks: dict, batch) -> None:
    """DuckDB-evaluated CHECK enforcement for one Arrow batch (SQL CHECK
    NULL semantics — only definitively-FALSE violates)."""
    import duckdb
    import pyarrow as pa

    from spookystuff_spark.sources.constraints import CheckViolation

    tbl = pa.Table.from_batches([batch])  # zero-copy view
    con = duckdb.connect()
    con.register("batch", tbl)
    bad = {}
    for name, sql in checks.items():
        cnt = con.execute(
            f"SELECT count(*) FROM batch WHERE NOT coalesce(({sql}), TRUE)"
        ).fetchone()[0]
        if cnt:
            bad[name] = int(cnt)
    if bad:
        detail = ", ".join(f"{n} ({c} rows)" for n, c in sorted(bad.items()))
        raise CheckViolation(
            f"{table_dir}: write batch violates CHECK constraint(s): "
            f"{detail} — task failed, nothing committed"
        )


class _VersionedArrowWriter(DataSourceArrowWriter):
    """Two-phase commit writer — the Spark commit protocol made explicit:

    1. Every task streams its Arrow batches into ONE parquet file under a
       private staging dir (unique name; a retried/speculative task stages a
       different file) and returns the filename as its commit message.
    2. Only if ALL tasks succeed does the driver ``commit``: the staged
       files MOVE into the next version dir (a rename, not a data copy) and
       the manifest lists them — plus, for append mode, the previous
       snapshot's immutable files carried forward BY REFERENCE (the
       metadata-only append of upsert.append_rows; no hard links, so the
       protocol works on object stores). The change feed is a reference
       manifest over the same staged files. ``abort`` just deletes staging —
       a failed job leaves the table byte-identical.

    Append here is a blind append (new rows added, no key dedup) — the
    keyed MERGE path stays in upsert.upsert(), which needs a join.
    """

    def __init__(self, table_dir: str, overwrite: bool, schema_json: str):
        import uuid

        self.table_dir = table_dir
        self.overwrite = overwrite
        self.schema_json = schema_json
        self.staging = fsio.join(table_dir, f"_staging-{uuid.uuid4().hex}")

    def write(self, iterator) -> _StagedFile:
        import uuid

        import pyarrow.parquet as pq

        from spookystuff_spark.sources.constraints import list_constraints

        # table CHECK constraints apply to THIS writer too — enforced
        # EXECUTOR-SIDE per Arrow batch (the commit worker has no Spark
        # session to run a validation job): the ANSI predicates evaluate
        # via DuckDB against each batch, a violation fails the task and
        # the two-phase protocol aborts with the table untouched. Checks
        # are engine-portable SQL by the module's contract.
        checks = list_constraints(self.table_dir)
        fsio.mkdirs(self.staging)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        fpath = fsio.join(self.staging, fname)
        fs, fs_path = fsio.resolve(fpath)
        writer = None
        n = 0
        for batch in iterator:
            if checks:
                _enforce_on_batch(self.table_dir, checks, batch)
            if writer is None:
                writer = pq.ParquetWriter(fs_path, batch.schema, filesystem=fs)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is None:
            return _StagedFile(None, 0)
        writer.close()
        return _StagedFile(fname, n)

    def _commit_files(self, messages, marker: str | None = None) -> None:
        staged = [m.filename for m in messages if m and m.filename]
        # the parent captured HERE is both the chain link and the
        # lost-update guard: the delta base is it, and the tip must still
        # be it at commit time (upsert.ConcurrentWriteError
        # otherwise — same best-effort OCC as the native writers)
        parent = U._latest(self.table_dir)
        v = U._next_version(self.table_dir)
        vdir = fsio.join(self.table_dir, v)
        fsio.mkdirs(vdir)
        for f in staged:
            fsio.move(fsio.join(self.staging, f), fsio.join(vdir, f))
        dv_fields = None
        delta_base = None
        if not self.overwrite and parent is not None:
            # raw read: the checks below touch only top-level fields, the
            # commit itself is a DELTA against the parent — O(batch)
            # manifest bytes like upsert.append_rows
            m = U._read_manifest_raw(self.table_dir, parent)
            # column-mapping appends: renames/drops don't block the write —
            # new files carry current logical names; the carried rename_log
            # translates older entries per epoch. Retired-name reuse is the
            # one refusal (stale values would resurrect under it).
            import json as _json

            schema_names = [
                f["name"] for f in _json.loads(self.schema_json)["fields"]
            ]
            U._refuse_retired_names(self.table_dir, m, schema_names)
            delta_base = parent
            # an append is metadata-only: like upsert.append_rows, it must
            # CARRY the parent's accumulated deletion vectors — dropping
            # them would resurrect deleted rows (and leave the vector files
            # unreferenced for vacuum to destroy) — and the schema maps,
            # or carried files' physical names would stop translating
            if m.get("dv"):
                dv_fields = {"dv": m["dv"], "dv_keys": m["dv_keys"]}
            maps = U._schema_map_fields(m)
            if maps:
                dv_fields = {**(dv_fields or {}), **maps}
        own = [f"{v}/{f}" for f in staged]
        U._write_change_feed_refs(self.table_dir, v, own, "upsert")
        fsio.touch(fsio.join(vdir, "_SUCCESS"))
        kind = "upsert" if self.overwrite else "append"
        if delta_base is not None:
            U.write_manifest_delta(
                self.table_dir, v, delta_base, own, (), self.schema_json,
                kind, parent=parent, extra_fields=dv_fields,
            )
        else:
            U.write_manifest(
                self.table_dir,
                v,
                own,
                self.schema_json,
                kind,
                parent=parent,
                extra_fields=dv_fields,
            )
        if marker:
            U._stamp_marker(self.table_dir, v, marker)
        try:
            # expected-parent re-check + per-version commit-file CAS — the
            # same arbitration as the native writers
            U._finalize_commit(self.table_dir, v, parent)
        except U.ConcurrentWriteError:
            self._cleanup()
            raise
        self._cleanup()

    def _cleanup(self) -> None:
        fsio.delete_dir(self.staging, missing_ok=True)

    def commit(self, messages) -> None:
        self._commit_files(messages)

    def abort(self, messages) -> None:
        self._cleanup()


class _VersionedStreamArrowWriter(_VersionedArrowWriter, DataSourceStreamArrowWriter):
    """Streaming sink twin: same staged-files two-phase commit, plus
    exactly-once per micro-batch — the version commits with a
    ``_BATCH_<app>_<id>`` marker (the streaming/sink.py protocol, keyed on
    BOTH the app/checkpoint identity and the batch id — batch ids restart at
    0 with a fresh checkpoint, so id alone would silently drop data), and a
    replayed batch id after a restart cleans its staging and commits
    nothing. Always append-mode: each micro-batch's rows extend the table;
    previous snapshot files are carried by manifest reference, never
    rewritten (O(batch) per batch)."""

    def __init__(self, table_dir: str, schema_json: str, app_id: str | None):
        super().__init__(table_dir, overwrite=False, schema_json=schema_json)
        self.app_id = app_id
        # streaming recreates the writer in a separate commit-runner process:
        # a random staging name would diverge between the write tasks and the
        # commit, so the stream writer stages under ONE deterministic dir
        # (safe under the table's single-writer contract; commit moves only
        # the files named in this batch's messages, so stale files from a
        # crashed batch are dropped, not committed)
        self.staging = fsio.join(table_dir, "_staging-stream")

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        from spookystuff_spark.streaming.sink import batch_marker_name, last_committed_batch

        last = last_committed_batch(self.table_dir, self.app_id)
        if last is not None and batchId <= last:
            self._cleanup()  # replay: already committed, drop staged files
            return
        self._commit_files(
            messages, marker=batch_marker_name(batchId, self.app_id)
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        self._cleanup()


_REGISTER_LOCK = threading.Lock()


def register(spark) -> None:
    """Register ``spooky_versioned`` AND enable Python-DataSource filter
    pushdown (runtime SQL conf): the batch reader implements
    ``pushFilters`` for manifest-stats / partition file skipping, and
    Spark refuses to silently ignore an implemented ``pushFilters`` while
    the conf is off — registering through this helper keeps the two in
    lockstep.

    Serialized under a module lock: concurrent registration of the same
    name from suite-constituent builder threads (queries.build_concurrently)
    can leave the session's Python data-source registry WITHOUT the entry
    — a later ``.save()`` in the very thread that just "registered" then
    fails with DATA_SOURCE_NOT_FOUND. Each caller registers-then-uses in
    its own thread, so completing the registration under the lock before
    returning is sufficient ordering."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    with _REGISTER_LOCK:
        try:
            spark.dataSource.register(VersionedTableDataSource)
        except Exception:
            pass  # already registered in this session


class VersionedTableDataSource(DataSource):
    """name: ``spooky_versioned``. Options: ``path`` (table dir, required),
    ``version`` (batch time travel), ``startingVersion`` (stream replay
    start; default = current version, i.e. only future changes),
    ``maxVersionsPerBatch`` (stream rate limit: cap how many table versions
    one micro-batch may cover during catch-up), ``appId`` (stream-writer
    exactly-once namespace; default = the query's checkpointLocation —
    empty string forces the legacy app-less namespace)."""

    @classmethod
    def name(cls) -> str:
        return "spooky_versioned"

    def _table_dir(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' is required")
        return path

    def _resolve_version(self) -> str:
        table_dir = self._table_dir()
        v = self.options.get("version")
        committed = U.committed_versions(table_dir)
        if not committed:
            raise FileNotFoundError(f"no committed version in {table_dir}")
        if v is None:
            return committed[-1]
        if v not in committed:
            raise FileNotFoundError(f"version {v} not committed in {table_dir}")
        return v

    def _snapshot_schema(self, with_change: bool) -> StructType:
        """Table schema: the manifest's recorded schema when present (the
        authoritative union under schema evolution), else the UNION of every
        data file's footer schema in first-seen field order — never
        files[0] alone, whose answer would depend on filename sort order."""
        table_dir, version = self._table_dir(), self._resolve_version()
        schema_json = U.snapshot_schema_json(table_dir, version)
        if schema_json:
            schema = StructType.fromJson(json.loads(schema_json))
        else:
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import from_arrow_schema

            files = U.snapshot_files(table_dir, version)
            if not files:
                raise FileNotFoundError("empty snapshot")
            fields: list[StructField] = []
            seen: set[str] = set()
            for f in files:
                fschema = from_arrow_schema(
                    pq.read_schema(fsio.open_input(f))
                )
                for fld in fschema.fields:
                    if fld.name not in seen:
                        seen.add(fld.name)
                        fields.append(fld)
            schema = StructType(fields)
        if with_change and "_change" not in schema.fieldNames():
            schema = StructType(
                [*schema.fields, StructField("_change", StringType())]
            )
        return schema

    def schema(self) -> StructType:
        # the stream feed carries the extra _change column
        return self._snapshot_schema(with_change=self._is_stream())

    def _is_stream(self) -> bool:
        return str(self.options.get("changefeed", "")).lower() == "true"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BatchReader(self._table_dir(), self._resolve_version(), schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        sv = self.options.get("startingversion")
        mv = self.options.get("maxversionsperbatch")
        return _ChangeFeedReader(
            self._table_dir(),
            int(sv) if sv is not None else None,
            schema,
            int(mv) if mv is not None else None,
        )

    def writer(self, schema: StructType, overwrite: bool) -> _VersionedArrowWriter:
        return _VersionedArrowWriter(self._table_dir(), overwrite, schema.json())

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> _VersionedStreamArrowWriter:
        # exactly-once namespace: explicit appId wins (empty string =
        # legacy app-less markers, the escape hatch); otherwise default to
        # the query's checkpointLocation, which Spark passes through the
        # writer options — one namespace per checkpoint is precisely the
        # contract, so a restart with a FRESH checkpoint (batch ids back
        # at 0) lands in a fresh namespace and appends instead of being
        # silently skipped as a replay of the old one
        if "appid" in self.options:
            app_id = self.options.get("appid") or None
        else:
            app_id = self.options.get("checkpointlocation")
        return _VersionedStreamArrowWriter(
            self._table_dir(), schema.json(), app_id
        )
