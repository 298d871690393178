"""Exactly-once streaming MERGE sink: Structured Streaming → versioned table.

``foreachBatch`` gives at-least-once micro-batch delivery — after a crash the
last batch is REPLAYED with the same ``batch_id``. Exactly-once therefore
needs an idempotent commit: each snapshot produced by the sink records the
batch id that wrote it (a ``_BATCH_<app>_<id>`` marker in the version's
manifest marker index, stamped BEFORE the commit file, so marker and data
commit atomically together), and a replayed batch with id ≤ the last committed
marker IN THE SAME APP NAMESPACE is a no-op. This is precisely the
Delta/Iceberg ``txnAppId``/``txnVersion`` protocol, re-expressed over
sources/upsert.py's manifest tables — BOTH halves: the batch id alone is not
enough, because restarting a stream with a FRESH checkpoint restarts batch
ids at 0, and an id-only skip would then silently drop every new batch.
Callers should pass one ``app_id`` per checkpoint location (the
``spooky_versioned`` stream writer defaults to exactly that, via the
query's ``checkpointLocation`` option). Namespaces are strict both ways: a
named app honors only its own markers, ``app_id=None`` only app-less ones —
mixing named and unnamed writers on one table is unsupported, and toggling
``app_id`` mid-life re-commits the one in-flight replayed batch (a no-op
for the keyed MERGE sinks; set it from the table's first batch for
append-style writers).

Scale shape: each micro-batch pays one anti-join + union snapshot write (see
upsert.py — partition the table and upsert per partition at 100 TB); the
marker probe is one directory listing of committed versions, O(versions),
bounded by ``vacuum``. All IO goes through fsio (pyarrow.fs), never os.path.
"""

from __future__ import annotations

import re
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame

from spookystuff_spark import fsio
from spookystuff_spark.sources import upsert as U

_MARK = "_BATCH_"
_APP_SAFE = re.compile(r"[^A-Za-z0-9.-]+")


def batch_marker_name(batch_id: int, app_id: str | None) -> str:
    """``_BATCH_<id>`` (legacy, no app) or ``_BATCH_<app>_<id>``."""
    if app_id is None:
        return f"{_MARK}{batch_id}"
    return f"{_MARK}{_APP_SAFE.sub('-', app_id)}_{batch_id}"


def _parse_marker(name: str) -> tuple[str | None, int] | None:
    """Marker file name → (app_id or None, batch_id)."""
    if not name.startswith(_MARK):
        return None
    rest = name[len(_MARK):]
    if rest.isdigit():
        return None, int(rest)
    app, _, bid = rest.rpartition("_")
    if app and bid.isdigit():
        return app, int(bid)
    return None


def _batch_marker(
    table_dir: str, version: str, app_id: str | None, raw: dict | None = None
) -> Optional[int]:
    from spookystuff_spark.sources import upsert as U

    app_key = None if app_id is None else _APP_SAFE.sub("-", app_id)
    # the manifest marker index (free when the chain walk passes it in)
    for f in U.version_markers(table_dir, version, raw=raw):
        parsed = _parse_marker(f)
        if parsed is None:
            continue
        marker_app, bid = parsed
        # strict namespace match BOTH ways: a named app sees only its own
        # markers, and app_id=None sees only app-less ones. (Previously
        # None matched ANY marker, so an unnamed writer sharing a table
        # with a named one silently SKIPPED batches whose ids collided
        # with the other app's — wrong-skip is data loss, wrong-replay is
        # at worst a duplicate. Enabling app_id on a live checkpoint
        # re-commits the one in-flight replayed batch — a no-op for the
        # keyed MERGE sinks; set it from the table's first batch and never
        # toggle for the append-style writer.)
        if marker_app == app_key:
            return bid
    return None


def last_committed_batch(
    table_dir: str, app_id: str | None = None
) -> Optional[int]:
    """Highest stream batch id whose snapshot committed (pointer-visible)
    under ``app_id``'s marker namespace (None = legacy: any marker).

    Stream batch ids are monotonic per checkpoint, but interleaved NON-stream
    writes (manual upserts, compaction) create newer versions without
    markers — so walk committed versions newest-first (lazily: the
    steady-state marker is on or near the tip, so the walk reads one or
    two manifests, never the full chain) for the latest marker."""
    if not fsio.is_dir(table_dir):
        return None
    for v, raw in U.chain_desc(table_dir):
        b = _batch_marker(table_dir, v, app_id, raw=raw)
        if b is not None:
            return b
    return None


def check_appless_markers(
    table_dir: str, app_id: str | None, strict: bool = False
) -> None:
    """The fresh-checkpoint-without-app_id foot-gun, made LOUD at sink
    construction: a table that already carries app-less batch markers +
    a new app-less sink is ambiguous — if the stream runs from a fresh
    checkpoint its batch ids restart at 0 and every batch ≤ the old
    marker is silently SKIPPED (wrong-skip is data loss). We can't tell
    a legitimate same-checkpoint resume from that here, so warn (or
    raise with ``strict=True``); the unambiguous call is
    ``app_id=<checkpoint path>`` — one namespace per checkpoint, which
    the ``spooky_versioned`` stream writer defaults to."""
    if app_id is not None or not fsio.is_dir(table_dir):
        return
    prior = last_committed_batch(table_dir, None)
    if prior is None:
        return
    msg = (
        f"{table_dir}: streaming sink constructed with app_id=None but the "
        f"table already carries app-less batch markers (last id {prior}). "
        "If this stream runs from a FRESH checkpoint, its batch ids restart "
        f"at 0 and every batch <= {prior} will be silently SKIPPED (data "
        "loss). Pass app_id=<checkpoint path> — one marker namespace per "
        "checkpoint — to make replay protection unambiguous."
    )
    if strict:
        raise ValueError(msg)
    import warnings

    warnings.warn(msg, UserWarning, stacklevel=3)


def streaming_upsert_sink(
    table_dir: str,
    key_cols: Sequence[str],
    app_id: str | None = None,
    feed_preimages: bool = False,
    strict_app_id: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: MERGE each micro-batch into the
    versioned table, exactly once per (app, batch id). THE CANONICAL CALL
    PASSES ``app_id=<checkpoint location>`` — one marker namespace per
    checkpoint — so a restart with a fresh checkpoint (batch ids back at
    0) is never mistaken for a replay of the old one. Constructing an
    app-less sink against a table with prior app-less markers warns (or
    raises with ``strict_app_id=True``) — see
    :func:`check_appless_markers`.

    Usage::

        q = (df.writeStream.outputMode("update")
               .foreachBatch(streaming_upsert_sink(dir, ["user_id"],
                                                   app_id=ckpt_path))
               .start())
    """
    check_appless_markers(table_dir, app_id, strict_app_id)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_batch(table_dir, app_id)
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch: exactly-once skip
        U.upsert(
            batch_df.sparkSession,
            table_dir,
            batch_df,
            key_cols,
            marker=batch_marker_name(batch_id, app_id),
            feed_preimages=feed_preimages,
        )

    return sink


def streaming_partitioned_upsert_sink(
    table_dir: str,
    key_cols: Sequence[str],
    partition_col: str,
    app_id: str | None = None,
    stats_cols: Sequence[str] | None = None,
    feed_preimages: bool = False,
    strict_app_id: bool = False,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` MERGE into a PARTITION-laid-out versioned table
    (sources/partitioned_table.py): each micro-batch rewrites only the
    partitions it touches — O(batch partitions) per commit instead of the
    plain sink's O(table) snapshot rewrite — under the same per-(app,
    batch) exactly-once markers. The canonical call passes
    ``app_id=<checkpoint location>`` (see :func:`streaming_upsert_sink`)."""
    from spookystuff_spark.sources.partitioned_table import upsert_partitioned

    check_appless_markers(table_dir, app_id, strict_app_id)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_batch(table_dir, app_id)
        if last is not None and batch_id <= last:
            return  # replay: exactly-once skip
        upsert_partitioned(
            batch_df.sparkSession,
            table_dir,
            batch_df,
            key_cols,
            partition_col,
            marker=batch_marker_name(batch_id, app_id),
            stats_cols=stats_cols,
            feed_preimages=feed_preimages,
        )

    return sink
