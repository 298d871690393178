"""Crash-safety matrix for the manifest commit protocol (sources/upsert.py).

A writer commits in four steps: (1) write data files into the next
version dir, (2) write ``_MANIFEST.json`` (+ optional marker), (3) create
the parent-keyed commit file ``_commits/<parent>.c``, (4) refresh the
``_LATEST`` pointer cache. This matrix kills a simulated writer after
each step and asserts, for every crash point: readers see exactly the
old committed state before step 3 and the new one after it;
``committed_versions`` never exposes a torn version; the NEXT writer
leapfrogs the debris and commits cleanly; and ``vacuum`` removes the
debris without touching live data — including data files that later
versions carry forward by manifest reference.
"""

from __future__ import annotations

import os

import pytest

from spookystuff_spark import fsio
from spookystuff_spark.sources import upsert as U


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _state(spark, tdir):
    return {
        (r["k"], r["v"]) for r in U.read_table(spark, tdir).collect()
    }


@pytest.fixture
def seeded(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    U.write_table(_mk(spark, [(1, "a"), (2, "b")]), tdir)
    return tdir


def test_crash_after_data_files_only(spark, seeded):
    """Step-1 crash: data files exist, no manifest, no pointer move."""
    tdir = seeded
    v = U._next_version(tdir)
    _mk(spark, [(9, "torn")]).write.parquet(fsio.join(tdir, v))

    assert U.committed_versions(tdir) == ["v00001"]
    assert _state(spark, tdir) == {(1, "a"), (2, "b")}
    # next writer leapfrogs the torn dir
    v2 = U.upsert(spark, tdir, _mk(spark, [(3, "c")]), ["k"])
    assert v2 > v
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c")}
    # vacuum sweeps the dangling dir
    removed = U.vacuum(tdir, keep=10)
    assert v in removed
    assert not fsio.exists(fsio.join(tdir, v))
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c")}


def test_crash_after_manifest_before_pointer(spark, seeded):
    """Step-2 crash: manifest written but the pointer still names v1. The
    version is complete-but-uncommitted: readers stay on v1; the next
    writer must NOT reuse the version number (single-writer contract makes
    the stale dir vacuumable debris, not a commit)."""
    tdir = seeded
    v = U._next_version(tdir)
    _mk(spark, [(9, "torn")]).write.parquet(fsio.join(tdir, v))
    U.write_manifest(
        tdir, v, [f"{v}/{n}" for n in U._parquet_names(fsio.join(tdir, v))],
        None, "upsert",
    )
    # pointer NOT swapped — crash here
    assert U._latest(tdir) == "v00001"
    assert U.committed_versions(tdir) == ["v00001"]  # above the pointer
    assert _state(spark, tdir) == {(1, "a"), (2, "b")}

    v2 = U.upsert(spark, tdir, _mk(spark, [(3, "c")]), ["k"])
    assert v2 > v
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c")}
    removed = U.vacuum(tdir, keep=10)
    assert v in removed


def test_crash_between_append_chain_preserves_references(spark, seeded):
    """A torn append must not confuse reference carry-forward: commit two
    real appends, tear a third, vacuum — the kept snapshot still reads all
    three committed generations' files."""
    tdir = seeded
    U.append_rows(spark, tdir, _mk(spark, [(3, "c")]))
    U.append_rows(spark, tdir, _mk(spark, [(4, "d")]))
    torn = U._next_version(tdir)
    _mk(spark, [(9, "torn")]).write.parquet(fsio.join(tdir, torn))

    expect = {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert _state(spark, tdir) == expect
    U.vacuum(tdir, keep=1)
    assert not fsio.exists(fsio.join(tdir, torn))
    # earliest version dir lost its manifest but its FILES survive (the
    # kept snapshot references them)
    assert _state(spark, tdir) == expect
    assert U.committed_versions(tdir) == [U._latest(tdir)]


def test_corrupt_pointer_self_heals_via_commit_files(spark, seeded):
    """``_LATEST`` is only a cache of the commit files: a corrupted pointer
    (external damage, non-protocol writer) is simply ignored — the tip is
    max(``_commits``) and every read still works."""
    tdir = seeded
    v = U._next_version(tdir)
    _mk(spark, [(9, "torn")]).write.parquet(fsio.join(tdir, v))
    # cache corrupted: names a manifest-less dir, in both pointer shapes
    for ptr in (v, f"{v}\n{U._commit_file_name('v00001')}"):
        fsio.write_bytes(fsio.join(tdir, U._POINTER), ptr.encode())
        assert U._latest(tdir) == "v00001"  # commit files win
    assert U.committed_versions(tdir) == ["v00001"]
    assert {
        (r["k"], r["v"]) for r in U.read_table(spark, tdir).collect()
    } == {(1, "a"), (2, "b")}


def test_stream_marker_rides_the_manifest_commit(spark, seeded):
    """A marker stamped before the commit file is invisible until the
    commit completes — exactly-once bookkeeping can't run ahead of data."""
    from spookystuff_spark.streaming.sink import last_committed_batch

    tdir = seeded
    v = U._next_version(tdir)
    _mk(spark, [(9, "torn")]).write.parquet(fsio.join(tdir, v))
    U.write_manifest(
        tdir, v, [f"{v}/{n}" for n in U._parquet_names(fsio.join(tdir, v))],
        None, "upsert",
    )
    U._stamp_marker(tdir, v, "_BATCH_app_7")
    # crash before the commit file: the marker must NOT count
    assert last_committed_batch(tdir, "app") is None


def test_concurrent_writer_conflict_detected(spark, seeded):
    """Lost-update guard: a writer whose snapshot read predates another
    writer's commit must FAIL at commit time, not silently erase the
    interleaved rows. Simulated via the internal commit hook with a stale
    expected parent; the pointer stays untouched and the debris vacuums."""
    tdir = seeded
    stale_parent = U._latest(tdir)  # v00001 — what the slow writer read
    # a fast writer lands first
    U.upsert(spark, tdir, _mk(spark, [(3, "c")]), ["k"])
    # the slow writer now tries to commit a snapshot derived from v00001
    v = U._next_version(tdir)
    _mk(spark, [(1, "a"), (2, "b"), (4, "slow")]).write.parquet(
        fsio.join(tdir, v)
    )
    with pytest.raises(U.ConcurrentWriteError):
        U._commit_snapshot(
            None, tdir, v, "upsert", expected_parent=stale_parent
        )
    # nothing moved: the fast writer's state is intact, debris vacuums
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c")}
    assert v not in U.committed_versions(tdir)
    U.vacuum(tdir, keep=10)
    assert not fsio.exists(fsio.join(tdir, v))


def test_crash_after_commit_file_before_pointer_update(spark, seeded):
    """The commit file IS the commit: a writer that dies between its
    parent-keyed CAS (``_commits/<parent>.c``) and the pointer refresh has
    still committed — the stale pointer hint detects the committed child
    slot, walks forward to the true tip, and the next commit heals the
    cache."""
    tdir = seeded
    v = U._next_version(tdir)
    _mk(spark, [(3, "c")]).write.parquet(fsio.join(tdir, v))
    U.write_manifest(
        tdir, v, [f"{v}/{n}" for n in U._parquet_names(fsio.join(tdir, v))],
        None, "upsert", parent="v00001",
    )
    fsio.create_exclusive(
        fsio.join(tdir, "_commits", U._commit_file_name("v00001")),
        v.encode(),
    )
    # pointer cache still says v00001 — the commit file wins
    assert U._latest(tdir) == v
    assert U.committed_versions(tdir) == ["v00001", v]
    assert _state(spark, tdir) == {(3, "c")}  # the manifest is an overwrite
    # the next commit proceeds normally from the true tip
    U.upsert(spark, tdir, _mk(spark, [(4, "d")]), ["k"])
    assert _state(spark, tdir) == {(3, "c"), (4, "d")}


def test_warm_table_hot_path_never_lists_commits(spark, seeded, monkeypatch):
    """Reads and appends on a warm table resolve the tip from the verified
    pointer — ZERO ``_commits`` directory listings (at 100k commits on an
    object store a listing is ~100 paginated LIST calls per table touch).
    Corruption and staleness fall back to the listing, covered above."""
    tdir = seeded
    listed = []
    orig = fsio.ls

    def counting_ls(path):
        listed.append(path)
        return orig(path)

    monkeypatch.setattr(fsio, "ls", counting_ls)
    assert _state(spark, tdir) == {(1, "a"), (2, "b")}  # read_table
    U.append_rows(spark, tdir, _mk(spark, [(3, "c")]))  # commit
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c")}
    commit_lists = [
        p for p in listed if p.rstrip("/").endswith("_commits")
    ]
    assert commit_lists == []
    # and no TABLE-ROOT listing either: _next_version probes upward from
    # the tip instead of enumerating every version dir per write
    root_lists = [p for p in listed if p.rstrip("/") == tdir.rstrip("/")]
    assert root_lists == []


def test_concurrent_commit_exactly_one_wins(spark, seeded):
    """Two writers race the FULL commit path for the same parent and the
    same version name: the create-exclusive commit file arbitrates —
    exactly one succeeds, the loser gets ConcurrentWriteError, and the
    surviving state is the winner's."""
    import threading

    tdir = seeded
    v = U._next_version(tdir)
    _mk(spark, [(3, "c")]).write.parquet(fsio.join(tdir, v))

    barrier = threading.Barrier(2)
    outcomes = []

    def commit():
        barrier.wait()
        try:
            U._commit_snapshot(
                None, tdir, v, "upsert", expected_parent="v00001"
            )
            outcomes.append("ok")
        except U.ConcurrentWriteError:
            outcomes.append("conflict")

    ts = [threading.Thread(target=commit) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(outcomes) == ["conflict", "ok"]
    assert U._latest(tdir) == v
    assert _state(spark, tdir) == {(3, "c")}  # the staged overwrite landed


def test_stale_writer_loses_to_committed_child(spark, seeded):
    """A slow writer whose parent already has a committed child fails the
    expected-parent re-check inside the finalize step even when it picked
    a FRESH version name."""
    tdir = seeded
    U.upsert(spark, tdir, _mk(spark, [(3, "c")]), ["k"])  # fast writer
    v = U._next_version(tdir)
    _mk(spark, [(9, "slow")]).write.parquet(fsio.join(tdir, v))
    U.write_manifest(
        tdir, v, [f"{v}/{n}" for n in U._parquet_names(fsio.join(tdir, v))],
        None, "upsert", parent="v00001",
    )
    with pytest.raises(U.ConcurrentWriteError):
        U._finalize_commit(tdir, v, "v00001")
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c")}
    assert v not in U.committed_versions(tdir)


def test_retry_on_conflict_gives_multi_writer_liveness(spark, seeded):
    """Two writers upserting DISJOINT keys concurrently, each wrapped in
    retry_on_conflict: the CAS makes one lose each round, the retry re-runs
    it against the fresh state — both batches land, nothing lost."""
    import threading

    tdir = seeded
    errs = []

    def writer(k, v):
        try:
            U.retry_on_conflict(
                lambda: U.upsert(spark, tdir, _mk(spark, [(k, v)]), ["k"]),
                attempts=5,
            )
        except Exception as ex:  # noqa: BLE001 — surface to the assert
            errs.append(ex)

    ts = [
        threading.Thread(target=writer, args=(3, "c")),
        threading.Thread(target=writer, args=(4, "d")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert _state(spark, tdir) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_different_name_same_parent_race_one_winner(spark, seeded):
    """The nastier race: debris occupies the lower version name, so two
    same-parent writers stage DIFFERENT names. The post-CAS sibling check
    resolves it deterministically — exactly one survives, and the survivor
    is the chain tip."""
    import threading

    tdir = seeded
    for v in ("v00002", "v00003"):
        _mk(spark, [(int(v[-1]), v)]).write.parquet(fsio.join(tdir, v))

    barrier = threading.Barrier(2)
    outcomes = {}

    def commit(v):
        barrier.wait()
        try:
            U._commit_snapshot(
                None, tdir, v, "upsert", expected_parent="v00001"
            )
            outcomes[v] = "ok"
        except U.ConcurrentWriteError:
            outcomes[v] = "conflict"

    ts = [
        threading.Thread(target=commit, args=(v,))
        for v in ("v00002", "v00003")
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(outcomes.values()) == ["conflict", "ok"]
    winner = next(v for v, o in outcomes.items() if o == "ok")
    assert U._latest(tdir) == winner
    # the chain is consistent: tip's parent is the shared parent, the
    # loser's commit file is gone (retracted or never created)
    assert U.committed_versions(tdir)[-1] == winner
    loser = next(v for v, o in outcomes.items() if o == "conflict")
    assert not fsio.exists(fsio.join(tdir, "_commits", loser))


def test_ordered_same_parent_race_lower_commits_first(spark, seeded):
    """The r6-ADVICE lost-update interleaving, pinned with ORDERED steps
    (not a single pre-commit barrier): writer A (lower name) runs its FULL
    commit path and reports success; only then does writer B (higher name,
    same parent, re-checked while the parent was still the tip) attempt its
    commit. B must fail — its success would silently drop A's rows from
    the tip. The parent-keyed CAS makes this structural: both writers race
    ``_commits/v00001.c`` regardless of the version names they staged."""
    tdir = seeded
    # debris occupies the lower name so the writers stage DIFFERENT names
    for v in ("v00002", "v00003"):
        _mk(spark, [(int(v[-1]), v)]).write.parquet(fsio.join(tdir, v))

    # B's expected-parent re-check passes NOW (the table tip is v00001) —
    # this is the precise point the r6 protocol checked before its CAS
    assert U._latest(tdir) == "v00001"

    # A commits fully and reports success
    U._commit_snapshot(None, tdir, "v00002", "upsert",
                       expected_parent="v00001")
    assert U._latest(tdir) == "v00002"

    # B now finalizes with its (stale-but-once-valid) expected parent: the
    # CAS on _commits/v00001.c already belongs to A — B must lose
    U.write_manifest(
        tdir, "v00003",
        [f"v00003/{n}" for n in U._parquet_names(fsio.join(tdir, "v00003"))],
        None, "upsert", parent="v00001",
    )
    with pytest.raises(U.ConcurrentWriteError):
        U._finalize_commit(tdir, "v00003", "v00001")

    # exactly one child of v00001 survives and it is A
    assert U._latest(tdir) == "v00002"
    assert U.committed_versions(tdir) == ["v00001", "v00002"]
    assert _state(spark, tdir) == {(2, "v00002")}


def test_retry_on_conflict_narrowed_to_version_dir_collisions(tmp_path):
    """An unrelated already-exists failure is a real error, not a
    concurrency conflict: it must propagate on the FIRST attempt instead
    of being retried into backoff noise. Only version-dir collisions (and
    ConcurrentWriteError) retry."""
    calls = {"n": 0}

    def misconfigured():
        calls["n"] += 1
        raise RuntimeError(
            "[PATH_ALREADY_EXISTS] Path file:/data/exports/report.csv "
            "already exists."
        )

    with pytest.raises(RuntimeError):
        U.retry_on_conflict(misconfigured, attempts=5)
    assert calls["n"] == 1  # no retries burned on a misconfiguration

    # a genuine next-version data-dir collision DOES retry
    tdir = str(tmp_path / "tbl")
    calls["n"] = 0

    def version_dir_collision():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError(
                f"[PATH_ALREADY_EXISTS] Path file:{tdir}/v00002 already "
                "exists."
            )
        return "ok"

    assert (
        U.retry_on_conflict(version_dir_collision, attempts=5,
                            table_dir=tdir)
        == "ok"
    )
    assert calls["n"] == 3

    # with table_dir pinned, ANOTHER table's version dir is not a conflict
    calls["n"] = 0

    def other_table():
        calls["n"] += 1
        raise RuntimeError(
            "[PATH_ALREADY_EXISTS] Path file:/somewhere/else/v00002 "
            "already exists."
        )

    with pytest.raises(RuntimeError):
        U.retry_on_conflict(other_table, attempts=5, table_dir=tdir)
    assert calls["n"] == 1


def test_version_ordering_survives_the_width_transition(tmp_path):
    """The r8 review catch: 'v100000' < 'v99999' lexically, so string
    ordering serves a stale tip forever past commit 100k — exactly the
    scale the pointer fast path exists for. Every ordering (listing max,
    forward walk, committed sort, next-version probe) must be numeric."""
    tdir = str(tmp_path / "wide")
    fsio.mkdirs(fsio.join(tdir, "_commits"))
    for v, parent in [("v99999", "v99998"), ("v100000", "v99999")]:
        fsio.mkdirs(fsio.join(tdir, v))
        U.write_manifest(tdir, v, [], None, "upsert", parent=parent)
        fsio.create_exclusive(
            fsio.join(tdir, "_commits", U._commit_file_name(parent)),
            v.encode(),
        )
    # authoritative listing path (no pointer): numeric max wins
    assert U._latest(tdir) == "v100000"
    # verified-pointer path: a stale pointer BELOW the width transition
    # still walks forward across it
    fsio.write_bytes(
        fsio.join(tdir, U._POINTER),
        f"v99999\n{U._commit_file_name('v99998')}".encode(),
    )
    assert U._latest(tdir) == "v100000"
    assert U.committed_versions(tdir) == ["v99999", "v100000"]
    assert U._next_version(tdir) == "v100001"
