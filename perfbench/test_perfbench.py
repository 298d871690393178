"""Tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import urllib.request

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from spans import Job, Span, driver_gap, self_time, union_length  # noqa: E402


# ------------------------------------------------------------ generators


def test_site_graph_deterministic_per_seed():
    assert inputs.site_graph(7) == inputs.site_graph(7)
    assert inputs.site_graph(7) != inputs.site_graph(8)


def test_site_graph_depth_is_level():
    g = inputs.site_graph(3)
    depths = inputs.bfs_depths(g.links)
    assert len(depths) == g.n_pages == sum(inputs.LEVEL_SIZES)
    page = 0
    for level, size in enumerate(inputs.LEVEL_SIZES):
        assert all(depths[p] == level for p in range(page, page + size))
        page += size


def test_site_graph_has_duplicates_and_diamonds():
    g = inputs.site_graph(5)
    assert any(len(row) != len(set(row)) for row in g.links)  # duplicate hrefs
    parents: dict = {}
    for src, row in enumerate(g.links):
        for dst in set(row):
            parents.setdefault(dst, set()).add(src)
    assert any(len(p) > 1 for p in parents.values())  # diamonds


def test_ivm_schedule_deterministic_per_seed():
    def flat(rounds):
        return [
            (r.kind, r.delete_keys, r.lookup_keys,
             {k: v.tolist() for k, v in (r.rows or {}).items()})
            for r in rounds
        ]

    assert flat(inputs.ivm_schedule(1, 12)) == flat(inputs.ivm_schedule(1, 12))
    assert flat(inputs.ivm_schedule(1, 12)) != flat(inputs.ivm_schedule(2, 12))
    a, b = inputs.lineitem_rows(1, 4_000), inputs.lineitem_rows(1, 4_000)
    assert all(np.array_equal(a[k], b[k]) for k in a)


def test_ivm_schedule_hits_existing_keys():
    n_rows = 4_000
    base = inputs.lineitem_rows(1, n_rows)
    live = set(zip(base["l_orderkey"].tolist(), base["l_linenumber"].tolist()))
    for r in inputs.ivm_schedule(1, 16, n_rows):
        keys = set(zip(r.rows["l_orderkey"].tolist(), r.rows["l_linenumber"].tolist())) if r.rows else set()
        if r.kind.startswith("upsert"):
            assert keys <= live
        elif r.kind == "append":
            assert not keys & live
            live |= keys
        else:
            doomed = set(r.delete_keys)
            assert doomed and all(any(o == k for o, _l in live) for k in doomed)
            live = {(o, ln) for o, ln in live if o not in doomed}
    assert [r.kind for r in inputs.ivm_schedule(1, 8, n_rows)] == list(inputs.CYCLE) * 2


def test_corpus_deterministic_per_seed():
    small = dict(n_docs=200, n_injected=20, n_batches=2, batch_docs=6)
    assert inputs.corpus(4, **small) == inputs.corpus(4, **small)
    assert inputs.corpus(4, **small) != inputs.corpus(5, **small)
    c = inputs.corpus(4, **small)
    ids = [d for d, _t in c.docs]
    assert ids == list(range(220))
    assert all(a < 200 <= b for a, b in c.injected)
    assert not {d for b in c.probes for d, _t in b} & set(ids)


# ------------------------------------------------------------ BFS oracle


def test_bfs_oracle_hand_checked():
    # 0 → 1, 2; 1 → 3; 2 → 3 (diamond), 3 → 0 (back link), 4 unreachable
    links = ((1, 2, 2), (3,), (3,), (0,), (0,))
    assert inputs.bfs_depths(links) == {0: 0, 1: 1, 2: 1, 3: 2}


def test_site_server_serves_graph_and_logs():
    g = inputs.site_graph(2)
    with inputs.SiteServer(g, delay_s=0.0) as srv:
        body = urllib.request.urlopen(srv.url("x", 0), timeout=5).read().decode()
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"{srv.base}/x/p/{g.n_pages}", timeout=5)
        log = srv.requests()
    for target in g.links[0]:
        assert f'href="/x/p/{target}"' in body
    assert [(p, s) for p, s, _t in log] == [("/x/p/0", 200), (f"/x/p/{g.n_pages}", 404)]


# ------------------------------------------------------------ span arithmetic


def _span(span_id, start, end, parent=None, jobs=()):
    return Span("s", span_id, parent, "r", start, end, list(jobs), (0, 0))


def _job(job_id, start, end):
    return Job(job_id, start, end, 1, 0.0, 0)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_of_nested_spans():
    root = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 6.0, 1), _span(4, 8.0, 9.0, 1)]
    assert self_time(root, kids) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(kids[0], []) == pytest.approx(3.0)


def test_driver_gap_with_overlapping_jobs():
    span = _span(1, 0.0, 10.0)
    jobs = [_job(0, 1.0, 3.0), _job(1, 2.0, 4.0), _job(2, 6.0, 7.0), _job(3, 9.5, 12.0)]
    # union of job intervals inside the span: [1,4] + [6,7] + [9.5,10] = 4.5
    assert driver_gap(span, jobs) == pytest.approx(5.5)
    assert driver_gap(span, []) == pytest.approx(10.0)
