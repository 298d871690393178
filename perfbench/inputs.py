"""Seeded input generators for the benchmark, kept apart from the system
under test: nothing here imports ``spookystuff_spark`` or Spark.

* :class:`SiteGraph` and :class:`SiteServer` — the ``crawl`` workload's
  synthetic site and the localhost HTTP server that serves it and logs
  every request.
* :func:`lineitem_rows` and :func:`ivm_schedule` — the ``ivm`` workload's
  base table and its commit rounds and lookup keys.
* :func:`corpus` — the ``dedup`` workload's documents with injected
  near-duplicate copies and their ground truth, plus probe batches.

The same seed always gives the same inputs; the program only ever sees
what these functions return.
"""

from __future__ import annotations

import dataclasses
import http.server
import threading
import time
from collections import deque

import numpy as np

# ------------------------------------------------------------------ crawl

#: Pages per BFS level of the site graph. Fixed across seeds so every seed
#: crawls the same number of pages in the same number of epochs; the seed
#: decides which page links to which.
LEVEL_SIZES = (1, 4, 20, 75)


@dataclasses.dataclass(frozen=True)
class SiteGraph:
    """Directed page graph: ``links[i]`` is page ``i``'s outgoing hrefs in
    page order, duplicates included (the same target linked twice)."""

    links: tuple

    @property
    def n_pages(self) -> int:
        return len(self.links)


def site_graph(seed: int, level_sizes=LEVEL_SIZES) -> SiteGraph:
    """Spanning tree by level, plus seeded extra links: duplicate hrefs on
    one page, diamonds (a second parent one level up), back links to any
    shallower page and cross links within a level. No extra link points
    more than one level down, so the BFS depth of page ``i`` is its level."""
    rng = np.random.default_rng([seed, 1])
    levels, start = [], 0
    for size in level_sizes:
        levels.append(list(range(start, start + size)))
        start += size
    links: list[list[int]] = [[] for _ in range(start)]
    for d in range(1, len(levels)):
        parents = levels[d - 1]
        for page in levels[d]:
            links[parents[int(rng.integers(len(parents)))]].append(page)
    for d, level in enumerate(levels):
        for page in level:
            if d + 1 < len(levels) and rng.random() < 0.5:  # diamond
                nxt = levels[d + 1]
                links[page].append(nxt[int(rng.integers(len(nxt)))])
            if d > 0 and rng.random() < 0.4:  # back link
                links[page].append(int(rng.integers(levels[d][0])))
            if rng.random() < 0.3:  # cross link
                links[page].append(level[int(rng.integers(len(level)))])
            if links[page] and rng.random() < 0.5:  # duplicate href
                links[page].append(links[page][int(rng.integers(len(links[page])))])
    return SiteGraph(tuple(tuple(row) for row in links))


def bfs_depths(links, root: int = 0) -> dict:
    """Reference BFS: page → shortest link distance from ``root``."""
    depth = {root: 0}
    queue = deque([root])
    while queue:
        page = queue.popleft()
        for nxt in links[page]:
            if nxt not in depth:
                depth[nxt] = depth[page] + 1
                queue.append(nxt)
    return depth


def page_html(graph: SiteGraph, prefix: str, page: int) -> bytes:
    anchors = "".join(
        f'<a href="/{prefix}/p/{t}">page {t}</a> ' for t in graph.links[page]
    )
    return (
        f"<html><head><title>p{page}</title></head><body>"
        f"<h1>page {page}</h1><p>{anchors}</p></body></html>"
    ).encode()


class SiteServer:
    """Threaded localhost server for a :class:`SiteGraph`.

    ``GET /<prefix>/p/<page>`` serves the page with links under the same
    prefix, after a fixed ``delay_s`` (the remote round trip being
    simulated). Any prefix is valid, so each crawl can use a fresh one.
    Every request is logged as (path, status, service seconds)."""

    def __init__(self, graph: SiteGraph, delay_s: float = 0.002):
        self.graph = graph
        self.delay_s = delay_s
        self._lock = threading.Lock()
        self._log: list[tuple[str, int, float]] = []
        self._httpd = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), self._handler_class()
        )
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever)

    def _handler_class(self):
        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                t0 = time.perf_counter()
                status, body = server._respond(self.path)
                time.sleep(server.delay_s)
                self.send_response(status)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with server._lock:
                    server._log.append(
                        (self.path, status, time.perf_counter() - t0)
                    )

        return Handler

    def _respond(self, path: str) -> tuple[int, bytes]:
        parts = path.strip("/").split("/")
        if len(parts) == 3 and parts[1] == "p" and parts[2].isdigit():
            page = int(parts[2])
            if page < self.graph.n_pages:
                return 200, page_html(self.graph, parts[0], page)
        return 404, b"not found"

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def url(self, prefix: str, page: int) -> str:
        return f"{self.base}/{prefix}/p/{page}"

    def requests(self) -> list[tuple[str, int, float]]:
        with self._lock:
            return list(self._log)

    def start(self) -> "SiteServer":
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)

    def __enter__(self) -> "SiteServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()


# ------------------------------------------------------------------ ivm

#: Base table size: the row count of TPC-H lineitem at scale factor 0.1.
LINEITEM_ROWS = 600_000
LINES_PER_ORDER = 4


def lineitem_rows(seed: int, n_rows: int = LINEITEM_ROWS) -> dict:
    """Lineitem-shaped columns, sorted by ``l_orderkey`` (four lines per
    order), so that contiguous row ranges — and the files written from
    them — hold disjoint key ranges and a per-file bloom can prune."""
    rng = np.random.default_rng([seed, 2])
    n_orders = n_rows // LINES_PER_ORDER
    return {
        "l_orderkey": np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), LINES_PER_ORDER),
        "l_linenumber": np.tile(np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), n_orders),
        "l_suppkey": rng.integers(1, 1001, n_rows, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_rows), 2),
    }


@dataclasses.dataclass(frozen=True)
class Round:
    """One commit round. ``kind`` is ``upsert_hot``, ``upsert_uniform``,
    ``append`` or ``delete``. ``rows`` holds the upserted or appended
    columns; ``delete_keys`` the order keys a delete removes; ``lookup_keys``
    the ``l_orderkey`` values probed after the round's refresh."""

    kind: str
    rows: dict | None
    delete_keys: tuple
    lookup_keys: tuple


#: One schedule cycle. Every cycle has the same mix, so a median over whole
#: cycles does not depend on how many cycles a run completes.
CYCLE = ("upsert_hot", "upsert_uniform", "append", "delete")
HOT_ORDERS = 16  # hot-key pool per seed
HOT_BATCH_ORDERS = 2  # orders rewritten by one hot upsert (≤ 2 view buckets)
UNIFORM_BATCH = 2_000  # rows rewritten by one uniform upsert
APPEND_ORDERS = 500  # new orders per append (2,000 rows)
DELETE_ORDERS = 50
LOOKUPS = 8  # keys per batched point lookup; a quarter are absent


def ivm_schedule(seed: int, n_rounds: int, n_rows: int = LINEITEM_ROWS) -> list:
    """Seeded commit rounds cycling through :data:`CYCLE`. Keys refer to the
    table as it stands after the earlier rounds, so every upsert and delete
    hits existing rows; rows a delete removed are never upserted again."""
    rng = np.random.default_rng([seed, 3])
    n_orders = n_rows // LINES_PER_ORDER
    live = np.ones(n_orders + 1 + n_rounds * APPEND_ORDERS, dtype=bool)
    live[0] = False
    live[n_orders + 1:] = False
    hot = rng.choice(np.arange(1, n_orders + 1), HOT_ORDERS, replace=False)
    next_order = n_orders + 1
    rounds = []

    def values(n):
        return {
            "l_suppkey": rng.integers(1, 1001, n, dtype=np.int64),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        }

    def order_rows(orders):
        orders = np.asarray(orders, dtype=np.int64)
        return {
            "l_orderkey": np.repeat(orders, LINES_PER_ORDER),
            "l_linenumber": np.tile(
                np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), len(orders)
            ),
            **values(len(orders) * LINES_PER_ORDER),
        }

    for i in range(n_rounds):
        kind = CYCLE[i % len(CYCLE)]
        rows, delete_keys = None, ()
        if kind == "upsert_hot":
            pool = hot[live[hot]]
            rows = order_rows(rng.choice(pool, HOT_BATCH_ORDERS, replace=False))
        elif kind == "upsert_uniform":
            orders = rng.choice(np.flatnonzero(live), UNIFORM_BATCH)
            lines = rng.integers(1, LINES_PER_ORDER + 1, UNIFORM_BATCH).astype(np.int32)
            pairs = np.unique(np.stack([orders, lines], axis=1), axis=0)
            rows = {
                "l_orderkey": pairs[:, 0].astype(np.int64),
                "l_linenumber": pairs[:, 1].astype(np.int32),
                **values(len(pairs)),
            }
        elif kind == "append":
            orders = np.arange(next_order, next_order + APPEND_ORDERS)
            next_order += APPEND_ORDERS
            live[orders] = True
            rows = order_rows(orders)
        else:
            cold = np.setdiff1d(np.flatnonzero(live), hot)
            doomed = np.sort(rng.choice(cold, DELETE_ORDERS, replace=False))
            live[doomed] = False
            delete_keys = tuple(int(k) for k in doomed)
        n_absent = LOOKUPS // 4
        present = rng.choice(np.flatnonzero(live), LOOKUPS - n_absent, replace=False)
        absent = next_order + 1_000_000 + rng.choice(1_000_000, n_absent, replace=False)
        keys = tuple(int(k) for k in np.concatenate([present, absent]))
        rounds.append(Round(kind, rows, delete_keys, keys))
    return rounds


# ------------------------------------------------------------------ dedup

CORPUS_DOCS = 5_000  # the sf0.1 ``documents`` row count
INJECTED = 500  # near-duplicate copies planted in the corpus
VOCAB = 4_000
PROBE_BATCHES = 4
PROBE_DOCS = 50  # per batch; half are edited copies of corpus documents


def _words(rng, vocab, n):
    return [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]


def _edit(rng, words, vocab, rate):
    """Copy with about ``rate`` of the words replaced."""
    out = list(words)
    for j in np.flatnonzero(rng.random(len(out)) < rate):
        out[j] = vocab[int(rng.integers(len(vocab)))]
    return out


@dataclasses.dataclass(frozen=True)
class Corpus:
    """``docs``: (doc_id, text) pairs. ``injected``: (original, copy) id
    pairs planted as near-duplicates. ``probes``: batches of (doc_id, text)
    with ids disjoint from the corpus."""

    docs: tuple
    injected: tuple
    probes: tuple


def corpus(
    seed: int,
    n_docs: int = CORPUS_DOCS,
    n_injected: int = INJECTED,
    n_batches: int = PROBE_BATCHES,
    batch_docs: int = PROBE_DOCS,
) -> Corpus:
    rng = np.random.default_rng([seed, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted(
        {"".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(VOCAB)}
    )
    originals = [_words(rng, vocab, int(rng.integers(30, 70))) for _ in range(n_docs)]
    docs = [(i, " ".join(w)) for i, w in enumerate(originals)]
    injected = []
    for src in rng.choice(n_docs, n_injected, replace=False):
        copy_id = len(docs)
        docs.append((copy_id, " ".join(_edit(rng, originals[src], vocab, 0.02))))
        injected.append((int(src), copy_id))
    probes, next_id = [], 1_000_000
    for _ in range(n_batches):
        batch = []
        for j in range(batch_docs):
            if j % 2 == 0:
                src = originals[int(rng.integers(n_docs))]
                words = _edit(rng, src, vocab, 0.05)
            else:
                words = _words(rng, vocab, int(rng.integers(30, 70)))
            batch.append((next_id, " ".join(words)))
            next_id += 1
        probes.append(tuple(batch))
    return Corpus(tuple(docs), tuple(injected), tuple(probes))
