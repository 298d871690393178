"""The three workloads. Each drives the public API of ``spookystuff_spark``
with inputs from :mod:`inputs` and checks the outputs it gets back.

A workload object has:

* ``prepare(dir)`` — build the run's inputs and sources under ``dir``;
  the runner calls it several times and times each (set-up);
* ``warm_up(tracer)`` — a smaller pass over the same code paths, so that
  Python workers, JIT and lazy set-up are done before timing starts;
* ``iteration(tracer)`` — one unit of measured work, returning a
  :class:`Sample`; calls into a layer run inside ``tracer.span(...)``;
* ``final_check()`` — checks that need the whole run (the ``ivm`` view);
* ``layer_counts()`` — the per-layer counters gathered from the server,
  the disk and the operators' outputs.

Checks raise :class:`CheckFailed`; the runner counts them as failures.
"""

from __future__ import annotations

import dataclasses
import functools
import os
import time

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import inputs
from spookystuff_spark import S, SpookyConf, SpookyContext, Wget
from spookystuff_spark.operators.dedup import (
    jaccard,
    minhash_bands,
    minhash_candidate_pairs,
    minhash_near_duplicates,
)
from spookystuff_spark.operators.lsh_index import build_lsh_index, lsh_index_query_df
from spookystuff_spark.sources.bloom_index import read_table_points
from spookystuff_spark.sources.incremental import refresh_aggregate
from spookystuff_spark.sources.upsert import (
    append_rows,
    delete_where,
    committed_versions,
    read_table,
    upsert,
    write_table,
)


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclasses.dataclass
class Sample:
    """One iteration's timings: ``rate`` holds (items, seconds) of the
    write-side operations the throughput counts, ``write`` and ``read`` the
    seconds of each write-side and read-side operation. ``ops`` counts
    checked operations and ``failed`` those whose output check failed."""

    rate: list
    write: list
    read: list
    ops: int
    failed: int = 0


def _tree(path: str) -> dict:
    """File path → size for every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            out[full] = os.path.getsize(full)
    return out


class Workload:
    def __init__(self, spark, seed: int, work: str, counters: "Counters"):
        self.spark, self.seed, self.work, self.c = spark, seed, work, counters

    def final_check(self) -> None:
        pass

    def close(self) -> None:
        pass


class Counters:
    """Sums and sample lists for the per-layer counters."""

    def __init__(self):
        self.sums: dict[str, float] = {}
        self.lists: dict[str, list] = {}

    def add(self, name: str, value: float) -> None:
        self.sums[name] = self.sums.get(name, 0.0) + value

    def sample(self, name: str, value: float) -> None:
        self.lists.setdefault(name, []).append(value)

    def ratio(self, num: str, den: str) -> float:
        d = self.sums.get(den, 0.0)
        return self.sums.get(num, 0.0) / d if d else 0.0

    def mean(self, name: str) -> float:
        vals = self.lists.get(name)
        return float(np.mean(vals)) if vals else 0.0


# ------------------------------------------------------------------ crawl


class Crawl(Workload):
    """Cold ``explore`` of the seeded site over localhost HTTP with a fresh
    DFS cache root and URL prefix per iteration, then a warm ``fetch`` of
    the visited set that must be served from the cache alone."""

    MAX_DEPTH = 10  # above the graph's depth: the crawl ends on an empty frontier
    WARM_PASSES = 3

    def __init__(self, spark, seed: int, work: str, counters: Counters):
        super().__init__(spark, seed, work, counters)
        self.graph = None
        self.server = None
        self.n = 0

    def prepare(self, d: str) -> None:
        self.graph = inputs.site_graph(self.seed)
        self.expected = inputs.bfs_depths(self.graph.links)
        if self.server is None:
            self.server = inputs.SiteServer(self.graph).start()
        self.cache_root = d

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None

    def _explore(self, ctx, prefix: str, max_depth: int):
        seeds = self.spark.createDataFrame([(self.server.url(prefix, 0),)], "seed string")
        return (
            ctx.create(seeds)
            .explore(Wget("{seed}"), expand=S("a").hrefs, range=(0, max_depth))
            .select(uri=S.uri)
            .to_df()
            .select("uri", "depth")
            .collect()
        )

    def _fetch(self, ctx, urls):
        frame = self.spark.createDataFrame([(u,) for u in urls], "u string")
        return (
            ctx.create(frame)
            .fetch(Wget("{u}"))
            .select(title=S("title").text)
            .to_df()
            .collect()
        )

    def _ctx(self, cache: str):
        return SpookyContext(self.spark, SpookyConf(dfs_cache_root=cache))

    def warm_up(self, tracer) -> None:
        """Explore two levels under a throwaway prefix and re-fetch them."""
        cache = os.path.join(self.cache_root, "cache-warm-up")
        rows = self._explore(self._ctx(cache), "warm-up", 1)
        self._fetch(self._ctx(cache), [r.uri for r in rows])

    def iteration(self, tracer) -> Sample:
        self.n += 1
        prefix = f"s{self.seed}-i{self.n}"
        cache = os.path.join(self.cache_root, f"cache-{self.n}")
        ctx = self._ctx(cache)
        before = len(self.server.requests())
        t0 = time.perf_counter()
        with tracer.span("plans.explore"):
            rows = self._explore(ctx, prefix, self.MAX_DEPTH)
        cold_s = time.perf_counter() - t0
        log = self.server.requests()
        cold_log = log[before:]
        failed = 0
        want = {self.server.url(prefix, p): d for p, d in self.expected.items()}
        got = {r.uri: r.depth for r in rows}
        if got != want or len(rows) != len(want):
            failed += 1
        cold_metrics = ctx.metrics.snapshot()

        warm_ctx = self._ctx(cache)
        expect_titles = {u: f"p{u.rsplit('/', 1)[1]}" for u in want}
        warm_s = []
        for _ in range(self.WARM_PASSES):
            t1 = time.perf_counter()
            with tracer.span("plans.fetch"):
                warm = self._fetch(warm_ctx, sorted(want))
            warm_s.append(time.perf_counter() - t1)
            if {r.u: r.title for r in warm} != expect_titles:
                failed += 1
        if len(self.server.requests()) != len(log):
            failed += 1  # a warm pass went to the server
        warm_metrics = warm_ctx.metrics.snapshot()

        if tracer.enabled:
            self.c.add("remote_requests", len(cold_log))
            self.c.add("distinct_urls", len({p for p, _s, _t in cold_log}))
            self.c.add("server_busy_s", sum(t for _p, _s, t in cold_log))
            self.c.add("fetch_errors", cold_metrics["fetch_errors"] + warm_metrics["fetch_errors"])
            self.c.add("warm_from_cache", warm_metrics["pages_from_cache"])
            self.c.add("warm_fetched", warm_metrics["pages_fetched"])
            files = _tree(cache)
            self.c.sample("dfs_files", len(files))
            self.c.sample("dfs_bytes", sum(files.values()))
            self.c.add("passes", 1)
        n = len(want)
        return Sample([(n, cold_s)], [cold_s], warm_s, ops=2 + self.WARM_PASSES, failed=failed)

    def layer_counts(self) -> dict:
        c = self.c
        passes = c.sums.get("passes", 0.0) or 1.0
        return {
            "actions.remote_requests": c.sums.get("remote_requests", 0.0) / passes,
            "actions.dup_request_ratio": c.ratio("remote_requests", "distinct_urls"),
            "actions.server_busy_s": c.sums.get("server_busy_s", 0.0) / passes,
            "actions.fetch_errors": c.sums.get("fetch_errors", 0.0),
            "caching.warm_hit_ratio": c.ratio("warm_from_cache", "warm_fetched"),
            "caching.dfs_files": c.mean("dfs_files"),
            "caching.dfs_bytes": c.mean("dfs_bytes"),
        }


# ------------------------------------------------------------------ ivm

KEY = ["l_orderkey", "l_linenumber"]
VIEW_BUCKETS = 8


class Ivm(Workload):
    """Commit rounds against a versioned lineitem table with a keyed
    aggregate view refreshed after every commit, and batched bloom-pruned
    point lookups after every refresh."""

    AGG = dict(
        group_cols=["l_orderkey"],
        sum_cols=["l_quantity", "l_extendedprice"],
        min_cols=["l_extendedprice"],
        max_cols=["l_extendedprice"],
        dst_buckets=VIEW_BUCKETS,
    )
    ROUNDS = 48  # schedule length; a run uses the first few
    FILES = 16  # base-table files, each a contiguous key range
    SCHEMA = (
        "l_orderkey long, l_linenumber int, l_suppkey long, "
        "l_quantity double, l_extendedprice double"
    )

    def __init__(self, spark, seed: int, work: str, counters: Counters):
        super().__init__(spark, seed, work, counters)
        self.schedule = inputs.ivm_schedule(seed, self.ROUNDS)
        self.prepared: list[str] = []
        self.lookups: list = []
        self.pos = 0

    def _frame(self, cols: dict):
        return self.spark.createDataFrame(pd.DataFrame(cols))

    def _use(self, d: str) -> None:
        self.src, self.dst = os.path.join(d, "lineitem"), os.path.join(d, "view")

    def prepare(self, d: str) -> None:
        """Write the generated rows as parquet, load them into a versioned
        table with blooms on ``l_orderkey`` and build the view."""
        os.makedirs(d)
        base = inputs.lineitem_rows(self.seed)
        parts = []
        for i, idx in enumerate(np.array_split(np.arange(len(base["l_orderkey"])), self.FILES)):
            parts.append(os.path.join(d, f"input-{i:02d}.parquet"))
            pd.DataFrame({k: v[idx] for k, v in base.items()}).to_parquet(parts[-1], index=False)
        # one scan per file keeps one partition, so one output file, per range
        df = functools.reduce(
            DataFrame.union, [self.spark.read.schema(self.SCHEMA).parquet(p) for p in parts]
        )
        self._use(d)
        write_table(df, self.src, bloom_cols=["l_orderkey"])
        refresh_aggregate(self.spark, self.src, self.dst, **self.AGG)
        self.prepared.append(d)

    def warm_up(self, tracer) -> None:
        """One uniform-upsert round on the first prepared copy; the runs
        measure the last one."""
        self._use(self.prepared[0])
        self._round(self.schedule[1], tracer, [], [], [])
        self._use(self.prepared[-1])
        self.lookups = []

    def _commit(self, rnd):
        """(span name, call) for the round's commit."""
        if rnd.kind.startswith("upsert"):
            return "sources.upsert", lambda: upsert(
                self.spark, self.src, self._frame(rnd.rows), KEY, feed_preimages=True
            )
        if rnd.kind == "append":
            return "sources.append_rows", lambda: append_rows(
                self.spark, self.src, self._frame(rnd.rows), bloom_cols=["l_orderkey"]
            )
        cond = F.col("l_orderkey").isin(list(rnd.delete_keys))
        return "sources.delete_where", lambda: delete_where(self.spark, self.src, cond)

    def iteration(self, tracer) -> Sample:
        """One schedule cycle: every round kind once."""
        rate, write, read = [], [], []
        for _ in inputs.CYCLE:
            self._round(self.schedule[self.pos], tracer, rate, write, read)
            self.pos += 1
        return Sample(rate, write, read, ops=2 * len(inputs.CYCLE))

    def _round(self, rnd, tracer, rate, write, read) -> None:
        """Commit, refresh the view, then look up the round's keys."""
        name, commit = self._commit(rnd)
        src_before = _tree(self.src) if tracer.enabled else None
        dst_before = _tree(self.dst) if tracer.enabled else None
        t0 = time.perf_counter()
        with tracer.span(name):
            commit()
        with tracer.span("sources.refresh_aggregate"):
            view_v = refresh_aggregate(self.spark, self.src, self.dst, **self.AGG)
        fresh_s = time.perf_counter() - t0
        changed = len(rnd.rows["l_orderkey"]) if rnd.rows else len(rnd.delete_keys) * 4
        rate.append((changed, fresh_s))
        write.append(fresh_s)
        if tracer.enabled:
            self._count_commit(rnd, src_before, dst_before, view_v)

        t1 = time.perf_counter()
        with tracer.span("sources.read_table_points"):
            found = read_table_points(self.spark, self.src, "l_orderkey", rnd.lookup_keys)
            rows = functools.reduce(
                DataFrame.unionByName, [frame for frame, _stats in found]
            ).collect()
        read.append(time.perf_counter() - t1)
        if tracer.enabled:
            self.c.add("bloom_skipped", sum(s["skipped_bloom"] for _f, s in found))
            self.c.add("bloom_files", sum(s["skipped_bloom"] + s["scanned"] for _f, s in found))
        self.lookups.append((committed_versions(self.src)[-1], rnd.lookup_keys, rows))

    def _count_commit(self, rnd, src_before, dst_before, view_v) -> None:
        src_after, dst_after = _tree(self.src), _tree(self.dst)
        added = {p: s for p, s in src_after.items() if p not in src_before}
        self.c.sample("files_per_version", len(added))
        if rnd.rows is not None:
            batch = os.path.join(self.work, "batch.parquet")
            pd.DataFrame(rnd.rows).to_parquet(batch, index=False)
            self.c.add("src_bytes_added", sum(added.values()))
            self.c.add("batch_bytes", os.path.getsize(batch))
            os.remove(batch)
        new_view = {p: s for p, s in dst_after.items() if p not in dst_before}
        self.c.sample("view_bytes_rewritten", sum(new_view.values()))
        vdir = os.path.join(self.dst, view_v) if view_v else None
        touched = {
            part for p in new_view
            for part in p.split(os.sep) if vdir and p.startswith(vdir) and part.startswith("__part=")
        }
        self.c.sample("buckets_touched_ratio", len(touched) / VIEW_BUCKETS)

    def final_check(self) -> None:
        """Every lookup equals a filter scan of the snapshot it read (one
        job for all of them), and the refreshed view equals a from-scratch ``groupBy`` of the
        current snapshot: counts, sums (to 1e-6), minima and maxima."""
        view = read_table(self.spark, self.dst)
        scratch = (
            read_table(self.spark, self.src)
            .groupBy("l_orderkey")
            .agg(
                F.sum("l_quantity").alias("q"),
                F.sum("l_extendedprice").alias("p"),
                F.min("l_extendedprice").alias("lo"),
                F.max("l_extendedprice").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        bad = (
            view.join(scratch, "l_orderkey", "full_outer")
            .where(
                F.col("n").isNull()
                | F.col("n_rows").isNull()
                | (F.col("n") != F.col("n_rows"))
                | (F.abs(F.col("q") - F.col("l_quantity_sum")) > 1e-6)
                | (F.abs(F.col("p") - F.col("l_extendedprice_sum")) > 1e-6)
                | (F.col("lo") != F.col("l_extendedprice_min"))
                | (F.col("hi") != F.col("l_extendedprice_max"))
            )
            .count()
        )
        check(bad == 0, f"ivm view differs from a from-scratch groupBy in {bad} groups")
        scans = [
            read_table(self.spark, self.src, version=v)
            .where(F.col("l_orderkey").isin(list(keys)))
            .withColumn("_round", F.lit(i))
            for i, (v, keys, _rows) in enumerate(self.lookups)
        ]
        want = {i: [] for i in range(len(self.lookups))}
        for r in functools.reduce(DataFrame.unionByName, scans).collect():
            want[r["_round"]].append(tuple(r)[:-1])
        bad = [
            i for i, (_v, _keys, rows) in enumerate(self.lookups)
            if sorted(tuple(r) for r in rows) != sorted(want[i])
        ]
        check(not bad, f"ivm lookups differ from a filter scan in rounds {bad}")

    def layer_counts(self) -> dict:
        c = self.c
        return {
            "sources.write_amp": c.ratio("src_bytes_added", "batch_bytes"),
            "sources.files_per_version": c.mean("files_per_version"),
            "sources.view_bytes_rewritten": c.mean("view_bytes_rewritten"),
            "sources.buckets_touched_ratio": c.mean("buckets_touched_ratio"),
            "sources.bloom_skip_ratio": c.ratio("bloom_skipped", "bloom_files"),
        }


# ------------------------------------------------------------------ dedup

THRESHOLD = 0.8  # minhash_near_duplicates' default
PROBE_THRESHOLD = 0.5  # lsh_index_query_df's default


class Dedup(Workload):
    """Batch MinHash near-duplicate detection over the seeded corpus, then
    an LSH index build over its versioned copy and seeded probe batches."""

    WARM_UP_DOCS = 500

    def __init__(self, spark, seed: int, work: str, counters: Counters):
        super().__init__(spark, seed, work, counters)
        self.n = 0

    def prepare(self, d: str) -> None:
        self.corpus = inputs.corpus(self.seed)
        self.texts = dict(self.corpus.docs)
        self.docs = self.spark.createDataFrame(
            pd.DataFrame(self.corpus.docs, columns=["doc_id", "text"])
        )
        self.src = os.path.join(d, "documents")
        write_table(self.docs, self.src)
        self.probes = [
            self.spark.createDataFrame(pd.DataFrame(b, columns=["doc_id", "text"]))
            for b in self.corpus.probes
        ]
        self.dir = d
        self.small_src = os.path.join(d, "documents-warm-up")
        write_table(self.docs.where(F.col("doc_id") < self.WARM_UP_DOCS), self.small_src)
        # ground truth: planted pairs at or above the threshold
        self.truth = {
            (a, b) for a, b in self.corpus.injected
            if jaccard(self.texts[a], self.texts[b]) >= THRESHOLD
        }

    def warm_up(self, tracer) -> None:
        """Every call once on a small slice of the corpus."""
        small = self.docs.where(F.col("doc_id") < self.WARM_UP_DOCS)
        minhash_near_duplicates(small, "doc_id", "text", threshold=THRESHOLD).collect()
        index_dir = os.path.join(self.dir, "index-warm-up")
        build_lsh_index(self.spark, self.small_src, index_dir)
        lsh_index_query_df(self.spark, index_dir, self.probes[0]).collect()

    def iteration(self, tracer) -> Sample:
        self.n += 1
        failed = 0
        t0 = time.perf_counter()
        with tracer.span("operators.minhash_near_duplicates"):
            pairs = minhash_near_duplicates(
                self.docs, "doc_id", "text", threshold=THRESHOLD
            ).collect()
        batch_s = time.perf_counter() - t0
        found = {(min(p.id_a, p.id_b), max(p.id_a, p.id_b)) for p in pairs}
        if any(jaccard(self.texts[a], self.texts[b]) < THRESHOLD for a, b in found):
            failed += 1

        index_dir = os.path.join(self.dir, f"index-{self.n}")
        t1 = time.perf_counter()
        with tracer.span("operators.build_lsh_index"):
            build_lsh_index(self.spark, self.src, index_dir)
        build_s = time.perf_counter() - t1

        probe_samples = []
        for batch, frame in zip(self.corpus.probes, self.probes):
            t2 = time.perf_counter()
            with tracer.span("operators.lsh_index_query_df"):
                hits = lsh_index_query_df(self.spark, index_dir, frame).collect()
            probe_samples.append(time.perf_counter() - t2)
            ids = {pid for pid, _t in batch}
            if any(h.probe_id not in ids or h.id not in self.texts for h in hits):
                failed += 1
        if tracer.enabled:
            self._count(found)
        n_docs = len(self.corpus.docs)
        return Sample(
            [(n_docs, batch_s)], [build_s], probe_samples,
            ops=2 + len(self.probes), failed=failed,
        )

    def _count(self, found) -> None:
        self.c.add("verified_pairs", len(found))
        self.c.add("injected_found", len(self.truth & found))
        self.c.add("injected", len(self.truth))
        self.c.add("passes", 1)

    def layer_counts(self) -> dict:
        """The candidate count is seed-fixed, so it is taken once, outside
        the timed iterations, from the pipeline's own first two steps."""
        c = self.c
        passes = c.sums.get("passes", 0.0) or 1.0
        cands = minhash_candidate_pairs(minhash_bands(self.docs, "doc_id", "text")).count()
        verified = c.sums.get("verified_pairs", 0.0) / passes
        return {
            "operators.candidate_pairs": float(cands),
            "operators.verified_pairs": verified,
            "operators.candidate_precision": verified / cands if cands else 0.0,
            "operators.injected_recall": c.ratio("injected_found", "injected"),
        }


WORKLOADS = {"crawl": Crawl, "ivm": Ivm, "dedup": Dedup}
