"""Per-layer accounting taken from outside the engine.

Three sources, none of which changes engine code:

* wrappers around the public functions the engine calls through
  module attributes (``pruning.search_pruned``,
  ``query_exec.search_segmented`` / ``search_compressed`` /
  ``exact_topk_numpy``, ``block_codec.write_index``,
  ``ManifestStore.commit``), installed for the traced run only;
* Spark's own job and stage accounting, read from the status store
  for the job ids an operation ran (one client thread, so every job
  between two marks belongs to the operation in between);
* the Python UDF perf profiler (``spark.sql.pyspark.udf.profiler``)
  for the time spent inside the Arrow kernels.
"""

from __future__ import annotations

import glob
import os
import pstats
import time
from collections import defaultdict

import numpy as np

from cs6913_web_search_engines_spark.config import DEFAULT
from cs6913_web_search_engines_spark.functions import tokenizer, varbyte
from cs6913_web_search_engines_spark.operators import (
    block_codec,
    pruning,
    query_exec,
)
from cs6913_web_search_engines_spark.sources import manifest_commit

TIERS = ("local", "segmented", "pruned", "pruned_abort", "compressed")
OPS = ("build_fused", "drain", "query_after_drain", "query",
       "batch_hot", "batch_zipf")
SPARK_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")

# The segment kernel calls ``exact_topk_numpy`` as a global and is
# pickled by value with its globals, so the wrapper must itself pickle
# by reference: a module-level function over module-level state.  On
# executors it runs against that process's own, unread, copy.
_ORIG_TOPK = query_exec.exact_topk_numpy
_TOPK = {"s": 0.0}


def _traced_topk(*args, **kwargs):
    t0 = time.perf_counter()
    try:
        return _ORIG_TOPK(*args, **kwargs)
    finally:
        _TOPK["s"] += time.perf_counter() - t0


class SparkAccounting:
    """Job, stage and task totals for the jobs run since ``mark``."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.next_job = 0
        self._scan()

    def _scan(self) -> list[int]:
        # job ids are dense; the status listener runs behind the
        # scheduler, so wait until every job seen has finished
        deadline = time.time() + 10.0
        while True:
            ids, j = [], self.next_job
            while self.tracker.getJobInfo(j) is not None:
                ids.append(j)
                j += 1
            running = [i for i in ids
                       if self.tracker.getJobInfo(i).status not in
                       ("SUCCEEDED", "FAILED")]
            if not running or time.time() > deadline:
                break
            time.sleep(0.05)
        self.next_job = j
        return ids

    def mark(self) -> None:
        self._scan()

    def since_mark(self) -> dict[str, float]:
        ids = self._scan()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        out["jobs"] = float(len(ids))
        stage_ids = sorted({s for j in ids
                            for s in self.tracker.getJobInfo(j).stageIds})
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, jvm.java.util.ArrayList(),
                                            False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out


class Tracer:
    """Collects the per-layer metrics of one traced run."""

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.spark_acct = SparkAccounting(spark.sparkContext)
        self.op_spark: dict[str, list[dict]] = defaultdict(list)
        self.requests = dict.fromkeys(TIERS, 0)
        self.search_s = dict.fromkeys(TIERS, 0.0)
        self.collect_s = dict.fromkeys(TIERS, 0.0)
        self.pruned = {"plan_s": 0.0, "aborts": 0, "blocks_decoded": 0,
                       "blocks_exhaustive": 0}
        self.write_index_s = 0.0
        self.commits = 0
        self.commit_s = 0.0
        self._tiers_hit: list[str] = []
        self._in_pruned = False
        self._pruned_counters: list[dict] = []
        self._orig: list[tuple[object, str, object]] = []

    # -- wrappers ---------------------------------------------------------
    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        self._orig.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        tracer = self

        def wrap_pruned(orig):
            def search_pruned(*args, **kwargs):
                counters = kwargs.setdefault("counters", {})
                tracer._pruned_counters.append(counters)
                tracer._in_pruned = True
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    tracer._in_pruned = False
                    tracer.pruned["plan_s"] += time.perf_counter() - t0
                    tracer._tiers_hit.append(
                        "pruned_abort" if counters.get("aborted_to_fallback")
                        else "pruned")
            return search_pruned

        def wrap_tier(tier):
            def make(orig):
                def search(*args, **kwargs):
                    if not tracer._in_pruned:
                        tracer._tiers_hit.append(tier)
                    return orig(*args, **kwargs)
                return search
            return make

        def wrap_write_index(orig):
            def write_index(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    tracer.write_index_s += time.perf_counter() - t0
            return write_index

        def wrap_commit(orig):
            def commit(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    tracer.commits += 1
                    tracer.commit_s += time.perf_counter() - t0
            return commit

        self._patch(pruning, "search_pruned", wrap_pruned)
        self._patch(query_exec, "search_segmented", wrap_tier("segmented"))
        self._patch(query_exec, "search_compressed", wrap_tier("compressed"))
        self._patch(query_exec, "exact_topk_numpy", lambda orig: _traced_topk)
        self._patch(block_codec, "write_index", wrap_write_index)
        self._patch(manifest_commit.ManifestStore, "commit", wrap_commit)
        _TOPK["s"] = 0.0
        # worker imports and first-call costs were paid during set-up
        self.spark.profile.clear(type="perf")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def uninstall(self) -> None:
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        for owner, name, orig in reversed(self._orig):
            setattr(owner, name, orig)
        self._orig.clear()

    # -- per-operation accounting -----------------------------------------
    def begin(self) -> None:
        self.spark_acct.mark()
        self._tiers_hit = []
        self._pruned_counters = []

    def end(self, op: str) -> None:
        self.op_spark[op].append(self.spark_acct.since_mark())
        for c in self._pruned_counters:
            if c.get("aborted_to_fallback"):
                self.pruned["aborts"] += 1
            self.pruned["blocks_decoded"] += int(c.get("survivor_blocks", 0))
            self.pruned["blocks_exhaustive"] += int(c.get("exhaustive_blocks", 0))

    def search(self, engine, queries, conjunctive, op: str, **route):
        """One engine request, timed inside ``search`` and in the action,
        attributed to the tier it reached (local by exclusion).
        ``route``: the ``pruned`` / ``local`` arguments of ``search``."""
        self.begin()
        t0 = time.perf_counter()
        df = engine.search(queries, conjunctive=conjunctive, **route)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        tier = self._tiers_hit[-1] if self._tiers_hit else "local"
        self.requests[tier] += 1
        self.search_s[tier] += t1 - t0
        self.collect_s[tier] += t2 - t1
        self.end(op)
        return pdf, t2 - t0

    # -- results ----------------------------------------------------------
    def _kernel_seconds(self) -> dict[str, float]:
        """Cumulative time inside the segment kernel and the encode
        kernels, from the perf profiles dumped by the workers."""
        out_dir = os.path.join(self.workdir, "profiles")
        self.spark.profile.dump(out_dir, type="perf")
        encode_lines = {block_codec._encode_stream(DEFAULT).__code__.co_firstlineno,
                        block_codec._fused_stream(DEFAULT).__code__.co_firstlineno}
        qe_file = os.path.basename(query_exec.__file__)
        bc_file = os.path.basename(block_codec.__file__)
        kernel_s = encode_s = 0.0
        for path in glob.glob(os.path.join(out_dir, "*.pstats")):
            for (fname, line, func), row in pstats.Stats(path).stats.items():
                base = os.path.basename(fname)
                if base == qe_file and func == "kernel":
                    kernel_s += row[3]
                elif base == bc_file and func == "fn" and line in encode_lines:
                    encode_s += row[3]
        return {"query_exec.kernel_s": kernel_s,
                "block_codec.encode_kernel_s": encode_s}

    def metrics(self) -> dict[str, float]:
        m: dict[str, float] = {}
        m.update(self._kernel_seconds())
        for tier in TIERS:
            n = self.requests[tier]
            m[f"engine.requests.{tier}"] = n
            m[f"engine.search_s.{tier}"] = self.search_s[tier] / n if n else 0.0
            m[f"engine.collect_s.{tier}"] = self.collect_s[tier] / n if n else 0.0
        m["query_exec.topk_s"] = _TOPK["s"]
        m["pruning.plan_s"] = self.pruned["plan_s"]
        m["pruning.aborts"] = self.pruned["aborts"]
        m["pruning.blocks_decoded"] = self.pruned["blocks_decoded"]
        m["pruning.blocks_exhaustive"] = self.pruned["blocks_exhaustive"]
        m["pruning.block_survival_ratio"] = (
            self.pruned["blocks_decoded"] / self.pruned["blocks_exhaustive"]
            if self.pruned["blocks_exhaustive"] else 0.0)
        m["block_codec.index_write_s"] = self.write_index_s
        m["manifest_commit.commits"] = self.commits
        m["manifest_commit.commit_s"] = self.commit_s
        for op in OPS:
            rows = self.op_spark.get(op, [])
            for field in SPARK_FIELDS:
                m[f"spark.{field}.{op}"] = (
                    sum(r[field] for r in rows) / len(rows) if rows else 0.0)
        return m


def tier_reached(request) -> str:
    """The tier an engine request reaches: ``request()`` runs with the
    tier entry points wrapped, and a request that reaches none of them
    was answered by the driver-local tier."""
    hit: list[str] = []
    entries = [(pruning, "search_pruned", "pruned"),
               (query_exec, "search_segmented", "segmented"),
               (query_exec, "search_compressed", "compressed")]
    saved = [getattr(owner, name) for owner, name, _ in entries]

    def mark(tier, orig):
        def entry(*args, **kwargs):
            hit.append(tier)
            return orig(*args, **kwargs)
        return entry

    for (owner, name, tier), orig in zip(entries, saved):
        setattr(owner, name, mark(tier, orig))
    try:
        request()
    finally:
        for (owner, name, _), orig in zip(entries, saved):
            setattr(owner, name, orig)
    if not hit:
        return "local"
    # the pruned planner hands an unprunable batch to the segmented tier
    return "pruned_abort" if hit[0] == "pruned" and "segmented" in hit else hit[0]


def _rate(n_items: int, fn, min_s: float = 0.3) -> float:
    """Items per second of ``fn`` (which processes ``n_items``),
    repeated until at least ``min_s`` has elapsed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n_items * reps / dt


def micro_timings(texts_pdf, postings: dict[str, list[tuple[int, int]]],
                  block_rows, topk_inputs) -> dict[str, float]:
    """Spark-free rates of the kernels' building blocks on inputs drawn
    from the workload corpus.

    ``texts_pdf``: (doc_id, text) pandas batch; ``postings``: term →
    [(doc_id, tf)]; ``block_rows``: (n_postings, doc_gaps, tfs) of
    recorded index blocks; ``topk_inputs``: (doc_ids, contribs,
    n_terms) per query."""
    chunk = DEFAULT.postings_per_chunk
    lists = [(np.array([d for d, _ in p], dtype=np.int64),
              np.array([t for _, t in p], dtype=np.int64))
             for p in postings.values() if p]
    n_post = sum(ids.size for ids, _ in lists)

    def encode():
        for ids, tfs in lists:
            varbyte.encode_chunked(varbyte.delta_encode(ids, chunk), chunk)
            varbyte.encode_chunked(tfs, chunk)

    def decode():
        for n, gaps, tfs in block_rows:
            varbyte.delta_decode(varbyte.decode(gaps, n), chunk)
            varbyte.decode(tfs, n)

    def topk():
        for ids, contribs, n_terms in topk_inputs:
            _ORIG_TOPK(ids, contribs, n_terms, False, DEFAULT.top_k)

    return {
        "tokenizer.docs_per_s": _rate(
            len(texts_pdf), lambda: list(tokenizer.postings_batches(iter([texts_pdf])))),
        "varbyte.encode_postings_per_s": _rate(n_post, encode),
        "varbyte.decode_postings_per_s": _rate(
            sum(n for n, _, _ in block_rows), decode),
        "query_exec.topk_postings_per_s": _rate(
            sum(ids.size for ids, _, _ in topk_inputs), topk),
    }
