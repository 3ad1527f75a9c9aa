"""The two workloads.  Each returns a :class:`Outcome`; run.py turns
it into the result line.

Every latency runs from the call into the engine until the rows are
on the driver (``toPandas``).  Checks against the oracle run after the
timed loop.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import EngineConfig
from cs6913_web_search_engines_spark.engine import QueryEngine
from cs6913_web_search_engines_spark.operators import index_build as ib
from cs6913_web_search_engines_spark.operators import block_codec, query_exec
from cs6913_web_search_engines_spark.sources import manifest_commit as mc
from cs6913_web_search_engines_spark.streaming import incremental

from perfbench import checks, corpus, metrics
from perfbench.trace import Tracer, micro_timings, tier_reached

CFG = EngineConfig()

# The tier each batch type is sent to.  At the benchmark's corpus size
# auto-routing answers every batch on the driver-local tier (the traced
# run records the tier it picks), so each batch type is sent where it
# belongs at scale: ``hot`` to the block-max pruned tier, ``zipf`` to
# the engine's choice among the distributed tiers.
BATCH_ROUTE = {"hot": {"pruned": True}, "zipf": {"local": False}}

# A build cycle repeats the fused build and the batch after each drain,
# so that one cycle gives each of its steps a median.
FUSED_BUILDS = 2
DRAIN_BATCHES = 2

# Sizes per scale.  "full" is what the benchmark measures; "tiny" is
# for the harness's own smoke tests.
SCALES = {
    "full": dict(build_docs=5_000, build_files=2, query_docs=10_000,
                 pool=64, batch=256, singles_per_round=16, warm_rounds=1,
                 check_per_batch=64, drain_queries=64, setup_repeats=2,
                 query_segment_docs=1024),
    "tiny": dict(build_docs=600, build_files=2, query_docs=3_000,
                 pool=8, batch=16, singles_per_round=4, warm_rounds=1,
                 check_per_batch=8, drain_queries=4, setup_repeats=2,
                 query_segment_docs=256),
}


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    scale: dict
    workdir: str
    session_s: float


@dataclass
class Outcome:
    setup_s: float
    op_s: list[float]
    # latencies of the three request types of an operation, in order
    steps: list[list[float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # the workload's own metrics, printed on `metric` lines: name -> (value, unit)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    # batch type -> the tier auto-routing sent it to
    routes: dict[str, str] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _read_texts(path: str) -> list[tuple[int, str]]:
    t = pq.read_table(path, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _dir_bytes(*dirs: str) -> int:
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if not f.startswith((".", "_")))
    return total


def _block_rows(index_dir: str, limit: int = 2000):
    t = pq.read_table(index_dir, columns=["n_postings", "doc_gaps", "tfs"])
    t = t.slice(0, limit)
    return list(zip(t.column("n_postings").to_pylist(),
                    t.column("doc_gaps").to_pylist(),
                    t.column("tfs").to_pylist()))


def _micro(texts, oracle: checks.Oracle, index_dir: str) -> dict[str, float]:
    import pandas as pd

    sample = texts[:2000]
    pdf = pd.DataFrame({"doc_id": [d for d, _ in sample],
                        "text": [t for _, t in sample]})
    topk_inputs = []
    for plist in list(oracle.post.values())[:64]:
        if plist:
            ids = np.array([d for d, _ in plist], dtype=np.int64)
            topk_inputs.append((ids, np.ones(ids.size), 1))
    return micro_timings(pdf, oracle.post, _block_rows(index_dir), topk_inputs)


def _check_rows(by_q, queries: dict[str, str], conjunctive: bool,
                oracle: checks.Oracle | None, errors: list[str], label: str):
    for qid, q in queries.items():
        rows = by_q.get(qid, [])
        bad = (checks.check_answer(rows, oracle.ranking(q, conjunctive), CFG.top_k)
               if oracle is not None else checks.check_shape(rows, CFG.top_k))
        if bad:
            errors.append(f"{label} {qid} {q!r}: {bad}")


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def build(ctx: Context) -> Outcome:
    """One cycle = the fused build of the corpus, then the same docs
    drained as K landing files with ``run_incremental_build(commit=
    "manifest")``, each drain followed by a few fresh 8-query batches
    through the segment kernel on the multi-generation index."""
    spark, sc = ctx.spark, ctx.scale
    rng = random.Random(ctx.seed)
    docs_dir = os.path.join(ctx.workdir, "docs")
    setup = []
    for _ in range(sc["setup_repeats"]):
        docs, dt = _timed(lambda: corpus.write_docs(
            spark, sc["build_docs"], ctx.seed, docs_dir, sc["build_files"]))
        setup.append(dt)
    files = sorted(f for f in os.listdir(docs_dir) if f.endswith(".parquet"))
    if len(files) != sc["build_files"]:
        raise RuntimeError(f"expected {sc['build_files']} landing files, got {files}")
    per_file = [_read_texts(os.path.join(docs_dir, f)) for f in files]
    texts = [d for part in per_file for d in part]
    # queries[k]: the batches asked after drain k
    queries = [[corpus.batch(rng, "zipf", sc["drain_queries"])
                for _ in range(DRAIN_BATCHES)] for _ in files]
    qterms = {t for batches in queries for qs in batches
              for q in qs.values() for t in q.split()}
    # one oracle per drain prefix: the docs the index holds after it
    oracles = [checks.Oracle([d for part in per_file[:k + 1] for d in part], qterms)
               for k in range(len(files))]
    # the session's first build and first segment-kernel batch also pay
    # the Python workers' start and the JIT, so a warm-up of each
    # belongs to set-up
    warm = os.path.join(ctx.workdir, "warm")
    _, warm_s = _timed(lambda: _warm_up(ctx, docs, warm, oracles[-1],
                                        corpus.batch(rng, "zipf", sc["drain_queries"])))
    out = Outcome(setup_s=ctx.session_s + metrics.median(setup) + warm_s, op_s=[])
    tracer = None
    if ctx.trace:
        tracer = Tracer(spark, ctx.workdir)
        tracer.install()
    steps: dict[str, list[float]] = {"build_fused_s": [], "drain_s": [],
                                     "query_after_drain_s": []}
    first = None
    deadline = time.perf_counter() + ctx.seconds
    n = 0
    while True:
        n += 1
        out.attempted += 1
        try:
            cyc = _build_cycle(ctx, docs, docs_dir, files, oracles, queries,
                               os.path.join(ctx.workdir, f"cycle{n}"), tracer)
        except Exception as e:  # a failed cycle counts; the run goes on
            out.failed += 1
            out.errors.append(f"cycle {n}: {e!r}")
            cyc = None
        if cyc is not None:
            out.op_s.append(cyc["cycle_s"])
            steps["build_fused_s"].extend(cyc["build_fused_s"])
            steps["drain_s"].extend(cyc["drain_s"])
            # the batch latency grows with the generations an index holds,
            # so a cycle gives one figure: the mean over its drains of
            # the median batch after each
            steps["query_after_drain_s"].append(float(np.mean(
                [metrics.median(v) for v in cyc["query_after_drain_s"]])))
            if first is None:
                first = cyc
            else:
                shutil.rmtree(cyc["dir"], ignore_errors=True)
        if time.perf_counter() >= deadline:
            break
    if first is None:
        return out
    checks_t0 = time.perf_counter()
    fused = os.path.join(first["dir"], "fused")
    blocks, lexicon = first["drained"]
    # --- checks (untimed) ---
    for k, answers in enumerate(first["answers"]):
        for r, by_q in enumerate(answers):
            _check_rows(by_q, queries[k][r], False, oracles[k], out.errors,
                        f"drain {k + 1} batch {r + 1}")
    # the drained generations hold exactly the one-shot build's postings
    d_fused = checks.digest(block_codec.decode_postings(
        spark.read.parquet(os.path.join(fused, "index")), CFG))
    d_inc = checks.digest(block_codec.decode_postings(blocks, CFG))
    if d_fused != d_inc:
        out.errors.append(f"drained postings {d_inc} != one-shot build {d_fused}")
    l_fused = checks.digest(spark.read.parquet(os.path.join(fused, "lexicon"))
                            .select("term", "df", "max_tf"))
    l_inc = checks.digest(lexicon.select("term", "df", "max_tf"))
    if l_fused != l_inc:
        out.errors.append(f"incremental lexicon {l_inc} != one-shot {l_fused}")
    n_postings = first["n_postings"]
    for k, v in steps.items():
        out.report[k] = (metrics.median(v), "s")
    out.report["index_bytes_per_posting"] = (
        _dir_bytes(*(os.path.join(fused, d) for d in ("index", "lexicon", "doc_stats")))
        / n_postings, "B")
    out.report["n_postings"] = (n_postings, "count")
    out.report["checks_s"] = (time.perf_counter() - checks_t0, "s")
    out.steps = list(steps.values())
    if tracer is not None:
        # a run holds one cycle, so the tracing overhead is the traced
        # cycle against untraced runs' (compare.py prints it)
        tracer.uninstall()
        m = tracer.metrics()
        m.update(first["trace"])
        m["trace.op_p50_ms"] = 1000 * metrics.median(out.op_s)
        m["block_codec.bytes_per_posting"] = out.report["index_bytes_per_posting"][0]
        m.update(_micro(texts, oracles[-1], os.path.join(fused, "index")))
        out.per_layer = m
    return out


def _warm_up(ctx: Context, docs, warm: str, oracle: checks.Oracle, queries) -> None:
    """A fused build, then one segment-kernel batch on it."""
    spark = ctx.spark
    ib.build_full(spark, docs, warm, CFG, checkpoint_runs=False, fused=True)
    index = (spark.read.parquet(os.path.join(warm, "index")),
             spark.read.parquet(os.path.join(warm, "lexicon")), _stats(oracle),
             _len_lookup(spark, oracle, ctx.scale["build_docs"]))
    try:
        _query_drained(ctx, index, queries)
    finally:
        index[-1].unpersist()


def _stats(oracle: checks.Oracle) -> dict:
    """Corpus statistics of the oracle's docs, as doc_stats holds them."""
    return {"total_docs": oracle.n, "avg_len": oracle.avg_len,
            "min_len": min(oracle.doc_len.values()),
            "max_len": max(oracle.doc_len.values())}


def _len_lookup(spark, oracle: checks.Oracle, n_docs: int):
    arr = np.zeros(n_docs, dtype=np.int32)
    for d, n in oracle.doc_len.items():
        arr[d] = n
    return spark.sparkContext.broadcast(arr)


def _open_drained(ctx: Context, inc: str, oracle: checks.Oracle):
    """The drained index as a reader opens it after a commit: its block
    rows and lexicon, with norms and corpus statistics of the docs
    drained so far (the incremental build writes no doc_stats)."""
    spark = ctx.spark
    return (mc.read_blocks(spark, inc), mc.read_lexicon(spark, inc), _stats(oracle),
            _len_lookup(spark, oracle, ctx.scale["build_docs"]))


def _query_drained(ctx: Context, index, queries):
    """One query batch through the segment kernel on the opened index."""
    blocks, lexicon, stats, lens = index
    return query_exec.search_segmented(
        ctx.spark, blocks, lexicon, stats, queries, CFG, len_lookup=lens).toPandas()


def _build_cycle(ctx, docs, docs_dir, files, oracles, queries, cdir, tracer):
    spark = ctx.spark
    os.makedirs(cdir)
    fused = os.path.join(cdir, "fused")
    land = os.path.join(cdir, "land")
    inc = os.path.join(cdir, "inc")
    os.makedirs(land)
    cyc = {"dir": cdir, "build_fused_s": [], "drain_s": [],
           "query_after_drain_s": [], "answers": [], "trace": {}}

    def step(op, fn):
        if tracer is not None:
            tracer.begin()
        res, dt = _timed(fn)
        if tracer is not None:
            tracer.end(op)
        return res, dt

    # the first build is the cycle's index; the others only repeat it
    w0 = tracer.write_index_s if tracer else 0.0
    for i in range(FUSED_BUILDS):
        out_dir = fused if i == 0 else f"{fused}{i}"
        stats, dt = step("build_fused", lambda: ib.build_full(
            spark, docs, out_dir, CFG, checkpoint_runs=False, fused=True))
        cyc["build_fused_s"].append(dt)
        cyc["n_postings"] = int(stats["n_postings"])
        if i:
            shutil.rmtree(out_dir)
    if tracer is not None:
        cyc["trace"]["index_build.other_s"] = (sum(cyc["build_fused_s"])
                                               - (tracer.write_index_s - w0))
    for k, f in enumerate(files):
        os.link(os.path.join(docs_dir, f), os.path.join(land, f))
        _, dt = step("drain", lambda: incremental.run_incremental_build(
            spark, land, inc, CFG, commit="manifest"))
        cyc["drain_s"].append(dt)
        index = _open_drained(ctx, inc, oracles[k])
        answers, lat = [], []
        try:
            for qs in queries[k]:
                pdf, dt = step("query_after_drain",
                               lambda: _query_drained(ctx, index, qs))
                lat.append(dt)
                answers.append(checks.rows_by_query(pdf))
        finally:
            index[-1].unpersist()
        cyc["query_after_drain_s"].append(lat)
        cyc["answers"].append(answers)
        # the last drain's blocks and lexicon are the drained index
        cyc["drained"] = index[:2]
    if tracer is not None:
        blocks = cyc["drained"][0]
        gens = (blocks.groupBy("term", "seg")
                .agg(F.sum((F.col("block_id") == 0).cast("int")).alias("g"))
                .agg(F.max("g")).collect()[0][0])
        cyc["trace"]["incremental.generations_max"] = int(gens or 0)
    cyc["cycle_s"] = (sum(cyc["build_fused_s"]) + sum(cyc["drain_s"])
                      + sum(map(sum, cyc["query_after_drain_s"])))
    return cyc


# ---------------------------------------------------------------------------
# search: interactive and batch traffic on one Zipf+hot index built in set-up
# ---------------------------------------------------------------------------

def _query_setup(ctx: Context, warm_queries: dict[str, str]):
    """Corpus generation and the index build, then the engine preload
    and a warm-up batch, the last two repeated.  Set-up time is the
    session start, generation and build plus the median preload and
    warm-up."""
    spark, sc = ctx.spark, ctx.scale
    docs_dir = os.path.join(ctx.workdir, "docs")
    idx = os.path.join(ctx.workdir, "index")
    # ``cli build --segment-docs``: segments scaled down with the corpus,
    # so the hot term's blocks and the head terms' other blocks lie in
    # different segments and block-max pruning has blocks to skip
    cfg = EngineConfig(segment_docs=sc["query_segment_docs"])
    t0 = time.perf_counter()
    docs = corpus.write_docs(spark, sc["query_docs"], ctx.seed, docs_dir, 4)
    ib.build_full(spark, docs, idx, cfg, checkpoint_runs=False, fused=True)
    build_s = time.perf_counter() - t0
    times, preload = [], []
    for _ in range(sc["setup_repeats"]):
        t0 = time.perf_counter()
        eng, dt = _timed(lambda: QueryEngine(spark, idx, cfg))
        preload.append(dt)
        eng.search(warm_queries).toPandas()
        times.append(time.perf_counter() - t0)
    setup_s = ctx.session_s + build_s + metrics.median(times)
    return eng, setup_s, metrics.median(preload), docs_dir, idx


def _run_loop(ctx: Context, out: Outcome, tracer_holder: list, do_op):
    """Closed loop for ``ctx.seconds``.  In a traced run the first half
    runs untraced and the second traced; both halves' latencies are
    returned so the difference gives the tracing overhead."""
    start = time.perf_counter()
    deadline = start + ctx.seconds
    untraced, traced = [], []
    while True:
        if ctx.trace and not tracer_holder and \
                time.perf_counter() >= start + ctx.seconds / 2 and untraced:
            tracer = Tracer(ctx.spark, ctx.workdir)
            tracer.install()
            tracer_holder.append(tracer)
        tracer = tracer_holder[0] if tracer_holder else None
        out.attempted += 1
        try:
            dt = do_op(tracer)
        except Exception as e:  # a failed request counts; the loop goes on
            out.failed += 1
            out.errors.append(repr(e))
        else:
            (traced if tracer else untraced).append(dt)
        if time.perf_counter() >= deadline and (not ctx.trace or traced):
            break
    return untraced, traced


def search(ctx: Context) -> Outcome:
    """Closed loop of rounds on one index.  A round is the interactive
    traffic, single queries asked with Zipf popularity from a fixed pool
    (3 OR : 1 AND) whose terms set-up has cached, followed by the batch
    traffic, one ``hot`` batch on the pruned tier and one ``zipf``
    batch on the distributed tiers, each freshly drawn so no term set
    repeats."""
    rng = random.Random(ctx.seed)
    sc = ctx.scale
    pool = corpus.interactive_pool(rng, sc["pool"])
    order = corpus.schedule(len(pool), sc["singles_per_round"])
    sample = {"hot": corpus.batch(rng, "hot", sc["batch"]),
              "zipf": corpus.batch(rng, "zipf", sc["batch"])}
    # one batch of the whole pool fills the df memo and the postings
    # cache, so the timed single queries all take the cache-hit path;
    # the fresh batches are the cache-miss traffic
    warm = {f"p{i}": q for i, (q, _) in enumerate(pool)}
    eng, setup_s, preload_s, docs_dir, idx = _query_setup(ctx, warm)
    out = Outcome(setup_s=setup_s, op_s=[])
    first: dict[int, list] = {}
    answers: dict[str, object] = {}
    lat = {"query": [], "hot": [], "zipf": []}
    n_queries = [0]
    tracer_holder: list = []

    def request(tracer, queries, conjunctive, op, **route):
        if tracer is not None:
            return tracer.search(eng, queries, conjunctive, op, **route)
        return _timed(lambda: eng.search(
            queries, conjunctive=conjunctive, **route).toPandas())

    def round_(tracer):
        total = 0.0
        for i in order:
            q, conj = pool[i]
            pdf, dt = request(tracer, {"q": q}, conj, "query")
            rows = checks.rows_by_query(pdf).get("q", [])
            if i not in first:
                first[i] = rows
            elif rows != first[i]:
                out.errors.append(f"repeat of {q!r} answered differently")
            lat["query"].append(dt)
            total += dt
        for kind in ("hot", "zipf"):
            qs = sample[kind] if kind not in answers else corpus.batch(rng, kind, sc["batch"])
            pdf, dt = request(tracer, qs, False, f"batch_{kind}", **BATCH_ROUTE[kind])
            by_q = checks.rows_by_query(pdf)
            if kind not in answers:
                answers[kind] = by_q
            else:
                _check_rows(by_q, qs, False, None, out.errors, kind)
            lat[kind].append(dt)
            total += dt
        n_queries[0] += sc["singles_per_round"] + 2 * sc["batch"]
        return total

    # the traced run records the tier auto-routing picks for a fresh
    # batch of each type
    if ctx.trace:
        for kind in ("hot", "zipf"):
            qs = corpus.batch(random.Random(ctx.seed + 1), kind, sc["batch"])
            out.routes[kind] = tier_reached(lambda: eng.search(qs).toPandas())
    # warm-up rounds: the first rounds of a session run up to twice as
    # long while the JVM compiles the planning and collect paths
    t0 = time.perf_counter()
    for _ in range(sc["warm_rounds"]):
        round_(None)
    out.setup_s += time.perf_counter() - t0
    for v in lat.values():
        v.clear()
    n_queries[0] = 0
    t0 = time.perf_counter()
    untraced, traced = _run_loop(ctx, out, tracer_holder, round_)
    wall = time.perf_counter() - t0
    out.op_s = untraced + traced
    out.steps = [lat["query"], lat["hot"], lat["zipf"]]
    checks_t0 = time.perf_counter()
    texts = _read_texts(docs_dir)
    # the oracle checks every pool query asked and a fixed sample of each
    # batch type, the first ``check_per_batch`` queries of its first batch
    checked = {kind: dict(list(qs.items())[:sc["check_per_batch"]])
               for kind, qs in sample.items()}
    terms = {t for q, _ in pool for t in q.split()}
    terms |= {t for qs in checked.values() for q in qs.values() for t in q.split()}
    oracle = checks.Oracle(texts, terms)
    for i, rows in first.items():
        q, conj = pool[i]
        bad = checks.check_answer(rows, oracle.ranking(q, conj), CFG.top_k)
        if bad:
            out.errors.append(f"pool {i} {q!r} conj={conj}: {bad}")
    for kind, qs in sample.items():
        if kind in answers:
            _check_rows(answers[kind], checked[kind], False, oracle, out.errors, kind)
            rest = {qid: q for qid, q in qs.items() if qid not in checked[kind]}
            _check_rows(answers[kind], rest, False, None, out.errors, kind)
    pct, tail, n = metrics.tail(lat["query"])
    out.report["query_p50_ms"] = (1000 * metrics.median(lat["query"]), "ms")
    out.report[f"query_tail_ms (p{pct:.0f} of {n})"] = (1000 * tail, "ms")
    out.report["distinct_pool_queries_asked"] = (len(first), "count")
    out.report["batch_hot_s"] = (metrics.median(lat["hot"]), "s")
    out.report["batch_zipf_s"] = (metrics.median(lat["zipf"]), "s")
    out.report["batch_qps"] = (2 * sc["batch"] * len(lat["hot"]) / sum(lat["hot"] + lat["zipf"]),
                               "queries/s")
    out.report["queries_per_s"] = (n_queries[0] / wall, "queries/s")
    out.report["checks_s"] = (time.perf_counter() - checks_t0, "s")
    if tracer_holder:
        tracer = tracer_holder[0]
        tracer.uninstall()
        m = tracer.metrics()
        m["engine.preload_s"] = preload_s
        m["trace.op_p50_ms"] = 1000 * metrics.median(traced)
        m["trace.overhead_ratio"] = metrics.median(traced) / metrics.median(untraced) - 1.0
        m.update(_micro(texts, oracle, os.path.join(idx, "index")))
        out.per_layer = m
    return out


WORKLOADS = {"build": build, "search": search}
