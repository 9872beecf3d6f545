"""The benchmark's workloads.

``interactive``: closed loop, one client, each query one
``WandSearcher.search(q, k=10).collect()`` over a 3-segment index with
positions. Driver planning and Spark scheduling dominate; the phrase
shape (the 128-way kernel repartition) and the nested shape (the flat
``executor.Searcher`` fallback) are in the mix. Its traced run adds
NRT appends, each followed by a refresh and probe queries.

``serve``: open loop at a fixed arrival rate; every query already due
is sent in one ``WandSearcher.search_many(...).collect()`` micro-batch.
Batching spreads the driver and scheduling cost over a batch's
queries; at this index size a batch still costs mostly its fixed part
(Spark scheduling, Python worker and Arrow round trips per task), and
the WAND kernels are about 2% of executor time (README.md). Its traced
run adds one tiered merge, probe queries and CheckIndex.

Both build their own index with the code under test while ``setup_s``
is timed. The engine's answers are recorded during the timed loop and
checked against the oracle after it. Each function returns a
``Result``; run.py prints it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import querylog
from corpus import Corpus, make_corpus, to_frame
from expected import K, cached_answers, same_topk
from stats import percentile, ratio

# The corpus and the query pools are fixtures: every run indexes the same
# documents and asks from the same pools, and --seed draws the query log
# and the arrival times. Pools drawn per seed made a run's cost depend
# on the seed (a pool with more hot-term phrases serves ~30% slower),
# which spread the latency figures wider than any useful bound.
CORPUS_SEED = 42
INTERACTIVE = {"n_docs": 2000, "seg_size": 700}
# rate: about a quarter of the throughput of 100-query search_many
# batches on this index (4-core host). At half of it, a loaded host's
# slower batches grew the next batches and latency doubled in 3 of 10
# runs; here batches stay near their fixed cost.
SERVE = {"n_docs": 2000, "seg_size": 700, "rate": 12.0}
# NRT appends in the traced interactive run
NRT = {"appends": 2, "append_docs": 300}
# longest wait for the listener to record the end of a traced job
SETTLE_TIMEOUT_S = 30.0


@dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    notes: dict = field(default_factory=dict)
    windows: dict = field(default_factory=dict)


class Tracer:
    """Job-group accounting through ``StatusTracker`` and wall-clock
    phase windows for the event log. With tracing off every method is
    a no-op, so the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.windows: dict[str, tuple[float, float]] = {}
        self.overhead_s = 0.0

    def group(self, name: str) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            self.sc.setJobGroup(name, name)
            self.overhead_s += time.perf_counter() - t0

    def window(self, name: str, t0_epoch: float, t1_epoch: float) -> None:
        self.windows[name] = (t0_epoch * 1e3, t1_epoch * 1e3)

    def counts(self, group: str) -> tuple[int, int, int, int]:
        """(jobs, stages that ran, tasks run, tasks of the widest
        stage) of one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = widest = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
                widest = max(widest, info.numCompletedTasks)
        return len(jobs), stages, tasks, widest

    def settle(self, groups: list[str]) -> None:
        """Wait, up to SETTLE_TIMEOUT_S, until the listener has recorded
        the end of every job of ``groups`` (collect() returns before the
        job-end event is processed)."""
        st = self.sc.statusTracker()

        def running(job: int) -> bool:
            info = st.getJobInfo(job)
            return info is None or str(info.status) == "RUNNING"

        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while time.monotonic() < deadline:
            if not any(running(j) for g in groups
                       for j in st.getJobIdsForGroup(g)):
                return
            time.sleep(0.1)


def index_bytes(path: Path) -> dict[str, int]:
    """Parquet bytes of the index's postings, docs and norms tables."""
    return {part: sum(p.stat().st_size for p in (path / part).rglob("*.parquet"))
            for part in ("postings", "docs", "norms")}


def rows_topk(rows) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"]))
            for r in sorted(rows, key=lambda r: r["rank"])]


def count_failed(tag: str, texts: list[str], ran: list[tuple[str, list | None]]
                 ) -> tuple[dict, int]:
    """Check recorded (query, top-k or None for an exception) pairs
    against the oracle; returns the expected answers and the number of
    failed operations."""
    expected = cached_answers(tag, texts, [q for q, _ in ran])
    return expected, sum(got is None or not same_topk(got, expected[q])
                         for q, got in ran)


def probe(ctx, ws, q: str) -> tuple[list | None, float]:
    """One ``search(q).collect()``: (top-k or None, seconds)."""
    t0 = time.perf_counter()
    try:
        got = rows_topk(ws.search(q, k=K).collect())
    except Exception as exc:  # counted as a failed operation
        ctx.error(f"query {q!r}: {exc!r}")
        got = None
    return got, time.perf_counter() - t0


# -- shared set-up ------------------------------------------------------------

@dataclass
class Setup:
    spark: object
    tracer: Tracer
    si: object
    ws: object
    path: Path
    session_s: float
    build_s: float
    open_s: float
    sizes: dict[str, int]


def set_up(ctx, corpus: Corpus, seg_size: int, warm) -> Setup:
    """Start the session, build the workload's index and open a
    serving-mode searcher, then call ``warm(searcher)``. The sum of the
    three is setup_s."""
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.wand import WandSearcher

    t0 = time.perf_counter()
    spark = ctx.start_spark()
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, ctx.trace)

    path = ctx.work / "index"
    tracer.group("setup.build")
    e0, t0 = time.time(), time.perf_counter()
    si = build_segment_index(to_frame(spark, corpus), str(path),
                             seg_size=seg_size)
    build_s = time.perf_counter() - t0
    tracer.window("setup.build", e0, time.time())

    tracer.group("setup.open")
    e0, t0 = time.time(), time.perf_counter()
    ws = WandSearcher(si, preload_stats=True)
    warm(ws)
    open_s = time.perf_counter() - t0
    tracer.window("setup.open", e0, time.time())
    return Setup(spark, tracer, si, ws, path, session_s, build_s, open_s,
                 index_bytes(path))


def common_metrics(s: Setup, corpus: Corpus, lat_s: list[float],
                   completed: int, span_s: float) -> dict[str, float]:
    from host import tree_peak_rss_mb

    return {
        "setup_s": s.session_s + s.build_s + s.open_s,
        "latency_p50_ms": percentile(lat_s, 50).value * 1e3,
        "throughput_qps": ratio(completed, span_s),
        "index_bytes_per_text_byte": ratio(sum(s.sizes.values()),
                                           corpus.text_bytes()),
        "peak_rss_mb": tree_peak_rss_mb(),
    }


def layer_metrics(s: Setup, corpus: Corpus, queries: list[str],
                  lat_s: list[float]) -> dict:
    """Per-layer figures both workloads measure the same way."""
    import pandas as pd

    from lucene_solr_spark.analysis.standard import invert_batch
    from lucene_solr_spark.search import ast as A

    per_call = []
    for q in sorted(set(queries)):
        t0 = time.perf_counter()
        for _ in range(20):
            A.parse_query(q).rewrite()
        per_call.append((time.perf_counter() - t0) / 20)
    sample = pd.Series(corpus.texts[:2000])
    t0 = time.perf_counter()
    invert_batch(sample, with_positions=True)
    invert_s = time.perf_counter() - t0
    return {
        "session.start_s": s.session_s,
        "build.docs_per_s": ratio(len(corpus), s.build_s),
        "latency.p95_ms": percentile(lat_s, 95).value * 1e3,
        "ast.parse_rewrite_ms_p50": percentile(per_call, 50).value * 1e3,
        "analysis.invert_us_per_doc": invert_s / len(sample) * 1e6,
        "index.postings_bytes": s.sizes["postings"],
        "index.docs_bytes": s.sizes["docs"],
        "index.norms_bytes": s.sizes["norms"],
    }


def kernel_metrics(s: Setup, queries: list[str],
                   expected: dict) -> tuple[dict, int, int]:
    """Replay ``queries`` through the segment kernels; returns the
    metrics and (attempted, failed) of the replay's top-k checks."""
    import kernels

    qs = sorted(set(queries))
    terms = set().union(*(kernels.query_terms(q) for q in qs))
    data = kernels.SegmentData(s.si, terms, s.ws.bm25)
    acc, failed = kernels.Counters(), 0
    for q in qs:
        if not same_topk(kernels.replay(data, q, K, acc), expected[q]):
            failed += 1
    return {
        "kernel.blocks_decoded_ratio": ratio(acc.blocks_decoded,
                                             acc.blocks_total),
        "kernel.intervals_scored_ratio": ratio(acc.intervals_scored,
                                               acc.intervals_total),
        "kernel.ms_per_query_segment": float(np.mean(acc.call_s)) * 1e3
        if acc.call_s else 0.0,
        "codec.decode_mb_per_s": kernels.decode_mb_per_s(data),
    }, len(qs), failed


def event_metrics(windows: dict, cores: int, log) -> dict:
    """Executor, shuffle, Arrow-boundary and build-phase figures from
    the Spark event log, for the phase windows a traced run recorded."""
    out = {}
    m = log.window(*windows["measure"], cores=cores)
    out.update({
        "exec.run_s": m["executor_run_s"],
        "exec.cpu_s": m["executor_cpu_s"],
        "exec.shuffle_bytes": m["shuffle_bytes"],
        "exec.busy_share": m["executor_busy_share"],
        "arrow.bytes_to_python": m["bytes_to_python"],
        "arrow.bytes_from_python": m["bytes_from_python"],
        "arrow.rows_from_python": m["rows_from_python"],
        "arrow.python_run_s": m["python_run_ms"] / 1e3,
    })
    b = windows["setup.build"]
    phases = log.build_phases(*b)
    for p, v in phases.items():
        out[f"build.{p}_s"] = v["busy_s"]
    out["build.jobs"] = len(log.jobs_in(*b))
    out["build.shuffle_bytes"] = log.window(*b, cores=cores)["shuffle_bytes"]
    out["build.wall_s"] = (b[1] - b[0]) / 1e3
    appends = [w for n, w in windows.items() if n.startswith("write.append")]
    out["nrt.append_jobs"] = (float(np.mean([len(log.jobs_in(*w)) for w in appends]))
                              if appends else 0.0)
    return out


# -- interactive --------------------------------------------------------------

def interactive(ctx) -> Result:
    corpus = make_corpus(INTERACTIVE["n_docs"], CORPUS_SEED)
    pool = querylog.interactive_pool(corpus, CORPUS_SEED)
    log = querylog.interactive_log(pool, ctx.seed)
    warm = querylog.warm_queries(corpus, pool, CORPUS_SEED)
    ctx.mark("inputs")
    # warmed with queries over other terms: the log's own queries stay
    # cold, as each new query of an interactive user is, but the timed
    # loop no longer starts Python workers or runs a shape's code for
    # the first time (the first queries of a run were up to twice as
    # slow as the later ones)
    s = set_up(ctx, corpus, INTERACTIVE["seg_size"],
               lambda ws: [ws.search(q, k=K).collect() for q in warm])
    tr = s.tracer
    ctx.mark("setup")

    lat, plan_s, recs, ran = [], [], [], []
    e_start, t_start = time.time(), time.perf_counter()
    deadline = t_start + ctx.seconds
    i, t_end = 0, t_start
    # the loop ends with the query that straddles the deadline, but not
    # before the first querylog.ROUND_HEAD queries, which hold every
    # shape; the share of each query inside the window counts towards
    # throughput
    done_in_window = 0.0
    while t_end < deadline or i < querylog.ROUND_HEAD:
        shape, q = log[i % len(log)]
        ov0 = tr.overhead_s
        tr.group(f"q{i}.plan")
        t0 = time.perf_counter()
        try:
            df = s.ws.search(q, k=K)
            t1 = time.perf_counter()
            tr.group(f"q{i}.exec")
            got = rows_topk(df.collect())
        except Exception as exc:  # counted as a failed operation
            ctx.error(f"query {q!r}: {exc!r}")
            t1, got = time.perf_counter(), None
        t_end = time.perf_counter()
        lat.append(t_end - t0 - (tr.overhead_s - ov0))
        done_in_window += min(1.0, max(0.0, deadline - t0) / max(t_end - t0, 1e-9))
        plan_s.append(t1 - t0)
        recs.append((i, shape, t_end - t1))
        ran.append((q, got))
        i += 1
    tr.window("measure", e_start, time.time())
    ctx.mark("measure")

    e2e = common_metrics(s, corpus, lat, done_in_window, ctx.seconds)
    tag = "interactive"
    expected, failed = count_failed(tag, corpus.by_url(), ran)
    ctx.mark("verify")
    notes = {"samples": len(lat),
             "latency_p95_ms": percentile(lat, 95).value * 1e3,
             "latency_ms": [(sh, round(x * 1e3)) for (_, sh, _), x in zip(recs, lat)]}
    layers: dict[str, float] = {}
    attempted = len(lat)
    if ctx.trace:
        tr.settle([f"q{j}.{p}" for j, _, _ in recs for p in ("plan", "exec")])
        per_shape: dict[str, list] = {sh: [] for sh in querylog.SHAPES}
        plan_jobs = []
        for j, shape, exec_s in recs:
            plan_jobs.append(tr.counts(f"q{j}.plan")[0])
            per_shape[shape].append(
                (*tr.counts(f"q{j}.exec"), plan_jobs[-1], exec_s))
        for sh, rows in per_shape.items():
            arr = np.array([r[:5] for r in rows], dtype=float).reshape(-1, 5)
            for col, name in enumerate(("jobs_per_query", "stages_per_query",
                                        "tasks_per_query", "widest_stage_tasks",
                                        "plan_jobs_per_query")):
                agg = arr[:, col].max() if name == "widest_stage_tasks" else arr[:, col].mean()
                layers[f"spark.{sh}.{name}"] = float(agg) if rows else 0.0
            layers[f"spark.{sh}.exec_ms_p50"] = (
                percentile([r[5] for r in rows], 50).value * 1e3 if rows else 0.0)
        layers["wand.plan_ms_p50"] = percentile(plan_s, 50).value * 1e3
        layers["wand.plan_jobs_per_query"] = float(np.mean(plan_jobs))
        layers.update(layer_metrics(s, corpus, [q for q, _ in ran], lat))
        flat = [q for (q, _), (_, shape, _) in zip(ran, recs) if shape != "nested"]
        m, a, f = kernel_metrics(s, flat, expected)
        layers.update(m)
        ctx.mark("kernels")
        m, a2, f2 = nrt_phase(ctx, s, corpus)
        layers.update(m)
        attempted, failed = attempted + a + a2, failed + f + f2
    return Result(e2e, layers, attempted, failed, notes, tr.windows)


def nrt_phase(ctx, s: Setup, corpus: Corpus) -> tuple[dict, int, int]:
    """NRT appends (``streaming.nrt.append_batch``), each followed by
    ``SegmentIndex.refresh()`` and the probe queries on the serving
    searcher. Docids follow the engine: url order within a batch,
    batches in append order."""
    from lucene_solr_spark.streaming.nrt import append_batch

    n, a = len(corpus), NRT["append_docs"]
    probes = querylog.probe_queries(corpus, CORPUS_SEED)
    texts = corpus.by_url()
    append_s, probe_s, attempted, failed = [], [], 0, 0
    for i in range(NRT["appends"]):
        batch = make_corpus(a, CORPUS_SEED, first=n + i * a)
        s.tracer.group(f"write.append{i}")
        e0, t0 = time.time(), time.perf_counter()
        append_batch(to_frame(s.spark, batch), str(s.path), batch_id=i,
                     seg_size=INTERACTIVE["seg_size"])
        s.si.refresh()
        append_s.append(time.perf_counter() - t0)
        s.tracer.window(f"write.append{i}", e0, time.time())
        ran = []
        for q in probes:
            got, sec = probe(ctx, s.ws, q)
            probe_s.append(sec)
            ran.append((q, got))
        texts = texts + batch.by_url()
        _, f = count_failed(f"interactive-nrt{i}", texts, ran)
        attempted += 1 + len(ran)
        failed += f
    ctx.mark("nrt")
    return {
        "nrt.append_s_p50": percentile(append_s, 50).value,
        "nrt.probe_ms_p50": percentile(probe_s, 50).value * 1e3,
    }, attempted, failed


# -- serve --------------------------------------------------------------------

def serve(ctx) -> Result:
    cfg = SERVE
    corpus = make_corpus(cfg["n_docs"], CORPUS_SEED)
    pool = querylog.serve_pool(corpus, CORPUS_SEED)
    due = querylog.arrivals(cfg["rate"], ctx.seconds, ctx.seed)
    log = querylog.serve_log(pool, len(due), ctx.seed)
    ctx.mark("inputs")
    # warmed with the whole pool in one batch: the timed loop serves a hot
    # working set, so its figures are free of the cold-cache transient of
    # the first batches
    s = set_up(ctx, corpus, cfg["seg_size"], lambda ws: ws.search_many(
        {f"w{i}": q for i, (_, q) in enumerate(pool)}, k=K).collect())
    tr = s.tracer
    ctx.mark("setup")

    lat, lag, batches, ran = [], [], [], []
    e_start, t_start = time.time(), time.perf_counter()
    nxt, t_end = 0, t_start
    while nxt < len(due):
        now = time.perf_counter() - t_start
        if due[nxt] > now:
            time.sleep(due[nxt] - now)
            continue
        upto = int(np.searchsorted(due, now, side="right"))
        batch = {f"q{j}": log[j][1] for j in range(nxt, upto)}
        b = len(batches)
        ov0 = tr.overhead_s
        tr.group(f"b{b}.plan")
        t_send = time.perf_counter()
        got: dict[str, list] | None = {}
        try:
            df = s.ws.search_many(batch, k=K)
            t_plan = time.perf_counter()
            tr.group(f"b{b}.exec")
            for r in df.collect():
                got.setdefault(r["qid"], []).append(r)
        except Exception as exc:  # every query of the batch fails
            ctx.error(f"batch {b}: {exc!r}")
            t_plan, got = time.perf_counter(), None
        t_end = time.perf_counter()
        in_trace = tr.overhead_s - ov0
        for j in range(nxt, upto):
            due_at = t_start + due[j]
            lat.append(t_end - due_at - in_trace)
            lag.append(max(0.0, t_send - due_at))
            ran.append((log[j][1], None if got is None
                        else rows_topk(got.get(f"q{j}", []))))
        batches.append((b, upto - nxt, t_end - t_send, t_plan - t_send))
        nxt = upto
    tr.window("measure", e_start, time.time())
    ctx.mark("measure")

    e2e = common_metrics(s, corpus, lat, len(lat), t_end - t_start)
    tag = "serve"
    expected, failed = count_failed(tag, corpus.by_url(), ran)
    ctx.mark("verify")
    notes = {"samples": len(lat),
             "latency_p95_ms": percentile(lat, 95).value * 1e3,
             "batches": [(size, round(ms * 1e3)) for _, size, ms, _ in batches]}
    layers: dict[str, float] = {}
    attempted = len(lat)
    if ctx.trace:
        tr.settle([f"b{b}.{p}" for b, *_ in batches for p in ("plan", "exec")])
        jobs, tasks, plan_jobs = [], [], []
        for b, *_ in batches:
            pj, _, pt, _ = tr.counts(f"b{b}.plan")
            ej, _, et, _ = tr.counts(f"b{b}.exec")
            jobs.append(pj + ej)
            tasks.append(pt + et)
            plan_jobs.append(pj)
        layers.update({
            "serve.jobs_per_batch": float(np.mean(jobs)),
            "serve.tasks_per_batch": float(np.mean(tasks)),
            "serve.batch_size_mean": float(np.mean([x[1] for x in batches])),
            "serve.batch_ms_p50": percentile([x[2] for x in batches], 50).value * 1e3,
            "serve.generator_lag_ms_p95": percentile(lag, 95).value * 1e3,
            "wand.plan_ms_p50": percentile([x[3] for x in batches], 50).value * 1e3,
            "wand.plan_jobs_per_query": ratio(sum(plan_jobs), len(lat)),
        })
        layers.update(layer_metrics(s, corpus, [q for q, _ in ran], lat))
        m, a, f = kernel_metrics(s, [q for q, _ in ran], expected)
        layers.update(m)
        ctx.mark("kernels")
        m, a2, f2 = merge_phase(ctx, s, corpus, tag)
        layers.update(m)
        attempted, failed = attempted + a + a2, failed + f + f2
    return Result(e2e, layers, attempted, failed, notes, tr.windows)


def merge_phase(ctx, s: Setup, corpus: Corpus, tag: str) -> tuple[dict, int, int]:
    """One ``index.merge.maybe_merge`` step, the probe queries on the
    serving searcher after it, and ``check_index``. The policy floors
    every segment to 1 GiB, so at this index size the segments count
    as equal and the first two adjacent ones merge; the default
    policy merges nothing here."""
    from lucene_solr_spark.index.checkindex import CheckIndexError, check_index
    from lucene_solr_spark.index.merge import (
        TieredMergePolicy,
        maybe_merge,
        segment_sizes,
    )

    sizes = {x.seg_id: x.size_bytes for x in segment_sizes(s.si)}
    policy = TieredMergePolicy(max_merge_at_once=2, segs_per_tier=1.0,
                               floor_bytes=1 << 30)
    t0 = time.perf_counter()
    merged = maybe_merge(s.si, policy, max_merges=1)
    merge_s = time.perf_counter() - t0
    rewritten = sum(sizes[sid] for ids in merged for sid in ids)
    probe_s, ran = [], []
    for q in querylog.probe_queries(corpus, CORPUS_SEED):
        got, sec = probe(ctx, s.ws, q)
        probe_s.append(sec)
        ran.append((q, got))
    # a merge changes no answer: the probes keep the base expectations
    _, failed = count_failed(tag, corpus.by_url(), ran)
    ctx.mark("merge")
    try:
        check_index(s.si)
    except CheckIndexError as exc:
        ctx.error(f"check_index: {exc}")
        failed += 1
    ctx.mark("check_index")
    return {
        "merge.count": len(merged),
        "merge.bytes_rewritten": rewritten,
        "merge.write_amplification": ratio(rewritten, sum(sizes.values())),
        "merge.wall_s": merge_s,
        "merge.probe_ms_p50": percentile(probe_s, 50).value * 1e3,
    }, 2 + len(ran), failed


WORKLOADS = {"interactive": interactive, "serve": serve}
