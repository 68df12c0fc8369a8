"""Set-up shared by every workload, the timed loops and the correctness gate.

Every workload is one client process running a closed loop (the next
operation starts when the previous one returned) on ``local[nproc]``.
Set-up builds a seeded base corpus into an index with at least
``nproc`` shards, loads it and warms it. The timed loops call only the
package's public functions; the checks run after the timed region.
See README.md in this directory for why each workload exists.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
from collections import Counter
from itertools import islice

import numpy as np

from hadoop_search_engine_spark import session
from hadoop_search_engine_spark.functions.tokenizer import tokenize
from hadoop_search_engine_spark.operators import index_build, index_maint
from hadoop_search_engine_spark.operators import query_exec
from hadoop_search_engine_spark.oracle.bm25_oracle import BM25Oracle

from . import inputs, sparkstats, trace

BASE_DOCS = 4_000
DELTA_DOCS = 2_000
PLANTED_DOCS = 6        # delta docs carrying the planted term
PLANTED_DELETED = 2     # of those, tombstoned by the refresh
DELETES = 80            # tombstones per refresh, ~1% of the merged corpus
QUERY_TERMS = 1_000     # queries draw from this many most frequent terms
BURST = 300             # queries per cold-cache burst
COLD_BURSTS = 4         # bursts per refresh, each on a freshly loaded Index
CHECK_SAMPLE = 100      # answers compared with the oracle per loop

now = time.perf_counter


class Run:
    """State of one benchmark run: options, session, recorder, and the
    counts and report lines that end up in the output."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.rec = trace.Recorder() if traced else None
        self.attempted = 0
        self.failed = 0
        self.lines: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.jobs: sparkstats.JobCounters | None = None
        self.spark_ctrs: list[dict] = []

    @property
    def traced(self) -> bool:
        return self.rec is not None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def note(self, line: str) -> None:
        self.lines.append(line)

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= 10:
            self.note(f"FAILED {what}")

    def print_metric(self, name: str, value: float, unit: str, n: int) -> None:
        """A human-readable metric line, with its sample count."""
        self.note(f"metric {name} = {value:.6g} {unit} (n={n})")

    def phase(self, op: str) -> None:
        """Attribute the spans that follow to ``op``."""
        if self.rec is not None:
            self.rec.op = op

    def begin_op(self, group: str, traced: bool) -> None:
        self.jobs.begin(group, snapshot=traced)
        if traced:
            self.phase(group)

    def end_op(self, group: str) -> dict:
        ctr = self.jobs.collect(group)
        self.spark_ctrs.append(ctr)
        return ctr

    @contextlib.contextmanager
    def tracing(self, on: bool):
        """Recorder installed for the body when ``on``."""
        if not on:
            yield
            return
        self.rec.install()
        try:
            yield
        finally:
            self.rec.uninstall()

    def span(self, name: str, on: bool):
        return self.rec.span(name) if on else contextlib.nullcontext()


def _session_conf(run: Run) -> dict[str, str]:
    with open("/proc/meminfo") as f:
        avail_kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
    # a quarter of free memory, 1 to 2 GB, committed and touched at
    # start-up (-Xms = -Xmx, AlwaysPreTouch): the heap's share of the
    # JVM's RSS is then fixed instead of following G1's heap-growth
    # timing, and peak_rss_mb moves with what the program allocates
    # outside the Java heap and in the driver's Python process
    heap_gb = max(1, min(2, avail_kb // (4 << 20)))
    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_gb}g -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(run: Run) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    if run.spark is None:
        return
    gw = run.spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    run.spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    run.spark = None


def _dir_bytes(path: str, new_only: bool = False) -> int:
    """Bytes of the data files under ``path`` (checksum and marker
    files excluded); ``new_only`` skips files hard-linked elsewhere."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, f))
            if not (new_only and st.st_nlink > 1):
                total += st.st_size
    return total


def _counts(texts: list[str]) -> tuple[int, int, Counter]:
    """(tokens, postings, df) with the canonical Python tokenizer —
    independent of the Spark build."""
    tokens = postings = 0
    df: Counter = Counter()
    for t in texts:
        toks = tokenize(t)
        tokens += len(toks)
        uniq = set(toks)
        postings += len(uniq)
        df.update(uniq)
    return tokens, postings, df


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q))


def _peak_rss(run: Run) -> float:
    py = sparkstats.peak_rss_mb(os.getpid())
    jvm = sparkstats.peak_rss_mb(run.spark.sparkContext._gateway.proc.pid)
    run.note(f"peak rss: python {py:.1f} MB, jvm {jvm:.1f} MB")
    return py + jvm


class Base:
    """The set-up every workload shares: session, seeded base corpus,
    base index (built, loaded, warmed) and its independent counts."""

    def __init__(self, run: Run):
        t0 = now()
        with run.tracing(run.traced):
            run.phase("setup.session")
            run.spark = session.get_spark(
                master=f"local[{run.nproc}]", extra_conf=_session_conf(run))
            run.jobs = sparkstats.JobCounters(run.spark.sparkContext)
            self.session_s = now() - t0
            self.vocab = inputs.vocabulary(run.seed)
            self.texts = inputs.gen_texts(run.seed, 0, BASE_DOCS, self.vocab)
            self.text_bytes = inputs.write_docs(run.path("base_docs"), self.texts)
            self.span = -(-BASE_DOCS // run.nproc)
            self.dir = run.path("base_index")
            run.begin_op("setup.build", run.traced)
            tb = now()
            index_build.build_index(
                run.spark, run.spark.read.parquet(run.path("base_docs")),
                self.dir, shard_span=self.span)
            self.build_s = now() - tb
            if run.traced:
                self.build_ctr = run.end_op("setup.build")
            run.begin_op("setup.load", run.traced)
            self.idx = query_exec.Index.load(run.spark, self.dir)
            self.idx.warm(top_terms=QUERY_TERMS)
        self.setup_s = now() - t0
        run.attempted += 1  # the base build, checked below
        self.report = self.idx.report()
        self.index_bytes = _dir_bytes(self.dir)
        self.tokens, self.postings, df = _counts(self.texts)
        self.query_terms = sorted(df, key=lambda t: (-df[t], t))[:QUERY_TERMS]
        if (self.report["postings"], self.report["tokens"]) != (
                self.postings, self.tokens):
            run.fail(f"base build counters {self.report['postings']}/"
                     f"{self.report['tokens']} postings/tokens, expected "
                     f"{self.postings}/{self.tokens}")
        if self.report["num_shards"] < run.nproc:
            run.fail(f"base index has {self.report['num_shards']} shards")

    def common_metrics(self, run: Run) -> None:
        docs_per_s = BASE_DOCS / self.build_s
        ratio = self.index_bytes / self.text_bytes
        run.e2e["setup_s"] = (self.setup_s, "s")
        run.e2e["build_docs_per_s"] = (docs_per_s, "docs/s")
        run.e2e["index_bytes_per_text_byte"] = (ratio, "ratio")
        run.print_metric("setup_s", self.setup_s, "s", 1)
        run.print_metric("build_docs_per_s", docs_per_s, "docs/s", 1)
        run.print_metric("index_bytes_per_text_byte", ratio, "ratio", 1)
        if run.traced:
            self.setup_layers(run)

    def setup_layers(self, run: Run) -> None:
        spans = run.rec.spans
        L = run.layer
        L["session.start_s"] = (self.session_s, "s")
        c = self.build_ctr
        wall = sum(s[2] - s[1] for s in spans
                   if s[0] == "index_build.build_index" and s[4] == "setup.build")
        L["index_build.wall_s"] = (wall, "s")
        L["index_build.executor_run_s"] = (c["executor_run_s"], "s")
        L["index_build.core_util"] = (c["executor_run_s"] / (wall * run.nproc), "ratio")
        L["index_build.jvm_gc_s"] = (c["jvm_gc_s"], "s")
        L["index_build.shuffle_write_bytes"] = (c["shuffle_write_bytes"], "bytes")
        L["index_build.spill_bytes"] = (c["spill_bytes"], "bytes")
        L["index_build.stages"] = (c["stages"], "count")
        L["index_build.tasks"] = (c["tasks"], "count")
        r = self.report
        L["index_build.postings"] = (r["postings"], "count")
        L["index_build.blocks"] = (r["blocks"], "count")
        L["index_build.compressed_bytes"] = (r["compressed_bytes"], "bytes")
        L["index_build.bytes_per_posting"] = (r["bytes_per_posting"], "bytes")

    def oracle(self, extra: list[tuple[int, str]] = ()) -> BM25Oracle:
        return BM25Oracle(list(enumerate(self.texts)) + list(extra))


# ---------------------------------------------------------------------------
# query loops


def _run_query(run: Run, execute, q: str, k: int, group: str, traced: bool):
    """One timed query; returns (seconds, answer or None if it raised)."""
    run.begin_op(group, traced)
    with run.tracing(traced):
        t0 = now()
        try:
            got = execute(q, k, traced)
        except Exception as exc:  # a raised query is a failed operation
            got = None
            run.fail(f"query {q!r} k={k} raised {exc!r}")
        dt = now() - t0
    if traced:
        run.end_op(group)
    return dt, got


def query_loop(run: Run, execute, stream, seconds: float, tag: str,
               keep_every: int = 1):
    """Closed loop over ``stream`` for ``seconds``. Untraced, each query
    runs once. Traced, each query runs twice, once with the recorder
    installed and once without, alternating which goes first, and the
    difference is the tracing overhead. Answers of every
    ``keep_every``-th query are kept for the checks (keeping all of a
    long loop's answers would grow the heap the garbage collector
    walks while the loop is timed). Returns (queries run, kept
    (query, k, answer) triples, untraced latencies, traced latencies)."""
    kept, lat, lat_traced = [], [], []
    end = now() + seconds
    i = 0
    while now() < end or i == 0:
        q, k = next(stream)
        order = (False, True) if i % 2 == 0 else (True, False)
        for traced in (order if run.traced else (False,)):
            dt, got = _run_query(run, execute, q, k, f"{tag}{i}", traced)
            (lat_traced if traced else lat).append(dt)
        run.attempted += 1
        if i % keep_every == 0:
            kept.append((q, k, got))
        i += 1
    return i, kept, lat, lat_traced


def check_sample(run: Run, oracle: BM25Oracle, kept,
                 allowed: set[int] | None = None, tag: str = "") -> None:
    """Compare a seeded sample of kept (query, k, answer) triples with
    the BM25 oracle."""
    rng = np.random.default_rng([run.seed, 9])
    idx = rng.choice(len(kept), size=min(CHECK_SAMPLE, len(kept)), replace=False)
    for i in sorted(idx.tolist()):
        q, k, got = kept[i]
        if got is None:
            continue  # already counted as failed
        want = oracle.search(q, k, allowed=allowed)
        if not same_ranking(got, want):
            run.fail(f"{tag}query {q!r} k={k}: {got[:3]}... != oracle {want[:3]}...")


def same_ranking(got, want) -> bool:
    """Same doc_ids in the same order, scores equal to 1e-12 relative
    (the engine's idf comes from the JVM's log, the oracle's from
    Python's, which may differ in the last bit)."""
    return len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-12)
        for (gd, gs), (wd, ws) in zip(got, want))


def latency_metrics(run: Run, lat: list[float], n_ops: int, wall_s: float) -> None:
    p50, p90, p99 = (_pct(lat, q) * 1e3 for q in (50, 90, 99))
    qps = n_ops / wall_s
    run.e2e["query_p50_ms"] = (p50, "ms")
    run.e2e["query_p90_ms"] = (p90, "ms")
    run.e2e["queries_per_s"] = (qps, "1/s")
    run.print_metric("query_p50_ms", p50, "ms", len(lat))
    run.print_metric("query_p90_ms", p90, "ms", len(lat))
    run.print_metric("query_p99_ms", p99, "ms", len(lat))
    run.print_metric("queries_per_s", qps, "1/s", n_ops)


def query_layers(run: Run, ops: set, n_queries: int, lat: list[float],
                 lat_traced: list[float]) -> None:
    """Per-query layer metrics from the spans of the traced queries."""
    spans = [s for s in run.rec.spans if s[4] in ops]
    st = trace.self_times(run.rec.spans)
    per = max(1, n_queries)

    def total(name):
        return sum(s[2] - s[1] for s in spans if s[0] == name)

    probes = [i for i, s in enumerate(run.rec.spans)
              if s[4] in ops and s[0] == "query_exec.postings_fetch"]
    read_parents = {s[3] for s in spans if s[0] == "pyarrow.to_table"}
    hits = sum(1 for i in probes if i not in read_parents)
    decodes = [s for s in spans if s[0] == "codec.decode"]
    score_self = sum(st[i] for i, s in enumerate(run.rec.spans)
                     if s[4] in ops and s[0] == "query_exec.search_topk_rows")
    L = run.layer
    L["query_exec.parse_ms"] = (total("query_exec.parse") * 1e3 / per, "ms")
    L["query_exec.postings_fetch_ms"] = (total("query_exec.postings_fetch") * 1e3 / per, "ms")
    L["query_exec.postings_parquet_reads"] = (
        sum(1 for s in spans if s[0] == "pyarrow.to_table") / per, "reads/query")
    L["query_exec.postings_cache_hit_ratio"] = (
        hits / len(probes) if probes else 1.0, "ratio")
    L["codec.decode_calls"] = (len(decodes) / per, "calls/query")
    L["codec.values_decoded"] = (sum(s[5] for s in decodes) / per, "values/query")
    L["codec.decode_ms"] = (total("codec.decode") * 1e3 / per, "ms")
    L["query_exec.score_self_ms"] = (score_self * 1e3 / per, "ms")
    L["query_exec.plan_ms"] = (total("query_exec.search_topk") * 1e3 / per, "ms")
    L["query_exec.collect_ms"] = (total("spark.collect") * 1e3 / per, "ms")
    ctrs = run.spark_ctrs[-n_queries:] if n_queries else []
    for key, name, scale in (("jobs", "jobs_per_query", 1),
                             ("stages", "stages_per_query", 1),
                             ("tasks", "tasks_per_query", 1),
                             ("executor_run_s", "executor_run_ms_per_query", 1e3)):
        L[f"spark.{name}"] = (sum(c[key] for c in ctrs) * scale / per, "count" if scale == 1 else "ms")
    L["trace.overhead_ms"] = (statistics.median(
        (t - u) * 1e3 for t, u in zip(lat_traced, lat)), "ms")


def load_layers(run: Run, op: str) -> None:
    L = run.layer
    for name in ("load", "dl_array", "lexicon_map", "warm"):
        # dl_array and lexicon_map load inside warm(); every later call
        # returns the cached value, so only the calls under warm count
        d = sum(s[2] - s[1] for s in run.rec.spans
                if s[0] == f"query_exec.{name}" and s[4] == op
                and (name in ("load", "warm") or _parent_name(run, s) == "query_exec.warm"))
        L[f"query_exec.{name}_s"] = (d, "s")


def _parent_name(run: Run, s: list) -> str | None:
    return run.rec.spans[s[3]][0] if s[3] >= 0 else None


# ---------------------------------------------------------------------------
# workloads


def serve_hot(run: Run) -> None:
    base = Base(run)
    idx = base.idx
    # the serving node's warm-up, part of set-up: one query per term
    # the stream draws from, so decoded postings are cached before the
    # timed loop instead of during its first seconds
    t0 = now()
    for term in base.query_terms:
        query_exec.search_topk_rows(idx, term, k=10)
    base.setup_s += now() - t0

    def execute(q, k, traced):
        return query_exec.search_topk_rows(idx, q, k=k)

    stream = inputs.query_stream(run.seed, 1, base.query_terms)
    n, kept, lat, lat_traced = query_loop(run, execute, stream, run.seconds,
                                          "q", keep_every=25)
    rss = _peak_rss(run)
    base.common_metrics(run)
    latency_metrics(run, lat, len(lat), sum(lat))
    run.e2e["peak_rss_mb"] = (rss, "MB")
    check_sample(run, base.oracle(), kept)
    if run.traced:
        load_layers(run, "setup.load")
        query_layers(run, {f"q{i}" for i in range(n)}, n, lat, lat_traced)


def serve_spark(run: Run) -> None:
    base = Base(run)
    idx = base.idx

    def execute(q, k, traced):
        df = query_exec.search_topk(idx, q, k=k, serving="spark")
        with run.span("spark.collect", traced):
            rows = df.collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    stream = inputs.query_stream(run.seed, 2, base.query_terms)
    n, kept, lat, lat_traced = query_loop(run, execute, stream, run.seconds, "q")
    rss = _peak_rss(run)
    base.common_metrics(run)
    latency_metrics(run, lat, len(lat), sum(lat))
    run.e2e["peak_rss_mb"] = (rss, "MB")
    for q, k, got in kept:
        if got is not None and got != query_exec.search_topk_rows(idx, q, k=k):
            run.fail(f"spark answer for {q!r} k={k} differs from the driver's")
    check_sample(run, base.oracle(), kept)
    if run.traced:
        load_layers(run, "setup.load")
        query_layers(run, {f"q{i}" for i in range(n)}, n, lat, lat_traced)


def refresh(run: Run) -> None:
    base = Base(run)
    # inputs handed to each refresh: a delta segment (with a planted
    # term only it contains), a delete set and the query burst
    delta = inputs.gen_texts(run.seed, 1, DELTA_DOCS, base.vocab)
    term = inputs.planted_term(run.seed)
    planted = inputs.plant(delta, run.seed, term, PLANTED_DOCS)
    inputs.write_docs(run.path("delta_docs"), delta)
    offset = base.idx.stats.num_shards * base.span  # merge remaps the delta here
    deletes = sorted(
        inputs.delete_set(run.seed, BASE_DOCS, DELETES - PLANTED_DELETED)
        + [offset + i for i in planted[:PLANTED_DELETED]])
    burst = [(term, 10)] + list(islice(
        inputs.query_stream(run.seed, 3, base.query_terms), BURST - 1))

    # traced: cycle 0 untraced, cycle 1 traced, on identical inputs
    cycles = []
    t_start = now()
    while not cycles or (len(cycles) < 2 if run.traced
                         else now() - t_start < run.seconds):
        c = len(cycles)
        cycles.append(_refresh_cycle(run, base, c, burst, deletes,
                                     traced=run.traced and c == 1))
    rss = _peak_rss(run)

    base.common_metrics(run)
    timed = [cy for cy in cycles if not cy["traced"]]
    lat = [x for cy in timed for x in cy["lat"]]
    wall = sum(cy["wall_s"] for cy in timed)
    latency_metrics(run, lat, len(lat), wall)
    run.e2e["peak_rss_mb"] = (rss, "MB")
    refresh_s = statistics.median(cy["refresh_s"] for cy in timed)
    run.print_metric("refresh_s", refresh_s, "s", len(timed))
    delta_rate = DELTA_DOCS / statistics.median(cy["build_s"] for cy in timed)
    run.note(f"delta build_docs_per_s = {delta_rate:.6g} docs/s (warm JVM, n={len(timed)})")

    oracle = base.oracle([(offset + i, t) for i, t in enumerate(delta)])
    dead = set(deletes)
    allowed = set(oracle.doc_len) - dead
    for cy in cycles:
        run.attempted += 1  # the refresh itself
        if cy["offset"] != offset:
            run.fail(f"delta merged at doc_id offset {cy['offset']}, expected {offset}")
        if cy["tombstones"] != len(dead):
            run.fail(f"{cy['tombstones']} tombstones after delete, expected {len(dead)}")
        for got in cy["answers"]:
            if got and dead.intersection(d for d, _ in got):
                run.fail("a tombstoned doc was returned")
        first = cy["answers"][0]
        if not first or {d for d, _ in first} != {
                offset + i for i in planted[PLANTED_DELETED:]}:
            run.fail(f"planted term {term!r} answered {first}")
        check_sample(run, oracle, [(q, k, got) for (q, k), got
                                   in zip(burst * COLD_BURSTS, cy["answers"])],
                     allowed, tag="refresh ")
    if run.traced:
        tc = cycles[1]
        load_layers(run, "refresh.reload")
        query_layers(run, {f"r1q{i}" for i in range(len(burst))}, len(burst),
                     cycles[0]["lat"], tc["lat"])
        L = run.layer
        L["index_build.delta_wall_s"] = (tc["build_s"], "s")
        L["index_maint.merge_s"] = (tc["merge_s"], "s")
        L["index_maint.merge_bytes_written"] = (tc["merge_new_bytes"], "bytes")
        L["index_maint.delete_s"] = (tc["delete_s"], "s")
        L["index_maint.tombstones"] = (tc["tombstones"], "count")


def _refresh_cycle(run: Run, base: Base, c: int, burst, deletes, traced: bool) -> dict:
    spark = run.spark
    delta_dir, merged_dir = run.path(f"delta{c}"), run.path(f"merged{c}")
    out = {"traced": traced}
    with run.tracing(traced):
        run.begin_op(f"r{c}.refresh", traced)
        run.phase("refresh.build")
        t0 = now()
        index_build.build_index(spark, spark.read.parquet(run.path("delta_docs")),
                                delta_dir, shard_span=base.span)
        t1 = now()
        run.phase("refresh.merge")
        merged = index_maint.merge_indexes(spark, [base.dir, delta_dir], merged_dir)
        t2 = now()
        run.phase("refresh.delete")
        out["tombstones"] = index_maint.delete_docs(merged, deletes)
        t3 = now()
        run.phase("refresh.reload")
        idx = query_exec.Index.load(spark, merged_dir)
        idx.warm()
        t4 = now()
    if traced:
        run.end_op(f"r{c}.refresh")

    lat, answers = [], []
    # a traced run pairs one burst of an untraced cycle with one of a
    # traced cycle, which is all the per-layer numbers need
    for rep in range(1 if run.traced else COLD_BURSTS):
        if rep:  # a restarted serving node: the same index, empty LRUs
            run.phase("refresh.restart")
            with run.tracing(traced):
                idx = query_exec.Index.load(spark, merged_dir)
                idx.warm()

        def execute(q, k, traced, idx=idx):
            return query_exec.search_topk_rows(idx, q, k=k)

        for j, (q, k) in enumerate(burst):
            i = rep * len(burst) + j
            dt, got = _run_query(run, execute, q, k, f"r{c}q{i}", traced)
            lat.append(dt)
            answers.append(got)
            run.attempted += 1
            if i == 0:
                out["refresh_s"] = now() - t0
    out["wall_s"] = now() - t0
    out.update(lat=lat, answers=answers, build_s=t1 - t0, merge_s=t2 - t1,
               delete_s=t3 - t2, reload_s=t4 - t3,
               merge_new_bytes=_dir_bytes(merged_dir, new_only=True),
               offset=index_maint.segment_offsets(merged_dir)[1]["doc_offset"])
    shutil.rmtree(delta_dir, ignore_errors=True)
    shutil.rmtree(merged_dir, ignore_errors=True)
    return out


WORKLOADS = {"serve_hot": serve_hot, "serve_spark": serve_spark,
             "refresh": refresh}

# every per-layer metric, with the unit a workload that leaves the
# layer idle reports its 0 in
LAYER_UNITS = [
    ("session.start_s", "s"),
    ("index_build.wall_s", "s"), ("index_build.executor_run_s", "s"),
    ("index_build.core_util", "ratio"), ("index_build.jvm_gc_s", "s"),
    ("index_build.shuffle_write_bytes", "bytes"), ("index_build.spill_bytes", "bytes"),
    ("index_build.stages", "count"), ("index_build.tasks", "count"),
    ("index_build.postings", "count"), ("index_build.blocks", "count"),
    ("index_build.compressed_bytes", "bytes"), ("index_build.bytes_per_posting", "bytes"),
    ("index_build.delta_wall_s", "s"),
    ("query_exec.load_s", "s"), ("query_exec.dl_array_s", "s"),
    ("query_exec.lexicon_map_s", "s"), ("query_exec.warm_s", "s"),
    ("query_exec.parse_ms", "ms"), ("query_exec.postings_fetch_ms", "ms"),
    ("query_exec.postings_parquet_reads", "reads/query"),
    ("query_exec.postings_cache_hit_ratio", "ratio"),
    ("codec.decode_calls", "calls/query"), ("codec.values_decoded", "values/query"),
    ("codec.decode_ms", "ms"), ("query_exec.score_self_ms", "ms"),
    ("query_exec.plan_ms", "ms"), ("query_exec.collect_ms", "ms"),
    ("spark.jobs_per_query", "count"), ("spark.stages_per_query", "count"),
    ("spark.tasks_per_query", "count"), ("spark.executor_run_ms_per_query", "ms"),
    ("index_maint.merge_s", "s"), ("index_maint.merge_bytes_written", "bytes"),
    ("index_maint.delete_s", "s"), ("index_maint.tombstones", "count"),
    ("spark.failed_tasks", "count"), ("trace.overhead_ms", "ms"),
]


def run_workload(name: str, run: Run) -> None:
    try:
        WORKLOADS[name](run)
    finally:
        if run.traced and run.spark is not None:
            run.layer["spark.failed_tasks"] = (
                sum(c["failed_tasks"] for c in run.spark_ctrs), "count")
        stop_session(run)
    if run.traced:  # layers the workload leaves idle report 0
        for name, unit in LAYER_UNITS:
            run.layer.setdefault(name, (0, unit))
