#!/usr/bin/env python3
"""Run one seeded benchmark workload against the engine's public API.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 15 --trace 0

Run from the repository root. Every run times a build and save of the
200k-doc index with the code under test, and serves an index this code
built from one closed-loop client for ``--seconds``, in three windows spread
over the run. ``--trace 1`` adds per-layer spans and Spark stage metrics.
The last stdout line is the result object; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

WORKLOADS = ("serve_hot", "serve_tail")
MASTER = "local[4]"
SETUP_REPS = 3  # server load (+ prewarm) repetitions behind setup_s
WINDOWS = 3  # timed serving windows: before the warm-up, before and after the timed build
REPLAY_BLOCK = 25  # queries per traced/untraced block of the overhead replay
REPLAY_MIN = 100  # the replay is the first cycle served, or this many queries if more
PROTOCOL = "perfbench-v1 (new protocol; not comparable to BENCH_r0x.json)"

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_doc": "B/doc",
    "query_p50_ms": "ms",
    "queries_per_s": "q/s",
    "serve_peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "tokenizer.docs_per_s": "docs/s",
    "tokenizer.ms_per_query": "ms",
    "compressed_index.map_s": "s",
    "compressed_index.map_cpu_s": "s",
    "compressed_index.partial_bytes": "B",
    "compressed_index.merge_s": "s",
    "compressed_index.merge_task_skew": "ratio",
    "compressed_index.spill_bytes": "B",
    "compressed_index.gc_s": "s",
    "compressed_index.save_s": "s",
    "compressed_index.postings_files": "count",
    "compressed_index.postings_row_groups": "count",
    "serving.load_s": "s",
    "serving.prewarm_s": "s",
    "serving.fetch_ms_per_query": "ms",
    "serving.row_groups_read_per_query": "count",
    "serving.read_mb_per_query": "MB",
    "serving.decode_ms_per_query": "ms",
    "wand.kernel_ms_per_query": "ms",
    "wand.block_skip_frac": "ratio",
    "wand.blocks_decoded": "count",
    "wand.blocks_total": "count",
    "trace.overhead_frac": "ratio",
}

BUILD_PHASES = ("compressed_index.map", "compressed_index.merge", "compressed_index.save")
# spans that must record calls inside trees rooted at a given span, per
# workload, or the traced run fails: a refactor that bypasses a wrapper must
# not report its layer as 0 ms. The serve loop need not decode: serve_hot's
# pool is decoded by prewarm in set-up, and serve_tail decodes a term only
# on its second sighting, which its list of first sightings seldom reaches.
EXPECTED_SPANS = {
    "serve_hot": {
        "search_local": ("search_local", "tokenize", "maxscore_topk"),
        "prewarm": ("prewarm", "read_row_group", "decode_term_streams"),
    },
    "serve_tail": {
        "search_local": ("search_local", "tokenize", "maxscore_topk", "read_row_group"),
    },
}


class TraceError(RuntimeError):
    """The traced run cannot attribute a layer it must measure."""


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _postings_layout(root: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    pdir = os.path.join(root, "postings")
    files = [f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet")]
    rgs = sum(pq.ParquetFile(os.path.join(pdir, f)).metadata.num_row_groups for f in files)
    return len(files), rgs


def _start_spark(tmp: str, event_dir: str | None):
    from fulltextsearch_spark.session import get_spark

    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir})
    spark = get_spark(app_name="perfbench", master=MASTER, shuffle_partitions=4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit;
    ``_stop_children`` ends what is left below it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _become_subreaper() -> None:
    """Adopt the orphans of this run's processes (Spark's Python worker
    daemon outlives the JVM for a moment), so that ``_stop_children`` can
    wait for them too."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_children() -> None:
    """End every process this run started and wait until each has ended:
    the multiprocessing resource tracker (it ignores SIGTERM), then every
    other live descendant, with SIGTERM and after 10 s with SIGKILL."""
    from multiprocessing import resource_tracker

    from perfbench.spans import descendants

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + 10.0
    while True:
        _reap()
        left = [p for p in descendants(os.getpid())[1:] if _alive(p)]
        if not left:
            break
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for p in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        time.sleep(0.05)
    _reap()


def _reset_peak_rss() -> None:
    """Restart this process's peak RSS (VmHWM) from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        return int(re.search(r"VmHWM:\s+(\d+) kB", f.read()).group(1)) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _rows(result: list[tuple[str, int, int, float]]) -> list[list]:
    """Served rows in the comparison form of tests/test_serving.py."""
    return [[r, d, round(s, 9)] for _, r, d, s in result]


def _oracle(spark, root: str, cfg, contents: list[str], cache: str) -> dict[str, list]:
    """Exhaustive answers (``search_wand(prune=False)`` over the saved
    index) by query text, cached in ``cache`` and extended on demand."""
    from fulltextsearch_spark.operators.compressed_index import load_compressed_index
    from fulltextsearch_spark.operators.wand import search_wand

    have: dict = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    missing = sorted(set(contents) - set(have))
    if missing:
        idx = load_compressed_index(spark, root)
        qdf = spark.createDataFrame(list(enumerate(missing)), "query_id long, content string")
        got: dict[str, list] = {c: [] for c in missing}
        for r in search_wand(idx, qdf, cfg, prune=False).collect():
            got[missing[r["query_id"]]].append([r["rank"], r["doc_id"], round(r["score"], 9)])
        for rows in got.values():
            rows.sort()
        have.update(got)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump(have, f)
        os.replace(cache + ".tmp", cache)
    return have


class Run:
    """One run of one workload. ``execute`` returns the end-to-end metrics
    and leaves the record, per-layer metrics and failure tally on the run."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool) -> None:
        from perfbench.inputs import Corpus, cache_root, tree_hash
        from perfbench.spans import Tracer
        from perfbench.stats import Tally

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.cache = cache_root()
        self.work = os.path.join(self.cache, "work", f"{workload}-{seed}-{os.getpid()}")
        self.corpus = Corpus()
        self.src_hash = tree_hash(os.path.join(os.getcwd(), "fulltextsearch_spark"))
        self.tally = Tally()
        self.tracer = Tracer() if traced else None
        self.record: dict = {}
        self.layer: dict[str, float] = {}
        self.stages: list[dict] = []
        # the timed serving windows' queries: (qid, content, rows or exception)
        self.served: list = []
        self.lat: list[float] = []  # seconds per query
        self.loop_wall = 0.0
        self.first: list | None = None  # the first cycle served
        self.window_p50_ms: list[float] = []
        self.window_peak_mb: list[float] = []  # each window's peak RSS

    # -- phases ----------------------------------------------------------- #

    @contextlib.contextmanager
    def _phase(self, spark, name: str):
        """Traced: a span plus a Spark job group (stage attribution) and
        the executor process tree's CPU time. Untraced: nothing."""
        if not self.traced:
            yield
            return
        from pyspark import SparkContext

        from perfbench.spans import tree_cpu_s

        sc = spark.sparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        cpu0 = tree_cpu_s(jvm_pid)
        sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name, "compressed_index") as sp:
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sp.attrs["cpu_s"] = tree_cpu_s(jvm_pid) - cpu0

    def _build(self, spark, cfg, corpus_path: str, root: str, phases: bool):
        from fulltextsearch_spark.operators.compressed_index import (
            build_compressed_index_pyfiles,
            save_compressed_index,
        )

        shutil.rmtree(root, ignore_errors=True)
        phase = self._phase if phases else (lambda s, n: contextlib.nullcontext())
        with phase(spark, BUILD_PHASES[0]):
            idx = build_compressed_index_pyfiles(spark, corpus_path, cfg)
        with phase(spark, BUILD_PHASES[1]):
            idx.postings.count()
        with phase(spark, BUILD_PHASES[2]):
            save_compressed_index(idx, root)
        spark.catalog.clearCache()
        return idx

    @staticmethod
    def _install_wrappers(t) -> None:
        import pyarrow.parquet as pq

        from fulltextsearch_spark.operators import serving, wand

        def with_stats(args, kwargs):
            if len(args) < 9 and kwargs.get("stats") is None:
                kwargs = {**kwargs, "stats": {}}
            return args, kwargs

        def kernel_counts(sp, args, kwargs, result):
            st = kwargs.get("stats") or {}
            sp.attrs["blocks_total"] = st.get("blocks_total", 0)
            sp.attrs["blocks_decoded"] = st.get("blocks_decoded", 0)

        def read_bytes(sp, args, kwargs, result):
            pf, rg = args[0], args[1]
            cols = kwargs.get("columns") or (args[2] if len(args) > 2 else None)
            meta = pf.metadata.row_group(rg)
            sp.attrs["bytes"] = sum(
                meta.column(i).total_compressed_size
                for i in range(meta.num_columns)
                if cols is None or meta.column(i).path_in_schema.split(".")[0] in cols
            )

        t.wrap(serving.QueryServer, "search_local", "search_local", "serving")
        t.wrap(serving.QueryServer, "prewarm", "prewarm", "serving")
        t.wrap(serving, "tokenize", "tokenize", "tokenizer")
        t.wrap(serving, "maxscore_topk", "maxscore_topk", "wand",
               before=with_stats, after=kernel_counts)
        t.wrap(wand, "decode_term_streams", "decode_term_streams", "serving")
        t.wrap(pq.ParquetFile, "read_row_group", "read_row_group", "serving", after=read_bytes)

    def _serve_setup(self, spark, cfg, root: str, pool, reps: int = SETUP_REPS):
        """Load a fresh server (and prewarm it on serve_hot) ``reps`` times;
        the last one serves. Returns (server, load_s reps, prewarm_s reps)."""
        from fulltextsearch_spark.operators.serving import QueryServer

        loads, warms = [], []
        srv = None
        for _ in range(reps):
            srv = None  # drop the previous server's caches before the next fills
            t0 = time.perf_counter()
            srv = QueryServer.load(spark, root)
            t1 = time.perf_counter()
            if pool is not None:
                srv.prewarm(pool, cfg)
            loads.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
        return srv, loads, warms

    @staticmethod
    def _loop(srv, cfg, requests, t=None):
        """Closed loop, one client: the next query is sent when the last
        returns. ``t`` (a Tracer) labels spans with the query id. Returns
        (served [(qid, content, rows or exception)], latencies s, wall s)."""
        served, lat = [], []
        start = time.perf_counter()
        for qid, content in requests:
            if t is not None:
                t.qid = qid
            t0 = time.perf_counter()
            try:
                rows = srv.search_local([(qid, content)], cfg)
            except Exception as exc:  # counted as a failed query, reported below
                rows = exc
            t1 = time.perf_counter()
            lat.append(t1 - t0)
            served.append((qid, content, rows))
        if t is not None:
            t.qid = None
        return served, lat, time.perf_counter() - start

    def _window(self, spark, cfg, root: str, srv, cycles):
        """Serve whole cycles for ``1 / WINDOWS`` of --seconds, so that every
        run serves the same mix: serve_hot's Zipf cycles on its prewarmed
        server, serve_tail's blocks each on a freshly loaded, cold server
        (the load is not timed). Returns the server to keep."""
        from fulltextsearch_spark.operators.serving import QueryServer

        _reset_peak_rss()
        n = 0
        deadline = time.perf_counter() + self.seconds / WINDOWS
        for cycle in cycles:
            if srv is None:
                srv = QueryServer.load(spark, root)
            served, lat, wall = self._loop(srv, cfg, cycle, self.tracer)
            self.served += served
            self.lat += lat
            self.loop_wall += wall
            self.first = self.first or cycle
            n += len(lat)
            if self.workload == "serve_tail":
                srv = None
            if time.perf_counter() >= deadline:
                break
        self.window_p50_ms.append(statistics.median(self.lat[-n:]) * 1000.0)
        self.window_peak_mb.append(_peak_rss_mb())
        return srv

    # -- the run ---------------------------------------------------------- #

    def execute(self):
        import pyarrow as pa

        from fulltextsearch_spark.config import EngineConfig
        from fulltextsearch_spark.operators.serving import QueryServer
        from fulltextsearch_spark.sources.webpages import QUERY_SET
        from perfbench.inputs import CORPUS_DOCS, hot_cycles, hot_pool, tail_blocks
        from perfbench.stats import MIN_BEYOND, percentile, samples_beyond, summary

        gen_s = self.corpus.ensure()
        words, counts = self.corpus.words()
        # Spark, the JVMs and Python temp files stay inside the work area
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        event_dir = None
        if self.traced:
            event_dir = os.path.join(self.work, "events")
            os.makedirs(event_dir, exist_ok=True)
        cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
        hot = self.workload == "serve_hot"
        pool = hot_pool(words, counts) if hot else None

        # The driver decodes on one arrow thread: with a pool of 4, each
        # row-group read waits for its slowest thread, and CPU steal on the
        # shared host swung serve_tail's latency by up to 1.8x between runs.
        pa.set_cpu_count(1)

        # set-up: session start
        t0 = time.perf_counter()
        spark = _start_spark(tmp, event_dir)
        session_s = time.perf_counter() - t0
        try:
            # the served index: built from the 200k docs by this code, once,
            # and cached under the hash of its source tree
            root = os.path.join(self.cache, "index", os.path.basename(self.corpus.dir),
                                self.src_hash)
            if not os.path.isdir(root):
                t0 = time.perf_counter()
                self._build(spark, cfg, self.corpus.path, root + ".tmp", False)
                os.replace(root + ".tmp", root)
                gen_s += time.perf_counter() - t0
            if self.traced:
                self.layer["tokenizer.docs_per_s"] = self._tokenizer_docs_per_s()
                self._install_wrappers(self.tracer)
            # set-up: server load (+ prewarm), repeated
            srv, loads, warms = self._serve_setup(spark, cfg, root, pool)

            # in turns: serving, warm-up build (set-up), serving, timed
            # build, serving. The timed build is build -> count -> save of
            # the 200k-doc index with the code under test; each serving
            # window is a third of --seconds on the cached index. The host's
            # speed drifts over tens of seconds, so windows spread over the
            # run move less between runs than one long window.
            cycles = hot_cycles(self.seed, pool) if hot else tail_blocks(self.seed, words)
            srv = self._window(spark, cfg, root, srv, cycles)
            t0 = time.perf_counter()
            self._build(spark, cfg, self.corpus.warm_path, os.path.join(self.work, "warm"), False)
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + warmup_s + statistics.median(
                a + b for a, b in zip(loads, warms)
            )
            srv = self._window(spark, cfg, root, srv, cycles)
            fresh = os.path.join(self.work, "index")
            t0 = time.perf_counter()
            idx = self._build(spark, cfg, self.corpus.path, fresh, True)
            build_s = time.perf_counter() - t0
            self.tally.check("index n_docs", CORPUS_DOCS, idx.n_docs)
            index_bytes = _dir_bytes(fresh)
            srv = self._window(spark, cfg, root, srv, cycles)
            srv = None  # free both caches before the checks
            if self.traced:
                self.tracer.restore()
                n = max(len(self.first), REPLAY_MIN)
                self._serving_layers(spark, cfg, root, pool,
                                     [(q, c) for q, c, _ in self.served[:n]])

            # correctness, after the timed regions
            t0 = time.perf_counter()
            ocache = os.path.join(
                self.cache, "oracle", os.path.basename(self.corpus.dir), self.src_hash)
            want = _oracle(spark, root, cfg, [c for _, c in QUERY_SET],
                           os.path.join(ocache, "query_set.json"))
            content_of = dict(QUERY_SET)
            for label, broot in (("served index", root), ("fresh index", fresh)):
                got: dict[str, list] = {c: [] for _, c in QUERY_SET}
                for row in QueryServer.load(spark, broot).search_local(QUERY_SET, cfg):
                    got[content_of[row[0]]].append([row[1], row[2], round(row[3], 9)])
                self.tally.check(f"{label} QUERY_SET",
                                 {c: want[c] for c in got}, got)
            want = _oracle(spark, root, cfg, [c for _, c, _ in self.served],
                           os.path.join(ocache, "hot_pool.json" if hot else "tail_list.json"))
            for qid, content, rows in self.served:
                if isinstance(rows, Exception):
                    self.tally.error(f"query {qid} {content!r}", rows)
                else:
                    self.tally.check(f"query {qid} {content!r}", want[content], _rows(rows))
            check_s = time.perf_counter() - t0
        finally:
            if self.tracer is not None:
                self.tracer.restore()
            _stop_spark(spark)

        if self.traced:
            self._stage_layers(event_dir)
            self._check_spans()
            self.tracer.dump(
                os.path.join(self.cache, "traces", f"{self.workload}-seed{self.seed}.json"),
                stages=self.stages,
            )

        lat_ms = [x * 1000.0 for x in self.lat]
        n_files, n_rgs = _postings_layout(fresh)
        self.layer.update({
            "session.start_s": session_s,
            "serving.load_s": statistics.median(loads),
            "serving.prewarm_s": statistics.median(warms),
            "compressed_index.postings_files": n_files,
            "compressed_index.postings_row_groups": n_rgs,
        })
        metrics = {
            "setup_s": setup_s,
            "build_docs_per_s": CORPUS_DOCS / build_s,
            "index_bytes_per_doc": index_bytes / idx.n_docs,
            "query_p50_ms": percentile(lat_ms, 50),
            "queries_per_s": len(self.lat) / self.loop_wall,
            "serve_peak_rss_mb": max(self.window_peak_mb),
        }
        # a tail percentile is recorded only with enough samples beyond it
        tails = {f"p{q}": samples_beyond(len(lat_ms), q) for q in (50, 90, 99)}
        tail_ms = {q: percentile(lat_ms, q) if tails[f"p{q}"] >= MIN_BEYOND else None
                   for q in (90, 99)}
        self.record = {
            "protocol": PROTOCOL,
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.traced),
            "corpus": self.corpus.tag,
            "source_hash": self.src_hash,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_master": MASTER,
            "load_avg": [round(v, 2) for v in os.getloadavg()],
            "one_time_generation_s": gen_s,
            "check_s": check_s,
            "reps": {
                "build": 1,
                "setup": SETUP_REPS,
                "cycles": len(self.served) // len(self.first),
                "windows": WINDOWS,
                "queries": len(lat_ms),
            },
            "latency_ms": summary(lat_ms),
            "window_p50_ms": self.window_p50_ms,
            "query_p90_ms": tail_ms[90],
            "query_p99_ms": tail_ms[99],
            "samples_beyond": tails,
            "setup_parts_s": {"session": session_s, "warmup_build": warmup_s,
                              "load": summary(loads), "prewarm": summary(warms)},
            "build_s": build_s,
            "failed_frac": self.tally.failed_frac,
            "first_failures": self.tally.first_failures,
        }
        if self.traced:
            self.record["per_layer"] = self.layer
            self.record["span_counts"] = self.tracer.counts()
        return metrics

    # -- traced-only measurements ---------------------------------------- #

    def _tokenizer_docs_per_s(self) -> float:
        """Single-thread ``term_counts_flat`` over one corpus row group in
        the Spark driver: median of 3 after one warm call (stem memo filled)."""
        import pyarrow.parquet as pq

        from fulltextsearch_spark.functions.tokenizer import term_counts_flat

        first = sorted(f for f in os.listdir(self.corpus.path) if f.endswith(".parquet"))[0]
        col = pq.ParquetFile(os.path.join(self.corpus.path, first)).read_row_group(
            0, columns=["text"]).column("text").combine_chunks()
        term_counts_flat(col, True, order="term")
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            term_counts_flat(col, True, order="term")
            reps.append(time.perf_counter() - t0)
        return len(col) / statistics.median(reps)

    def _serving_layers(self, spark, cfg, root, pool, requests) -> None:
        """Per-query layer times from the spans of the timed loop, then the
        tracing overhead: the first queries served, ``requests``, replayed
        in blocks on two identically set-up servers, one traced and one not,
        alternating which goes first."""
        from perfbench.spans import Tracer, in_trees, subtree_self_by_name

        spans = self.tracer.spans
        by_name, wall, n = subtree_self_by_name(spans, "search_local")
        if n == 0:
            raise TraceError("no search_local span in the timed loop")
        ms = 1000.0 / n
        fetch = by_name.get("search_local", 0.0) + by_name.get("read_row_group", 0.0)
        parts = {
            "tokenizer.ms_per_query": by_name.get("tokenize", 0.0) * ms,
            "serving.fetch_ms_per_query": fetch * ms,
            "serving.decode_ms_per_query": by_name.get("decode_term_streams", 0.0) * ms,
            "wand.kernel_ms_per_query": by_name.get("maxscore_topk", 0.0) * ms,
        }
        if abs(sum(parts.values()) - wall * ms) > 1e-6 * max(wall * ms, 1.0):
            raise TraceError(f"layer self times {parts} do not sum to search_local {wall * ms} ms")
        self.layer.update(parts)
        in_loop = in_trees(spans, "search_local")
        rg = [s for s, inside in zip(spans, in_loop) if inside and s.name == "read_row_group"]
        ks = [s for s, inside in zip(spans, in_loop) if inside and s.name == "maxscore_topk"]
        self.layer["serving.row_groups_read_per_query"] = len(rg) / n
        self.layer["serving.read_mb_per_query"] = sum(s.attrs["bytes"] for s in rg) / n / 2**20
        total = sum(s.attrs["blocks_total"] for s in ks)
        decoded = sum(s.attrs["blocks_decoded"] for s in ks)
        self.layer["wand.blocks_total"] = total
        self.layer["wand.blocks_decoded"] = decoded
        self.layer["wand.block_skip_frac"] = 1.0 - decoded / total if total else 0.0
        self.layer["search_local_ms_per_query"] = wall * ms

        plain, _, _ = self._serve_setup(spark, cfg, root, pool, reps=1)
        traced, _, _ = self._serve_setup(spark, cfg, root, pool, reps=1)
        replay = Tracer()
        walls = {True: 0.0, False: 0.0}
        for b, i in enumerate(range(0, len(requests), REPLAY_BLOCK)):
            block = requests[i:i + REPLAY_BLOCK]
            for on in (b % 2 == 0, b % 2 == 1):
                if on:
                    self._install_wrappers(replay)
                try:
                    _, _, wall = self._loop(traced if on else plain, cfg, block,
                                            t=replay if on else None)
                finally:
                    replay.restore()
                walls[on] += wall
        self.layer["trace.overhead_frac"] = walls[True] / walls[False] - 1.0

    def _stage_layers(self, event_dir: str) -> None:
        """Build-call spans, plus build-stage fields from the Spark event
        log by job group."""
        import importlib.util

        from perfbench.spans import stage_table

        spec = importlib.util.spec_from_file_location(
            "stage_profile", os.path.join(os.getcwd(), "scripts", "stage_profile.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        if len(logs) != 1:
            raise TraceError(f"expected one Spark event log in {event_dir}, found {logs}")
        build = [s for s in self.tracer.spans if s.name in BUILD_PHASES]
        for s in build:
            self.layer[s.name + "_s"] = s.end - s.start
        self.layer["compressed_index.map_cpu_s"] = next(
            s.attrs["cpu_s"] for s in build if s.name == BUILD_PHASES[0])
        rows = [r for r in stage_table(logs[0], mod) if r["group"] in BUILD_PHASES]
        merge = [r for r in rows if r["group"] == BUILD_PHASES[1]]
        if not merge:
            raise TraceError("no Spark stage attributed to the merge job group")
        biggest = max(merge, key=lambda r: r["run_ms"])
        runs = biggest["task_run_ms"]
        self.layer["compressed_index.partial_bytes"] = sum(r["shuffle_write"] for r in merge)
        self.layer["compressed_index.merge_task_skew"] = (
            max(runs) / statistics.median(runs) if runs and statistics.median(runs) else 1.0)
        self.layer["compressed_index.spill_bytes"] = sum(r["spill"] for r in rows)
        self.layer["compressed_index.gc_s"] = sum(r["gc_ms"] for r in rows) / 1000.0
        self.stages = rows

    def _check_spans(self) -> None:
        from perfbench.spans import in_trees

        spans = self.tracer.spans
        expected = {**EXPECTED_SPANS[self.workload], **{p: (p,) for p in BUILD_PHASES}}
        missing = []
        for root_name, names in expected.items():
            found = {s.name for s, inside in zip(spans, in_trees(spans, root_name)) if inside}
            missing += [f"{n} (under {root_name})" for n in names if n not in found]
        if missing:
            raise TraceError(f"{self.workload}: expected spans recorded no calls: {missing}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fulltextsearch_spark", "__init__.py")):
        print("perfbench: fulltextsearch_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    _become_subreaper()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = run.execute()
    except TraceError as exc:
        print(f"perfbench: traced run failed: {exc}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_children()
        shutil.rmtree(run.work, ignore_errors=True)

    shown = {n: run.layer[n] for n in PER_LAYER} if args.trace else metrics
    units = PER_LAYER if args.trace else END_TO_END
    tally = run.tally
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} ({PROTOCOL})")
    for name, value in shown.items():
        print(f"  {name:40s} {value:>16.6g} {units[name]}")
    print(f"  {'failed_frac':40s} {tally.failed_frac:>16.6g} ratio "
          f"({tally.failed}/{tally.attempted})")
    for detail in tally.first_failures:
        print(f"  FAILED {detail}")
    out_dir = os.path.join(run.cache, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**run.record, "metrics": metrics}, f, indent=1)
    print("record: " + json.dumps(run.record))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
