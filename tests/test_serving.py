"""Serving path: driver-tokenized queries + static term IN-filter over the
saved index must (a) push the filter into the parquet scan and (b) return
results rank-identical to search_wand.
"""

from __future__ import annotations

import contextlib
import logging
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators import compressed_index
from fulltextsearch_spark.operators.compressed_index import (
    build_compressed_index,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.operators.serving import QueryServer
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

CFG = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)


@pytest.fixture(scope="module")
def built_index(spark):
    docs = assign_dense_doc_ids(
        generate_webpages(spark, 400, seed=23).select("url", "text"), order_col="url"
    )
    return build_compressed_index(spark, docs, CFG)


@pytest.fixture(scope="module")
def index_root(built_index, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serve_idx"))
    save_compressed_index(built_index, path)
    return path


def _key(rows):
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)


def test_serving_rank_identical_to_wand(spark, index_root):
    server = QueryServer.load(spark, index_root)
    got = _key(server.search(QUERY_SET, CFG).collect())

    idx = load_compressed_index(spark, index_root)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    want = _key(search_wand(idx, qdf, CFG).collect())
    assert got == want and len(got) > 0


def test_serving_filter_pushes_to_scan(spark, index_root):
    server = QueryServer.load(spark, index_root)
    df = server.search([("q", "cat salmon fresh")], CFG)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("In(term" in l for l in pushed), plan


def test_serving_edge_queries(spark, index_root):
    server = QueryServer.load(spark, index_root)
    # stop-words-only and unknown terms -> empty results, no errors
    assert server.search([("q6", "the and of"), ("q7", "zzzunknownzzz")], CFG).count() == 0
    assert server.search([], CFG).count() == 0


def test_serving_k1_mismatch_rejected(spark, index_root):
    server = QueryServer.load(spark, index_root)
    with pytest.raises(ValueError, match="k1"):
        server.search(QUERY_SET, EngineConfig(k1=2.0, b=0.75))


def test_search_local_rank_identical(spark, index_root):
    """The in-process fast path (pyarrow footer pruning + the same MaxScore
    kernel, no Spark job) must be rank- AND score-identical to the Spark
    serving path — and to search_wand by transitivity."""
    server = QueryServer.load(spark, index_root)
    got = sorted(
        (q, r, d, round(s, 9)) for q, r, d, s in server.search_local(QUERY_SET, CFG)
    )
    want = _key(server.search(QUERY_SET, CFG).collect())
    assert got == want and len(got) > 0
    # tfidf scoring takes the same path
    got_t = sorted(
        (q, r, d, round(s, 9))
        for q, r, d, s in server.search_local(QUERY_SET, CFG, scoring="tfidf")
    )
    want_t = _key(server.search(QUERY_SET, CFG, scoring="tfidf").collect())
    assert got_t == want_t and len(got_t) > 0


def test_search_local_edge_queries(spark, index_root):
    server = QueryServer.load(spark, index_root)
    assert server.search_local([("q6", "the and of"), ("q7", "zzzunknownzzz")], CFG) == []
    assert server.search_local([], CFG) == []
    with pytest.raises(ValueError, match="k1"):
        server.search_local(QUERY_SET, EngineConfig(k1=2.0, b=0.75))


def test_search_local_latency(spark, index_root):
    """The whole point of the fast path: a warm single query completes in
    milliseconds, not a Spark job's fixed ~100 ms scheduler overhead."""
    import time

    server = QueryServer.load(spark, index_root)
    server.search_local(QUERY_SET[:1], CFG)  # warm: footer manifest + handles
    t0 = time.perf_counter()
    reps = 20
    for _ in range(reps):
        server.search_local(QUERY_SET, CFG)
    ms_per_query = 1000.0 * (time.perf_counter() - t0) / (reps * len(QUERY_SET))
    # generous bound for shared CI hosts; typical is well under 5 ms
    assert ms_per_query < 50, ms_per_query


def test_repl_script_end_to_end(spark, index_root):
    """S3: the interactive query loop (reference CommandLineIterator,
    query_iterator.cpp:34-51) over a saved index, driven via piped stdin."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "repl.py"),
         "--index", index_root, "--k", "3", "--cpus", "2"],
        input="cat salmon\nzzzunknownzzz\n!q\n",
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout.splitlines()
    # latency line for each query, then doc_id|score| rows for the first
    assert any(l.startswith("cat salmon: ") for l in out), out
    assert any(l.startswith("zzzunknownzzz: ") for l in out), out
    result_lines = [l for l in out if l.endswith("|") and "|" in l[:-1]]
    assert 1 <= len(result_lines) <= 3
    for l in result_lines:
        doc_id, score = l.rstrip("|").split("|")
        int(doc_id); float(score)


def test_fts_cli_file_mode(tmp_path):
    """The reference-flag-compatible one-shot CLI (cli.cpp:12-29,
    main.cpp:17-86): build, serve a query dir, write <scoring>_result.tbl
    into it with query|rank|doc_id|score| lines under the file-stem id."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "t1.txt").write_text("dup\ndup value\n")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "fts.py"),
         "-d", "/root/testdata/sf0.001/documents.parquet",
         "-a", "inverted", "-s", "bm25", "-n", "3",
         "-q", str(qdir), "--cpus", "2"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    tbl = qdir / "bm25_result.tbl"
    assert tbl.is_dir()
    lines = []
    for p in sorted(tbl.glob("part*")):
        lines += p.read_text().splitlines()
    assert lines, proc.stdout
    for line in lines:
        qid, rank, doc_id, score, trailing = line.split("|")
        assert qid == "t1" and trailing == ""
        int(rank); int(doc_id); float(score)


def test_search_local_decoded_cache_identical_and_bounded(spark, tmp_path):
    """Repeat batches populate the decoded-postings LRU (second sight) and
    stay rank- and score-identical to the cold path; the cache honors its
    byte budget."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 300, seed=11, num_partitions=3), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)
    srv = QueryServer.load(spark, root)
    first = srv.search_local(QUERY_SET, cfg)
    # second sight only: terms occurring once in the batch are not cached
    # yet (terms shared by several queries ARE — that is second sight too)
    once_terms = {k for k, _ in srv._dec_seen.items() if srv._dec_seen[k] == 1}
    assert once_terms and not (once_terms & set(srv._dec_cache))
    second = srv.search_local(QUERY_SET, cfg)
    assert srv._dec_cache  # repeat batch populated the rest
    third = srv.search_local(QUERY_SET, cfg)  # served from cache
    assert first == second == third
    assert srv._dec_bytes <= srv.decoded_cache_mb * (1 << 20)
    assert srv._dec_bytes == sum(v[3] for v in srv._dec_cache.values())
    # a tiny budget evicts rather than grows
    tiny = QueryServer.load(spark, root)
    tiny.decoded_cache_mb = 0
    tiny.search_local(QUERY_SET, cfg)
    r2 = tiny.search_local(QUERY_SET, cfg)
    assert r2 == first and not tiny._dec_cache


def test_search_local_row_cache_bounded_and_identical(spark, tmp_path):
    """The kernel-ready matched-rows LRU serves warm batches identically,
    honors its byte budget, and bounds NEGATIVE entries (queried-but-absent
    terms) via the per-entry floor — a typo-heavy workload must not grow
    the dict forever."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 200, seed=13, num_partitions=2), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)

    srv = QueryServer.load(spark, root)
    first = srv.search_local(QUERY_SET, cfg)
    assert srv._row_cache  # populated on first sight
    warm = srv.search_local(QUERY_SET, cfg)
    assert warm == first
    assert srv._row_bytes <= srv.row_cache_mb * (1 << 20)
    assert srv._row_bytes == sum(v[1] for v in srv._row_cache.values())
    # negative entries are cached (no re-scan) AND carry the byte floor
    srv.search_local([("m1", "zzqqxxnope")], cfg)
    neg = srv._row_cache.get("zzqqxxnope")
    assert neg is not None and neg[0] == [] and neg[1] >= 512

    # a tiny budget evicts instead of growing, results unchanged
    tiny = QueryServer.load(spark, root)
    tiny.row_cache_mb = 0
    assert tiny.search_local(QUERY_SET, cfg) == first
    assert not tiny._row_cache
    # a budget of ~100 entries' floors bounds a typo flood
    flood = QueryServer.load(spark, root)
    flood.row_cache_mb = 1
    for i in range(300):
        flood.search_local([(f"t{i}", f"zzqq{i}nope")], cfg)
    assert flood._row_bytes <= flood.row_cache_mb * (1 << 20)
    assert flood.search_local(QUERY_SET, cfg) == first


def test_prewarm_populates_caches_and_preserves_results(spark, tmp_path):
    """prewarm() hot-loads the matched-rows and decoded-postings caches
    before any traffic (no second-sight requirement) without changing
    results; accepts query tuples or raw terms; empty input is a no-op."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 200, seed=17, num_partitions=2), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)

    cold = QueryServer.load(spark, root)
    baseline = cold.search_local(QUERY_SET, cfg)

    warm = QueryServer.load(spark, root)
    n = warm.prewarm(QUERY_SET, cfg)
    assert n > 0
    assert warm._dec_cache  # decoded BEFORE any search traffic
    assert warm._row_cache
    assert warm.search_local(QUERY_SET, cfg) == baseline
    # raw-terms form and no-op input
    other = QueryServer.load(spark, root)
    assert other.prewarm(["cat", "salmon", "zzznope"], cfg) >= 2
    assert other.prewarm([], cfg) == 0
    assert other.search_local(QUERY_SET, cfg) == baseline


def test_search_local_parallel_workers_identical(spark, tmp_path):
    """workers>1 scores a batch's queries in a thread pool over shared
    read-only cache buffers; results must be identical to the serial path
    (same order), warm and cold."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 250, seed=23, num_partitions=2), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)

    serial = QueryServer.load(spark, root)
    base_cold = serial.search_local(QUERY_SET, cfg)
    base_warm = serial.search_local(QUERY_SET, cfg)

    pooled = QueryServer.load(spark, root)
    assert pooled.search_local(QUERY_SET, cfg, workers=4) == base_cold
    assert pooled.search_local(QUERY_SET, cfg, workers=4) == base_warm
    assert pooled.search_local(QUERY_SET, cfg, workers=4) == base_warm  # cached


@contextlib.contextmanager
def _spark_conf(spark, conf: dict[str, str]):
    """Set runtime SQL confs for the block, then restore the old values."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _postings_files(root) -> list[str]:
    pdir = os.path.join(root, "postings")
    return [os.path.join(pdir, f) for f in sorted(os.listdir(pdir)) if f.endswith(".parquet")]


def _term_ranges_of(root) -> list[tuple[str, str, int]]:
    """Footer term (min, max, file number) of every postings row group."""
    out = []
    for f, path in enumerate(_postings_files(root)):
        meta = pq.ParquetFile(path).metadata
        col = meta.schema.names.index("term")
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(col).statistics
            out.append((st.min, st.max, f))
    return out


@pytest.fixture
def small_row_groups(monkeypatch):
    """Save postings in ~4 KiB row groups, so the small test index spans
    several row groups per file."""
    monkeypatch.setattr(compressed_index, "_POSTINGS_ROW_GROUP_BYTES", 4 << 10)


def test_saved_postings_are_disjoint_term_ranges(
    spark, built_index, tmp_path, monkeypatch, small_row_groups
):
    """Files cover disjoint term ranges and row groups overlap only on a
    boundary term whose rows cross between adjacent row groups of one file,
    so a one-term cold query reads exactly one row group."""
    root = str(tmp_path / "idx")
    with _spark_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        save_compressed_index(built_index, root)
    files = _postings_files(root)
    assert len(files) >= 2
    assert all(pq.ParquetFile(p).metadata.num_row_groups > 1 for p in files)
    ranges = sorted(_term_ranges_of(root))
    assert all(lo <= hi for lo, hi, _ in ranges)
    for a, b in zip(ranges, ranges[1:]):
        assert a[1] < b[0] or (a[1] == b[0] and a[2] == b[2]), (a, b)

    reads = []
    real_read = pq.ParquetFile.read_row_group

    def counting_read(self, i, *args, **kwargs):
        reads.append(i)
        return real_read(self, i, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting_read)
    server = QueryServer.load(spark, root)
    assert sum(lo <= "cat" <= hi for lo, hi, _ in ranges) == 1
    assert server.search_local([("q", "cat")], CFG)
    assert len(reads) == 1


def test_save_is_byte_identical(spark, built_index, tmp_path, small_row_groups):
    """Two saves of one index write the same postings bytes: the range cut
    points are a pure function of the postings."""
    roots = [str(tmp_path / "a"), str(tmp_path / "b")]
    with _spark_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        for root in roots:
            save_compressed_index(built_index, root)
    a, b = ([open(p, "rb").read() for p in _postings_files(r)] for r in roots)
    assert len(a) >= 2 and a == b


def test_hash_layout_index_answers_like_range_layout(spark, built_index, index_root, tmp_path):
    """An index whose postings were saved in the earlier layout (hash-
    partitioned by term, every file spanning the whole term range) loads
    unchanged and answers QUERY_SET exactly like the range layout."""
    old_root = str(tmp_path / "hash_idx")
    save_compressed_index(built_index, old_root)
    with _spark_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        built_index.postings.repartition(F.col("term")).sortWithinPartitions(
            "term"
        ).write.mode("overwrite").parquet(f"{old_root}/postings")
    old_ranges = sorted(_term_ranges_of(old_root))
    assert any(a[1] >= b[0] for a, b in zip(old_ranges, old_ranges[1:]))

    def local(root):
        return sorted(
            (q, r, d, round(s, 9))
            for q, r, d, s in QueryServer.load(spark, root).search_local(QUERY_SET, CFG)
        )

    def spark_path(root):
        return _key(QueryServer.load(spark, root).search(QUERY_SET, CFG).collect())

    want = local(index_root)
    assert want and local(old_root) == want
    assert spark_path(old_root) == spark_path(index_root) == want


def test_oversized_row_cache_term_logged_once(spark, index_root, caplog):
    """A term too large for the whole row cache is never cached; the server
    logs it once, not once per query."""
    server = QueryServer.load(spark, index_root)
    server.row_cache_mb = 0
    with caplog.at_level(logging.WARNING, logger="fulltextsearch_spark.operators.serving"):
        server.search_local(QUERY_SET, CFG)
        first = [r for r in caplog.records if "row cache skips term" in r.getMessage()]
        server.search_local(QUERY_SET, CFG)
        both = [r for r in caplog.records if "row cache skips term" in r.getMessage()]
    assert first and both == first
    assert len({r.args[0] for r in first}) == len(first)
    assert not server._row_cache
