"""Benchmark inputs: the corpus, the query pool and the seeded query streams.

Only inputs that the code under test cannot change are cached, under
``.bench_cache/perfbench`` of the working directory: the corpus parquet
(keyed by its generator's source) and its surface-word table. The served
index and the oracle answers are cached under the corpus and a hash of the
whole ``fulltextsearch_spark/`` tree, since this code builds the index.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections.abc import Iterator
from itertools import accumulate

# The first half of the head-to-head corpus (``bench.py``'s ``web400000b``):
# 20 bursty chunks of 10k docs, chunk p generated with seed 42 + p. At 400k
# docs a run takes 60-75 s on 4 cores; at 200k about 55 s, so 48 runs (ten
# per workload, twice, plus traced runs) fit in under an hour. The corpus is
# fixed, not drawn from the run's seed: a corpus per seed would add a build
# and an oracle per seed, and its different head terms would move the
# figures between seeds.
CORPUS_DOCS = 200_000
CHUNK_DOCS = 10_000
CORPUS_SEED = 42
# The untimed warm-up build reads a separate 20k-doc corpus of the same
# shape, in 4 files so that it starts all 4 Python workers. After a 1k-doc
# warm-up the timed build ran 20-30% slower than a fully warm one; after
# 20k, about 8%.
WARM_DOCS = 20_000
WARM_FILES = 4
WARM_SEED = 9_000
POOL_SIZE = 600  # serve_hot: distinct queries; all fit both 256 MB caches
POOL_SEED = 7
ZIPF_S = 1.0  # popularity of pool query i is proportional to 1 / (i + 1)
HOT_CYCLE = 1000  # serve_hot requests per Zipf cycle (a run serves a few)
TAIL_SIZE = 100  # serve_tail: queries in the fixed list
TAIL_BLOCK = 25  # serve_tail: queries served per freshly loaded, cold server
TAIL_SEED = 11
GEN_WORKERS = 4


def cache_root() -> str:
    return os.path.join(os.getcwd(), ".bench_cache", "perfbench")


def tree_hash(path: str) -> str:
    """Hash of every file's relative path and bytes under ``path``."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".pyc"):
                continue
            full = os.path.join(dirpath, fn)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def file_hash(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _write_chunk(args: tuple[str, int, int, int]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fulltextsearch_spark.sources.webpages import generate_webpages_pdf

    path, part, seed, n_docs = args
    pdf = generate_webpages_pdf(n_docs, seed=seed, bursty=True)
    pdf["url"] = pdf["url"].str.replace("/page/", f"/p{part}/", regex=False)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")  # Spark rejects NANOS
    tmp = os.path.join(path, f".part-{part:04d}.parquet.tmp")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, os.path.join(path, f"part-{part:04d}.parquet"))


def _generate(ex, path: str, n_files: int, chunk_docs: int, seed: int) -> None:
    os.makedirs(path, exist_ok=True)
    list(ex.map(_write_chunk, [(path, p, seed + p, chunk_docs) for p in range(n_files)]))


def _surface_words(corpus: str) -> tuple[list[str], list[int]]:
    """Distinct whitespace-separated words of the corpus text and their
    counts, without stop words and the per-doc ``marker<i>`` tokens."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from fulltextsearch_spark.functions.tokenizer import STOP_WORDS

    text = ds.dataset(corpus).to_table(columns=["text"]).column("text")
    vc = pc.value_counts(pc.list_flatten(pc.split_pattern(text, " ")))
    pairs = sorted(
        (w, c)
        for w, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist())
        if w and not w.startswith("marker") and w not in STOP_WORDS
    )
    return [w for w, _ in pairs], [c for _, c in pairs]


class Corpus:
    """The cached corpus directories and word table; ``ensure`` makes them."""

    def __init__(self) -> None:
        from fulltextsearch_spark.sources import webpages

        gen_key = file_hash(webpages.__file__)
        self.dir = os.path.join(
            cache_root(), f"corpus-{CORPUS_DOCS}b-s{CORPUS_SEED}-warm{WARM_DOCS}-{gen_key}")
        self.path = os.path.join(self.dir, "docs")
        self.warm_path = os.path.join(self.dir, "warm")
        self.words_path = os.path.join(self.dir, "words.json")
        self.tag = {"n_docs": CORPUS_DOCS, "seed": CORPUS_SEED, "bursty": True}

    def ensure(self) -> float:
        """Generate what is missing; returns the seconds spent generating.
        All of it runs in spawned worker processes, so none of its memory
        counts toward this process's serving peak."""
        import multiprocessing as mp
        import time
        from concurrent.futures import ProcessPoolExecutor

        done = os.path.join(self.dir, "_DONE")
        if os.path.exists(done):
            return 0.0
        t0 = time.perf_counter()
        with ProcessPoolExecutor(GEN_WORKERS, mp_context=mp.get_context("spawn")) as ex:
            _generate(ex, self.path, CORPUS_DOCS // CHUNK_DOCS, CHUNK_DOCS, CORPUS_SEED)
            _generate(ex, self.warm_path, WARM_FILES, WARM_DOCS // WARM_FILES, WARM_SEED)
            words, counts = ex.submit(_surface_words, self.path).result()
        with open(self.words_path, "w") as f:
            json.dump({"words": words, "counts": counts}, f)
        open(done, "w").close()
        return time.perf_counter() - t0

    def words(self) -> tuple[list[str], list[int]]:
        with open(self.words_path) as f:
            d = json.load(f)
        return d["words"], d["counts"]


def hot_pool(words: list[str], counts: list[int]) -> list[tuple[str, str]]:
    """``POOL_SIZE`` queries of 1-4 words, each word drawn by its corpus
    frequency. Fixed for the corpus; the run's seed picks the requests."""
    rng = random.Random(POOL_SEED)
    cum = list(accumulate(counts))
    return [
        (f"h{i:03d}", " ".join(rng.choices(words, cum_weights=cum, k=rng.randint(1, 4))))
        for i in range(POOL_SIZE)
    ]


def zipf_counts() -> list[int]:
    """Requests per pool query in one cycle: ``HOT_CYCLE`` split in
    proportion to 1/(i+1)^s by largest remainder, so the counts sum to
    ``HOT_CYCLE``."""
    w = [1.0 / (i + 1) ** ZIPF_S for i in range(POOL_SIZE)]
    exact = [HOT_CYCLE * x / sum(w) for x in w]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(POOL_SIZE), key=lambda i: (counts[i] - exact[i], i))
    for i in by_remainder[: HOT_CYCLE - sum(counts)]:
        counts[i] += 1
    return counts


def _shuffled(seed: int, base: list) -> Iterator[list]:
    rng = random.Random(seed)
    while True:
        order = base[:]
        rng.shuffle(order)
        yield order


def hot_cycles(seed: int, pool: list[tuple[str, str]]) -> Iterator[list[tuple[str, str]]]:
    """Endless cycles of ``HOT_CYCLE`` pool queries with Zipf popularity,
    in an order the seed shuffles. Each cycle holds every query its exact
    share of times: i.i.d. draws would let the seed decide how often the
    few 50-ms head-term queries come up, and move the run's latency and
    rate by more than the metrics' bounds."""
    base = [q for q, c in zip(pool, zipf_counts()) for _ in range(c)]
    return _shuffled(seed, base)


def tail_list(words: list[str]) -> list[tuple[str, str]]:
    """``TAIL_SIZE`` queries of 2-3 words, words uniform over the distinct
    surface words, so nearly every term is a first sighting. Fixed for the
    corpus: a list drawn per seed let the seed move the latency figures."""
    rng = random.Random(TAIL_SEED)
    return [
        (f"t{i:03d}", " ".join(rng.choice(words) for _ in range(rng.randint(2, 3))))
        for i in range(TAIL_SIZE)
    ]


def tail_blocks(seed: int, words: list[str]) -> Iterator[list[tuple[str, str]]]:
    """Endless blocks of ``TAIL_BLOCK`` queries: passes over the tail list,
    each in an order the seed shuffles, cut into blocks."""
    for order in _shuffled(seed, tail_list(words)):
        for i in range(0, TAIL_SIZE, TAIL_BLOCK):
            yield order[i:i + TAIL_BLOCK]
