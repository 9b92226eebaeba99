"""The workloads.  Each one sets up, runs its timed loop for the
requested number of seconds, then checks every result outside the
timed window.  Every call into the library sits inside a tracer span
named after the module and function it calls."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np

from streams import SHAPES, query_stream

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: index layout for every index the benchmark builds: ``bench.py``'s
#: at its default 32 cores (doc-id buckets 2 x cores, 4 term buckets,
#: the library's default 64 key buckets), scaled to the cores the run
#: has, with one shuffle partition per core -- see README.md for the
#: measurements behind the scaling
CONFIG = dict(key_col="url", fields={"text": "standard", "lang": None},
              tbuckets=4)

#: bulk_build source size, in copies of the 5k-document corpus, and
#: builds per timed block (one cold, one warm: a run measures two)
BULK_REPLICATE = 3
BULK_BLOCK = 2
#: spark_search: shapes asked twice per block of the query stream.
#: The match-family queries form the slow latency cluster; weighting
#: them puts the median inside that cluster instead of in the gap
#: below it (see README.md).  The timed loop stops after whole blocks,
#: so every run has the same mix.
SEARCH_WEIGHTS = {"match_or": 2, "match_and": 2, "filtered": 2,
                  "dis_max": 2}
SEARCH_BLOCK = sum(SEARCH_WEIGHTS.get(s, 1) for s in SHAPES)
#: upsert_merge: documents per upsert batch (UPSERT_NEW of them new
#: keys, so both the replace and the insert branch of an upsert run
#: in every batch), deletes per batch, and GETs per batch while the
#: deletion list is pending (updated, deleted and untouched keys in
#: thirds)
UPSERT_BATCH = 250
UPSERT_NEW = 25
DELETES_PER_BATCH = 10
PENDING_GETS = 6


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    ops_per_s: float = 0.0
    p50_ms: float = 0.0
    slow_op_ms: float = 0.0
    index_bytes_per_input_byte: float = 0.0
    setup_s: float = 0.0
    notes: Dict[str, object] = field(default_factory=dict)
    failures: List[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    ncpu: int
    process_t0: float
    index_dirs: List[str] = field(default_factory=list)
    source_dir: str = ""


# -- helpers -----------------------------------------------------------

def shuffle_partitions(ncpu: int) -> int:
    """One shuffle partition per core, for the session and the builds
    (``bench.py``'s max(16, 2 x cores) only adds per-task cost on
    5k-15k documents)."""
    return ncpu


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def input_bytes(source_dir: str) -> int:
    """UTF-8 bytes of the indexed columns (key, text, lang)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    tbl = pq.read_table(source_dir, columns=["url", "text", "lang"])
    return sum(int(pc.sum(pc.binary_length(tbl.column(c))).as_py() or 0)
               for c in ("url", "text", "lang"))


def percentile(values: List[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(np.ceil(q * len(s))) - 1))]


def corpus_vocab():
    """(vocabulary, languages) of the fixed corpus, the vocabulary as
    the library's standard analyzer sees it."""
    import pyarrow.parquet as pq

    from rusticsearch_spark.analysis.analyzers import standard_analyzer
    tbl = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"),
                        columns=["text", "lang"])
    terms = standard_analyzer().terms
    vocab = sorted({t for text in tbl.column("text").to_pylist()
                    for t in terms(text)})
    langs = sorted(set(tbl.column("lang").to_pylist()))
    return vocab, langs


def source_df(source_dir: str, words: List[str]) -> Dict[str, int]:
    """Document frequency of ``words`` in the source's text column,
    by the standard analyzer on the driver."""
    import pyarrow.parquet as pq

    from rusticsearch_spark.analysis.analyzers import standard_analyzer
    terms = standard_analyzer().terms
    want = set(words)
    df = dict.fromkeys(words, 0)
    for text in pq.read_table(source_dir, columns=["text"]).column(0) \
            .to_pylist():
        for t in want.intersection(terms(text)):
            df[t] += 1
    return df


def materialize(ctx: Ctx, replicate: int) -> str:
    """Render the webtext table over the fixed corpus and write it as
    parquet (every run does this; nothing is reused across runs)."""
    from rusticsearch_spark.synth.webtext import webtext_table
    out = os.path.join(ctx.work, f"source_x{replicate}")
    with ctx.tracer.span("synth.materialize"):
        wt = webtext_table(ctx.spark, DATA_DIR, replicate=replicate)
        wt.repartition(ctx.ncpu).write.mode("overwrite").parquet(out)
    ctx.source_dir = out
    return out


def build(ctx: Ctx, source: str, index_dir: str) -> dict:
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    shutil.rmtree(index_dir, ignore_errors=True)
    cfg = IndexConfig(n_buckets=2 * ctx.ncpu,
                      shuffle_partitions=shuffle_partitions(ctx.ncpu),
                      **CONFIG)
    with ctx.tracer.span("index.build.build_index"):
        docs = ctx.spark.read.parquet(source)
        report = build_index(ctx.spark, docs, index_dir, cfg)
    ctx.index_dirs.append(index_dir)
    return report


def oracle_for(index_dir: str):
    """Pure-Python oracle over exactly the index's live (doc_id, text,
    lang) rows."""
    import pyarrow.dataset as ds

    from rusticsearch_spark.oracle.engine import OracleIndex
    tbl = ds.dataset(os.path.join(index_dir, "docs"), format="parquet",
                     partitioning="hive").to_table(
        columns=["doc_id", "text", "lang"])
    rows = sorted(zip(tbl.column("doc_id").to_pylist(),
                      tbl.column("text").to_pylist(),
                      tbl.column("lang").to_pylist()))
    o = OracleIndex({"text": "standard", "lang": None})
    for doc_id, text, lang in rows:
        o.add(doc_id, {"text": text, "lang": lang})
    return o


def check_against_oracle(res: Result, oracle, local, stream) -> None:
    """One query per shape (the first of each in the seeded stream):
    top-10 doc ids equal, scores within the f32 tolerance the repo's
    rank-identity tests use."""
    seen = set()
    for shape, q in stream:
        if shape in seen:
            continue
        seen.add(shape)
        res.attempted += 1
        if q is None:
            if local.count() != len(oracle.doc_ids):
                res.fail(f"oracle count_all {local.count()}")
            continue
        got = local.search(q, size=10)
        want = oracle.search(local.parse(q), k=10)
        if [g[0] for g in got] != [w[0] for w in want] or not np.allclose(
                [g[1] for g in got], [w[1] for w in want],
                rtol=2e-6, atol=1e-7):
            res.fail(f"oracle {shape} {q}")


def timed_loop(seconds: float, ops: Callable[[int], object],
               block: int = 1) -> tuple:
    """Run ``ops(i)`` for i = 0, 1, ... until ``seconds`` have passed,
    stopping only after a whole number of ``block``s (so every run
    measures the same number of slow operations); returns (latencies
    in seconds, wall seconds)."""
    lat: List[float] = []
    t_start = time.perf_counter()
    i = 0
    while True:
        t0 = time.perf_counter()
        ops(i)
        lat.append(time.perf_counter() - t0)
        i += 1
        if i % block == 0 and time.perf_counter() - t_start >= seconds:
            break
    return lat, time.perf_counter() - t_start


def index_ratio(res: Result, index_dir: str, source_dir: str) -> float:
    res.notes["input_bytes"] = input_bytes(source_dir)
    return dir_bytes(index_dir) / res.notes["input_bytes"]


# -- workloads ---------------------------------------------------------

def bulk_build(ctx: Ctx) -> Result:
    """Fresh builds of a source several times the corpus size."""
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.term_dict import TermDictReader
    import pyarrow.parquet as pq
    res = Result()
    source = materialize(ctx, BULK_REPLICATE)
    res.setup_s = time.monotonic() - ctx.process_t0
    builds: List[tuple] = []

    def op(i: int) -> None:
        d = os.path.join(ctx.work, f"bulk_{i}")
        t0 = time.perf_counter()
        report = build(ctx, source, d)
        builds.append((d, report, time.perf_counter() - t0))

    lat, _ = timed_loop(ctx.seconds, op, BULK_BLOCK)
    # checks, outside the timed window: every build holds every doc,
    # and the dictionary df of seeded words equals the df the
    # driver-side analyzer finds in the source
    n_docs = pq.ParquetDataset(source).read(columns=["url"]).num_rows
    words = random.Random(ctx.seed).sample(corpus_vocab()[0], 3)
    want_df = source_df(source, words)
    for d, report, _ in builds:
        res.attempted += 1
        got_docs = sum(j["n_docs"] for j in report["jobs"])
        reader = TermDictReader(IndexLayout(d))
        bad = [w for w in words
               if reader.lookup_one("text", w)[0] != want_df[w]]
        if got_docs != n_docs or bad:
            res.fail(f"build {d}: docs {got_docs}/{n_docs}, df {bad}")
    # builds come in (cold, warm) pairs: the warm build runs right
    # after the cold one, in a JVM and Python workers it has warmed
    res.ops_per_s = n_docs * len(lat) / sum(lat)
    res.p50_ms = statistics.median(lat[1::BULK_BLOCK]) * 1e3
    res.slow_op_ms = statistics.median(lat[0::BULK_BLOCK]) * 1e3
    res.index_bytes_per_input_byte = index_ratio(res, builds[-1][0], source)
    res.notes["n_docs"] = n_docs
    res.notes["builds"] = len(lat)
    for d, _, _ in builds[:-1]:
        shutil.rmtree(d, ignore_errors=True)
    return res


def spark_search(ctx: Ctx) -> Result:
    """A seeded closed loop, one client, of the eight ``bench.py``
    query shapes over SearchEngine in Spark mode (postings read from
    disk on every query, the library default).  Every distinct
    query's top-10 must equal LocalSearcher's in doc ids and f32
    scores, and LocalSearcher must match the oracle on one query per
    shape."""
    import json

    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    res = Result()
    tr = ctx.tracer
    source = materialize(ctx, 1)
    idx = os.path.join(ctx.work, "index")
    build(ctx, source, idx)
    with tr.span("query.engine.open"):
        eng = SearchEngine(ctx.spark, idx)
    res.setup_s = time.monotonic() - ctx.process_t0
    vocab, langs = corpus_vocab()
    for shape, q in query_stream(ctx.seed + 1, len(SHAPES), vocab,
                                 langs):
        _spark_query(tr, eng, shape, q, "warm")
    stream = query_stream(ctx.seed, 100_000, vocab, langs, SEARCH_WEIGHTS)
    results = []

    def op(i: int) -> None:
        shape, q = stream[i]
        try:
            out = _spark_query(tr, eng, shape, q, f"q{i}")
        except Exception as e:             # counted, and the loop goes on
            out = e
        results.append((shape, q, out))

    lat, wall = timed_loop(ctx.seconds, op, SEARCH_BLOCK)
    res.ops_per_s = len(lat) / wall
    res.p50_ms = statistics.median(lat) * 1e3
    res.slow_op_ms = percentile(lat, 0.90) * 1e3
    res.index_bytes_per_input_byte = index_ratio(res, idx, source)
    res.notes["queries"] = len(lat)
    res.notes["p50_ms_by_shape"] = {
        shape: round(1e3 * statistics.median(
            t for (s, _, _), t in zip(results, lat) if s == shape), 2)
        for shape in SHAPES}
    # checks, outside the timed window
    local = LocalSearcher(idx)
    done = set()
    for shape, q, out in results:
        res.attempted += 1
        if isinstance(out, Exception):
            res.fail(f"spark {shape} raised {out!r}")
            continue
        key = json.dumps(q, sort_keys=True)
        if key in done:
            continue
        done.add(key)
        want = local.count() if q is None else local.search(q, size=10)
        if q is None:
            ok = out == want
        else:
            ok = ([d for d, _ in out] == [d for d, _ in want]
                  and np.array_equal(np.float32([s for _, s in out]),
                                     np.float32([s for _, s in want])))
        if not ok:
            res.fail(f"spark vs local {shape} {q}: {out} != {want}")
    check_against_oracle(res, oracle_for(idx), local,
                         [(shape, q) for shape, q, _ in results])
    return res


def _spark_query(tr, eng, shape: str, q: Optional[dict], rid: str):
    with tr.span("request", rid=rid, shape=shape):
        if q is None:
            with tr.span("query.engine.count", shape=shape):
                return eng.count()
        with tr.span("query.engine.search", shape=shape):
            frame = eng.search(q, size=10)
        with tr.span("query.engine.collect", shape=shape):
            rows = frame.collect()
        return [(r.doc_id, r.score) for r in rows]


def upsert_merge(ctx: Ctx) -> Result:
    """Upsert batches through the streaming ingester, one delete call
    per batch and point GETs while the deletion list is pending; then
    a full merge and GETs on the clean index."""
    import pyarrow.parquet as pq

    from rusticsearch_spark.cluster import Cluster
    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.merge import maintenance
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    res = Result()
    tr = ctx.tracer
    spark = ctx.spark
    root = os.path.join(ctx.work, "cluster")
    source = materialize(ctx, 1)
    idx = os.path.join(root, "pages")
    build(ctx, source, idx)
    cluster = Cluster(spark, root)
    cluster.create_index("pages", {"properties": {
        "text": {"type": "string"},
        "lang": {"type": "string", "index": "not_analyzed"}}},
        key_col="url")
    ingester = StreamingIngester(spark, idx, upsert=True)
    res.setup_s = time.monotonic() - ctx.process_t0
    vocab, langs = corpus_vocab()
    tbl = pq.read_table(source, columns=["url", "text", "lang"])
    # expected state: key -> (text, lang), or None once deleted
    state: Dict[str, Optional[tuple]] = {
        u: (t, l) for u, t, l in zip(tbl.column("url").to_pylist(),
                                     tbl.column("text").to_pylist(),
                                     tbl.column("lang").to_pylist())}
    untouched = set(state)
    rng = random.Random(ctx.seed)
    ingest_s: List[float] = []
    ingest_docs = 0
    pending_lat: List[float] = []

    def get(key: str, phase: str) -> float:
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("cluster.get_document", phase=phase):
                row = cluster.get_document("pages", key)
        except Exception as e:
            res.fail(f"GET {key} raised {e!r}")
            return time.perf_counter() - t0
        took = time.perf_counter() - t0
        want = state[key]
        got = None if row is None else (row["text"], row["lang"])
        if got != want:
            res.fail(f"GET {key} ({phase}): {got!r} != {want!r}")
        return took

    def op(b: int) -> None:
        nonlocal ingest_docs
        live = sorted(k for k, v in state.items() if v is not None)
        upd = rng.sample(live, UPSERT_BATCH - UPSERT_NEW)
        new = [f"https://new.example.org/b{b}/doc/{i}"
               for i in range(UPSERT_NEW)]
        rows = []
        for k in upd:
            text, lang = state[k]
            rows.append((k, f"upd{b} " + " ".join(rng.sample(vocab, 5))
                         + " " + text, lang))
        for k in new:
            rows.append((k, " ".join(rng.choice(vocab) for _ in range(30)),
                         rng.choice(langs)))
        batch = spark.createDataFrame(rows,
                                      "url string, text string, lang string")
        res.attempted += 1
        t0 = time.perf_counter()
        with tr.span("streaming.ingest.process_batch", batch=b,
                     keys=[r[0] for r in rows]):
            ingester.process_batch(batch, b)
        ingest_s.append(time.perf_counter() - t0)
        ingest_docs += len(rows)
        for k, text, lang in rows:
            state[k] = (text, lang)
        untouched.difference_update(upd)
        upd_set = set(upd)
        gone = rng.sample(sorted(k for k in live if k not in upd_set),
                          DELETES_PER_BATCH)
        res.attempted += 1
        with tr.span("index.delete.delete_documents"):
            n = delete_documents(spark, idx, keys=gone)
        if n != len(gone):
            res.fail(f"delete resolved {n} of {len(gone)}")
        for k in gone:
            state[k] = None
        untouched.difference_update(gone)
        cluster.refresh("pages")
        with tr.span("cluster.engine"):
            cluster.engine("pages")
        per = PENDING_GETS // 3
        for k in (rng.sample(upd, per) + rng.sample(gone, per)
                  + rng.sample(sorted(untouched), PENDING_GETS - 2 * per)):
            pending_lat.append(get(k, "pending"))

    batch_lat, _ = timed_loop(ctx.seconds, op)
    res.attempted += 1
    res.notes["merge_jobs_in"] = len(IndexLayout(idx).completed_jobs_local())
    t0 = time.perf_counter()
    with tr.span("index.merge.maintenance"):
        maintenance(spark, idx, max_jobs=0)
    res.slow_op_ms = (time.perf_counter() - t0) * 1e3
    res.notes["merge_bytes_out"] = dir_bytes(idx)
    cluster.refresh("pages")
    with tr.span("cluster.engine"):
        cluster.engine("pages")
    # clean GETs: a timed loop of its own, so the GET latency samples
    # spread over seconds rather than one burst
    keys = sorted(state)
    get_keys = [rng.choice(keys) for _ in range(200_000)]
    get_lat, _ = timed_loop(ctx.seconds, lambda i: get(get_keys[i], "clean"))
    res.attempted += 1
    live_n = sum(v is not None for v in state.values())
    with tr.span("cluster.count"):
        n = cluster.count("pages")
    if n != live_n:
        res.fail(f"post-merge count {n} != {live_n}")
    res.ops_per_s = ingest_docs / sum(ingest_s)
    res.p50_ms = statistics.median(get_lat) * 1e3
    res.notes["batches"] = len(batch_lat)
    res.notes["gets"] = len(get_lat)
    res.notes["get_p90_ms"] = percentile(get_lat, 0.90) * 1e3
    res.notes["pending_get_p50_ms"] = statistics.median(pending_lat) * 1e3
    res.notes["input_bytes"] = _live_input_bytes(state)
    res.index_bytes_per_input_byte = dir_bytes(idx) / res.notes["input_bytes"]
    return res


def _live_input_bytes(state: Dict[str, Optional[tuple]]) -> int:
    return sum(len(k.encode()) + len(v[0].encode()) + len(v[1].encode())
               for k, v in state.items() if v is not None)


WORKLOADS = {
    "bulk_build": bulk_build,
    "spark_search": spark_search,
    "upsert_merge": upsert_merge,
}
