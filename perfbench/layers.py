"""Per-layer metrics of the traced run.

Two sources feed them:

* spans around the workload's own calls (self time, and the Spark
  jobs, stages, tasks and bytes charged to each span from the event
  log) — see :func:`from_spans`;
* probes that call one module's public functions directly on the
  index the workload left behind, after its timed window — see
  :func:`measure`.  Probes that need Spark run before the session
  stops.

A layer the workload never calls reports 0.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from typing import Dict, List

import numpy as np

from streams import SHAPES, query_stream
from workloads import Ctx, Result, corpus_vocab, dir_bytes

_PER_QUERY = (("plan_ms", "ms"), ("exec_ms", "ms"),
              ("jobs_per_query", "count"), ("stages_per_query", "count"),
              ("tasks_per_query", "count"),
              ("scan_bytes_per_query", "bytes"),
              ("shuffle_bytes_per_query", "bytes"))

PER_LAYER: Dict[str, str] = {
    "analysis.tokenize_s": "s",
    "analysis.driver_tokens_per_s": "1/s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.executor_run_s": "s",
    "build.gc_s": "s",
    "build.shuffle_write_bytes": "bytes",
    "build.postings": "count",
    "build.posting_blocks": "count",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "bytes.postings": "ratio",
    "bytes.docs": "ratio",
    "bytes.term_dict": "ratio",
    "bytes.doc_index": "ratio",
    "term_dict.lookup_us": "us",
    "term_dict.prefix_us": "us",
    "doc_index.lookup_us": "us",
    "doc_index.resolve_s": "s",
    "delete.s": "s",
    "merge.s": "s",
    "merge.jobs_in": "count",
    "merge.bytes_rewritten": "bytes",
    "ingest.batch_s": "s",
    "ingest.jobs_per_batch": "count",
    "ingest.stages_per_batch": "count",
    "ingest.tasks_per_batch": "count",
    "dsl.parse_us": "us",
    "engine.open_s": "s",
    **{f"engine.{m}": u for m, u in _PER_QUERY},
    **{f"engine.{m}.{s}": u for m, u in _PER_QUERY for s in SHAPES},
    "local.open_s": "s",
    "local.open_lazy_s": "s",
    **{f"local.search_us.{s}": "us" for s in SHAPES},
    "cluster.get_pending_ms": "ms",
    "cluster.get_clean_ms": "ms",
    "cluster.get_jobs": "count",
    "synth.materialize_s": "s",
    "traced.setup_s": "s",
    "traced.ops_per_s": "1/s",
    "traced.p50_ms": "ms",
}


def _median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _timed(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return _median(out)


def measure(ctx: Ctx, res: Result) -> Dict[str, float]:
    """Probe each layer's public functions on the workload's index."""
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.term_dict import TermDictReader
    from rusticsearch_spark.query.local import LocalSearcher
    idx = ctx.index_dirs[-1]
    layout = IndexLayout(idx)
    config = layout.read_config()
    jobs = layout.completed_jobs_local()
    out: Dict[str, float] = {}
    vocab, langs = corpus_vocab()

    out.update(_analysis(ctx, config))
    out.update(_codec(layout, jobs))
    in_bytes = res.notes["input_bytes"]
    for name in ("postings", "docs", "term_dict", "doc_index"):
        out[f"bytes.{name}"] = dir_bytes(os.path.join(idx, name)) / in_bytes

    reader = TermDictReader(layout, jobs)
    out["term_dict.lookup_us"] = 1e6 * _median(
        [_timed(lambda w=w: reader.lookup_one("text", w), 1) for w in vocab])
    prefixes = sorted({w[:2] for w in vocab if len(w) >= 2})
    out["term_dict.prefix_us"] = 1e6 * _median(
        [_timed(lambda p=p: reader.prefix_stats(p), 1) for p in prefixes])

    from rusticsearch_spark.index.doc_index import lookup_key_driver
    import pyarrow.dataset as ds
    keys = ds.dataset(os.path.join(idx, "docs"), format="parquet",
                      partitioning="hive").to_table(
        columns=[config.key_col]).column(0).to_pylist()
    sample = random.Random(ctx.seed).sample(sorted(keys), 20)
    out["doc_index.lookup_us"] = 1e6 * _median(
        [_timed(lambda k=k: lookup_key_driver(layout, config, jobs, k), 1)
         for k in sample])
    out["doc_index.resolve_s"] = _resolve(ctx, layout, config)

    stream = query_stream(ctx.seed, 400, vocab, langs)
    local = LocalSearcher(idx)
    for i, (shape, q) in enumerate(stream[:21 * len(SHAPES)]):
        if i < len(SHAPES):                 # warm-up block
            local.count() if q is None else local.search(q, size=10)
            continue
        with ctx.tracer.span("query.local.search", shape=shape):
            local.count() if q is None else local.search(q, size=10)
    out["local.open_s"] = _timed(lambda: LocalSearcher(idx))
    lazy = LocalSearcher(idx, lazy=True)
    out["local.open_lazy_s"] = _timed(lambda: LocalSearcher(idx, lazy=True))
    parse_s = []
    for _, q in stream:
        if q is not None:
            t0 = time.perf_counter()
            lazy.parse(q)
            parse_s.append(time.perf_counter() - t0)
    out["dsl.parse_us"] = 1e6 * _median(parse_s)
    return out


def _analysis(ctx: Ctx, config) -> Dict[str, float]:
    """The build's tokenizer expression over the workload's source
    (SQL path for rows the SQL tokenizer can take, the pandas UDF for
    the rest — the same split ``build_index`` makes), into a no-op
    sink; and the driver-side analyzer over a fixed doc sample."""
    from pyspark.sql import functions as F

    from rusticsearch_spark.analysis.analyzers import AnalyzerRegistry
    from rusticsearch_spark.index.build import (SQL_UNSAFE_CHAR,
                                                sql_terms_column,
                                                tokenize_udf)
    analyzer = AnalyzerRegistry().get(config.fields["text"])
    src = ctx.spark.read.parquet(ctx.source_dir).select("text")
    unsafe = F.col("text").rlike(SQL_UNSAFE_CHAR)
    terms = (src.where(~unsafe).select(
        sql_terms_column(analyzer.sql_kind, F.col("text")).alias("t"))
        .unionByName(src.where(unsafe).select(
            tokenize_udf(analyzer)(F.col("text")).alias("t"))))
    tok_s = _timed(lambda: terms.write.format("noop").mode("overwrite")
                   .save())
    import pyarrow.parquet as pq
    src_tbl = pq.read_table(ctx.source_dir, columns=["url", "text"])
    texts = [t for _, t in sorted(zip(src_tbl.column("url").to_pylist(),
                                      src_tbl.column("text").to_pylist()))
             ][:1000]
    n_tok = sum(len(analyzer.analyze(t)) for t in texts)
    drv_s = _timed(lambda: [analyzer.analyze(t) for t in texts])
    return {"analysis.tokenize_s": tok_s,
            "analysis.driver_tokens_per_s": n_tok / drv_s}


def _codec(layout, jobs) -> Dict[str, float]:
    """Vectorised decode of every posting block of the artifact, and a
    per-block re-encode of the decoded postings."""
    import pyarrow.dataset as ds

    from rusticsearch_spark.index.codec import (decode_blocks_concat,
                                                encode_block)
    parts = [ds.dataset(layout.job_dir("postings", j), format="parquet",
                        partitioning="hive") for j in jobs]
    tbl = ds.dataset(parts).to_table(
        columns=["segment", "doc_bytes", "tf_bytes", "len_bytes"])

    def concat(col: str):
        vals = tbl.column(col).to_pylist()
        offs = np.zeros(len(vals) + 1, dtype=np.int64)
        np.cumsum([len(v) for v in vals], out=offs[1:])
        return np.frombuffer(b"".join(vals), dtype=np.uint8), offs

    seg = tbl.column("segment").to_numpy()
    doc, doc_o = concat("doc_bytes")
    tf, tf_o = concat("tf_bytes")
    ln, ln_o = concat("len_bytes")
    ids, tfs, lens, counts = decode_blocks_concat(seg, doc, doc_o, tf, tf_o,
                                                  ln, ln_o)
    n = int(ids.size)
    dec_s = _timed(lambda: decode_blocks_concat(seg, doc, doc_o, tf, tf_o,
                                                ln, ln_o), 5)
    bounds = np.concatenate([[0], np.cumsum(counts)])

    def encode_all():
        for i in range(counts.size):
            a, b = bounds[i], bounds[i + 1]
            encode_block(ids[a:b], tfs[a:b], lens[a:b])

    enc_s = _timed(encode_all)
    return {"codec.decode_postings_per_s": n / dec_s,
            "codec.encode_postings_per_s": n / enc_s,
            "build.postings": n, "build.posting_blocks": int(counts.size)}


def _resolve(ctx: Ctx, layout, config) -> float:
    """``resolve_keys`` over each upsert batch's keys (first two
    batches), against the merged index; 0 without batches."""
    from rusticsearch_spark.index.doc_index import resolve_keys
    times = []
    for s in ctx.tracer.named("streaming.ingest.process_batch")[:2]:
        keys = ctx.spark.createDataFrame([(k,) for k in s["keys"]],
                                         f"{config.key_col} string")
        t0 = time.perf_counter()
        resolve_keys(ctx.spark, layout, config, keys).count()
        times.append(time.perf_counter() - t0)
    return _median(times)


def from_spans(tracer, probes: Dict[str, float], res: Result
               ) -> Dict[str, dict]:
    """Every PER_LAYER metric, from the attributed spans (self time)
    and the probe values; units attached."""
    m: Dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m.update(probes)
    st = tracer.self_times()

    builds = tracer.named("index.build.build_index")
    if builds:
        m["build.wall_s"] = _median([st[s["id"]] for s in builds])
        for k, src, scale in (("jobs", "jobs", 1), ("stages", "stages", 1),
                              ("tasks", "tasks", 1),
                              ("executor_run_s", "run_ms", 1e-3),
                              ("gc_s", "gc_ms", 1e-3),
                              ("shuffle_write_bytes", "shuffle_write_bytes",
                               1)):
            m[f"build.{k}"] = _median([s[src] * scale for s in builds])
    mat = tracer.named("synth.materialize")
    m["synth.materialize_s"] = _median([st[s["id"]] for s in mat])

    opens = tracer.named("query.engine.open")
    m["engine.open_s"] = _median([st[s["id"]] for s in opens])
    _engine(tracer, st, m)

    for shape in SHAPES:
        ss = [s for s in tracer.named("query.local.search")
              if s.get("shape") == shape]
        m[f"local.search_us.{shape}"] = 1e6 * _median(
            [st[s["id"]] for s in ss])

    batches = tracer.named("streaming.ingest.process_batch")
    if batches:
        m["ingest.batch_s"] = _median([st[s["id"]] for s in batches])
        first = batches[0]          # counts: first batch, same every run
        m["ingest.jobs_per_batch"] = first["jobs"]
        m["ingest.stages_per_batch"] = first["stages"]
        m["ingest.tasks_per_batch"] = first["tasks"]
    m["delete.s"] = _median(
        [st[s["id"]] for s in tracer.named("index.delete.delete_documents")])
    merges = tracer.named("index.merge.maintenance")
    if merges:
        m["merge.s"] = st[merges[0]["id"]]
        m["merge.jobs_in"] = res.notes["merge_jobs_in"]
        m["merge.bytes_rewritten"] = res.notes["merge_bytes_out"]
    gets = tracer.named("cluster.get_document")
    pend = [s for s in gets if s.get("phase") == "pending"]
    clean = [s for s in gets if s.get("phase") == "clean"]
    m["cluster.get_pending_ms"] = 1e3 * _median([st[s["id"]] for s in pend])
    m["cluster.get_clean_ms"] = 1e3 * _median([st[s["id"]] for s in clean])
    if clean:
        m["cluster.get_jobs"] = sum(s["jobs"] for s in clean) / len(clean)

    m["traced.setup_s"] = res.setup_s
    m["traced.ops_per_s"] = res.ops_per_s
    m["traced.p50_ms"] = res.p50_ms
    return {k: {"value": float(m[k]), "unit": u} for k, u in PER_LAYER.items()}


def _engine(tracer, st: Dict[int, float], m: Dict[str, float]) -> None:
    """Per-shape Spark-lane numbers from spark_search's queries.  Times
    are medians over the shape's timed queries; counts and bytes are
    those of the shape's first timed query, so they repeat
    exactly for a seed."""
    reqs = [s for s in tracer.named("request") if s["rid"] != "warm"]
    if not reqs:
        return
    kids: Dict[int, List[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    per_shape: Dict[str, Dict[str, float]] = {}
    for shape in SHAPES:
        mine = [r for r in reqs if r["shape"] == shape]
        if not mine:
            continue
        plan = [sum(st[k["id"]] for k in kids.get(r["id"], [])
                    if k["name"] in ("query.engine.search",
                                     "query.engine.count")) for r in mine]
        exe = [sum(st[k["id"]] for k in kids.get(r["id"], [])
                   if k["name"] == "query.engine.collect") for r in mine]
        first = mine[0]
        vals = {
            "plan_ms": 1e3 * _median(plan),
            "exec_ms": 1e3 * _median(exe),
            "jobs_per_query": first["jobs"],
            "stages_per_query": first["stages"],
            "tasks_per_query": first["tasks"],
            "scan_bytes_per_query": first["input_bytes"],
            "shuffle_bytes_per_query": first["shuffle_write_bytes"],
        }
        per_shape[shape] = vals
        for k, v in vals.items():
            m[f"engine.{k}.{shape}"] = v
    for k, _ in _PER_QUERY:
        m[f"engine.{k}"] = statistics.mean(v[k] for v in per_shape.values())
