"""Round-7 measurement harness (guide §1): per-query isolation over
the SAME artifact/config as bench.py, plus plan capture and Spark
job/stage accounting.

This file is NOT the frozen driver bench — it exists so optimization
evidence (job counts, exchange counts, explain output) can be
captured without touching bench.py.  Methodology per query matches
bench.py exactly (warmup + timed ``.collect()`` of the top-10 frame);
additionally each timed query runs inside its own job group so the
per-query Spark job count is exact.  Each shape's ``count(q)`` is
timed and counted the same way, next to its ``search(q)``, and so is
the planning alone (``engine.search(q)`` without the collect, no Spark
job).  ``EXTRA_QUERIES`` (a 64-term ``match``) follow the bench shapes.

Usage:
    python bench_extra.py [--plans-dir plans/r07 --suffix before]
Outputs one JSON line per query:
    {"query": name, "median_sec": s, "runs": [...], "n_jobs": j,
     "n_stages_total": st, "n_tasks_total": t, "plan_median_ms": ms,
     "count_median_sec": s, "count_n_jobs": j, ...}

Write-path sweep (the evidence behind the driver write path):
    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SHUFFLE=4 \
        python bench_extra.py --write-sweep OUT.jsonl
Upserts batches of 250, 1k, 4k, 16k and 64k documents (~400 bytes, 90%
updates) into copies of one base index, through the driver path and
the Spark path (``StreamingIngester._on_driver`` patched to False),
twice each, interleaved; then times a 10-key ``delete_documents`` on
both paths (the Spark one forced by patching ``delete.key_is_string``
to False) at 1, 5 and 17 committed jobs.
One JSON line per call, with its wall time and Spark jobs, printed
and written to OUT.jsonl.

Key-resolve sweep (how ``doc_index.resolve_keys_driver`` scales):
    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SHUFFLE=4 \
        python bench_extra.py --resolve-sweep OUT.jsonl
Writes synthetic doc_index sidecars of 2^20 to 2^26 (key, doc_id)
rows over 4 committed jobs and 64 kbuckets (~40-byte URL keys), then
times ``delete_documents`` of 10 and 250 present string keys with the
resolve on the driver and through Spark (``delete.key_is_string``
patched to False), three times each,
interleaved.  One JSON line per call, with the bytes of the sidecar
files the keys touch, wall time and Spark jobs.

Decode-task sweep (the evidence behind
``SearchEngine.POSTINGS_PER_DECODE_TASK``):
    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SHUFFLE=4 \
        python bench_extra.py --decode-sweep OUT.jsonl
Builds indexes of the corpus x1, x4 and x16 and runs ``match`` queries
of 1 to 31 of its words (postings read from disk) with the decode in
one task, sized by the constant, and with the scan's own split (the
constant patched to 2^62, as it is, and patched to 1), three times
each, interleaved, after one warm-up of each.  One JSON line per
call, with the query's postings (Σdf), wall time, and Spark jobs and
tasks.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "scripts"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("SPARK_GRAFT_QUERY_RUNS", "5"))

def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for this host: half its RAM, at most
    bench.py's 24g and at least 1g (24g on a 15 GB host would let the
    driver heap grow past the machine).  ``SPARK_GRAFT_DRIVER_MEM``
    overrides it."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{max(1, min(24, kb // (2 << 20)))}g"


BENCH_QUERIES = [
    ("term", {"term": {"text": "merge"}}),
    ("match_or", {"match": {"text": "spark query data"}}),
    ("match_and", {"match": {"text": {"query": "table scan",
                                      "operator": "and"}}}),
    ("prefix", {"prefix": {"text": "sc"}}),
    ("filtered", {"filtered": {"query": {"match": {"text": "hash join"}},
                               "filter": {"term": {"lang": "en"}}}}),
    ("dis_max", {"multi_match": {"query": "window merge",
                                 "fields": ["text^2", "lang"]}}),
    ("not", {"not": {"term": {"lang": "en"}}}),
    ("count_all", None),
]

#: past the bench shapes: a ``match`` of 64 distinct terms (the
#: corpus's 31 words and 33 it lacks), one fused decode of 64 leaves
EXTRA_QUERIES = [
    ("match_64", {"match": {"text": " ".join(
        "a agg batch big column customer data dup fast filter group hash "
        "join key line merge order part query row scan slow small sort "
        "spark stream table the value vector window".split()
        + [f"unseen{i}" for i in range(33)])}}),
]


def measure(sc, group: str, fn) -> dict:
    """Warm ``fn`` up, then time RUNS calls of it inside job group
    ``group``: run times and the Spark jobs, stages and tasks they
    ran."""
    tracker = sc.statusTracker()
    fn()
    runs = []
    sc.setJobGroup(group, group)
    jobs_before = set(tracker.getJobIdsForGroup(group))
    try:
        for _ in range(RUNS):
            t0 = time.monotonic()
            fn()
            runs.append(time.monotonic() - t0)
    finally:
        sc.setJobGroup(None, None)
    new_jobs = sorted(set(tracker.getJobIdsForGroup(group)) - jobs_before)
    n_stages = 0
    n_tasks = 0
    for j in new_jobs:
        ji = tracker.getJobInfo(j)
        if ji is None:
            continue
        for st in ji.stageIds:
            si = tracker.getStageInfo(st)
            if si is not None:
                n_stages += 1
                n_tasks += si.numTasks
    runs.sort()
    return {
        "median_sec": round(runs[len(runs) // 2], 4),
        "min_sec": round(runs[0], 4),
        "runs": [round(r, 4) for r in runs],
        "n_jobs": len(new_jobs) // RUNS,
        "n_jobs_total": len(new_jobs),
        "n_stages_total": n_stages,
        "n_tasks_total": n_tasks,
    }


def session():
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName(f"rusticsearch-bench-extra-{CPUS}")
             .config("spark.sql.shuffle.partitions",
                     os.environ.get("SPARK_GRAFT_SHUFFLE",
                                    str(max(16, 2 * CPUS))))
             .config("spark.sql.files.maxPartitionBytes",
                     os.environ.get("SPARK_GRAFT_MAX_PART", "32m"))
             .config("spark.sql.files.openCostInBytes", "1m")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                     os.environ.get("SPARK_GRAFT_ARROW_BATCH", "32768"))
             .config("spark.sql.adaptive.enabled",
                     "true" if os.environ.get("SPARK_GRAFT_AQE",
                                              "0") == "1" else "false")
             .config("spark.buffer.pageSize",
                     os.environ.get("SPARK_GRAFT_PAGE", "1m"))
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                    default_driver_memory()))
             .config("spark.scheduler.mode", "FAIR")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def source_docs(spark):
    """The bench corpus (``SF_DIR``'s webtext table), written once as
    parquet and read back."""
    from rusticsearch_spark.synth.webtext import webtext_table
    src_path = f"/tmp/rusticsearch_bench_src_{os.path.basename(SF_DIR)}_1"
    if not os.path.exists(src_path + "/_SUCCESS"):
        shutil.rmtree(src_path, ignore_errors=True)
        webtext_table(spark, SF_DIR, replicate=1).repartition(64) \
            .write.mode("overwrite").parquet(src_path)
    return src_path


WRITE_SIZES = (250, 1000, 4000, 16000, 64000)
DELETE_AT_JOBS = (1, 5, 17)
DELETE_KEYS = 10


def timed_jobs(sc, group: str, fn):
    """(fn(), wall seconds, Spark jobs fn ran)."""
    sc.setJobGroup(group, group)
    t0 = time.monotonic()
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    wall = time.monotonic() - t0
    return out, wall, len(sc.statusTracker().getJobIdsForGroup(group))


def write_sweep(spark, out_path: str) -> None:
    """See the module docstring: upsert batches by size and path, then
    deletes by committed job count and path."""
    import random

    import pyarrow.parquet as pq

    from rusticsearch_spark.analysis.analyzers import standard_analyzer
    from rusticsearch_spark.index import delete
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig, IndexLayout
    from rusticsearch_spark.streaming import ingest

    sc = spark.sparkContext
    src = pq.read_table(source_docs(spark), columns=["url", "text", "lang"])
    urls = src.column("url").to_pylist()
    old = dict(zip(urls, zip(src.column("text").to_pylist(),
                             src.column("lang").to_pylist())))
    terms = standard_analyzer().terms
    vocab = sorted({t for text, _ in old.values() for t in terms(text)})
    langs = sorted({lang for _, lang in old.values()})
    work = f"/tmp/rusticsearch_write_sweep_{CPUS}"
    shutil.rmtree(work, ignore_errors=True)
    base = os.path.join(work, "base")
    build_index(spark, spark.read.parquet(source_docs(spark)), base,
                IndexConfig(key_col="url",
                            fields={"text": "standard", "lang": None},
                            n_buckets=2 * CPUS, tbuckets=4,
                            shuffle_partitions=CPUS))
    rng = random.Random(13)
    out = open(out_path, "w")

    def emit(row: dict) -> None:
        line = json.dumps({**row, "cpus": CPUS, "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions"))})
        print(line, flush=True)
        out.write(line + "\n")

    def batch_rows(n: int, tag: str):
        upd = rng.sample(urls, min(n - n // 10, len(urls)))
        rows = [(k, f"{tag} " + " ".join(rng.sample(vocab, 5)) + " "
                 + old[k][0], old[k][1]) for k in upd]
        rows += [(f"https://new.example.org/{tag}/{i}",
                  " ".join(rng.choice(vocab) for _ in range(60)),
                  rng.choice(langs)) for i in range(n - len(upd))]
        return rows

    def fresh(name: str) -> str:
        idx = os.path.join(work, name)
        shutil.rmtree(idx, ignore_errors=True)
        shutil.copytree(base, idx)
        return idx

    real_on_driver = ingest.StreamingIngester._on_driver
    real_is_string = delete.key_is_string
    try:
        for n in WRITE_SIZES:
            for rep in range(2):
                for path in ("driver", "spark"):
                    ingest.StreamingIngester._on_driver = (
                        real_on_driver if path == "driver"
                        else lambda *a: False)
                    idx = fresh(f"upsert_{n}_{path}")
                    ing = ingest.StreamingIngester(spark, idx, upsert=True)
                    for b in range(2):
                        rows = batch_rows(n, f"s{n}r{rep}b{b}")
                        df = spark.createDataFrame(
                            rows, "url string, text string, lang string")
                        got, wall, jobs = timed_jobs(
                            sc, f"sweep_{n}_{path}_{rep}_{b}",
                            lambda: ing.process_batch(df, b))
                        emit({"sweep": "upsert", "docs": n, "path": path,
                              "rep": rep, "batch": b,
                              "postings": got.postings,
                              "wall_s": round(wall, 3),
                              "spark_jobs": jobs,
                              "bytes": sum(len(r[0]) + len(r[1].encode())
                                           + len(r[2]) for r in rows)})
                    shutil.rmtree(idx, ignore_errors=True)
        ingest.StreamingIngester._on_driver = real_on_driver
        idx = fresh("delete")
        ing = ingest.StreamingIngester(spark, idx, upsert=True)
        live = list(urls)
        rng.shuffle(live)
        b = 0
        for at in DELETE_AT_JOBS:
            while len(IndexLayout(idx).completed_jobs()) < at:
                ing.process_batch(spark.createDataFrame(
                    batch_rows(20, f"d{b}"),
                    "url string, text string, lang string"), b)
                b += 1
            for path in ("driver", "spark"):
                delete.key_is_string = (real_is_string if path == "driver"
                                        else lambda *a: False)
                keys = [live.pop() for _ in range(DELETE_KEYS)]
                n_del, wall, jobs = timed_jobs(
                    sc, f"sweep_delete_{at}_{path}",
                    lambda: delete.delete_documents(spark, idx, keys=keys))
                emit({"sweep": "delete", "committed_jobs": at,
                      "path": path, "keys": DELETE_KEYS,
                      "deleted": n_del, "wall_s": round(wall, 3),
                      "spark_jobs": jobs})
    finally:
        ingest.StreamingIngester._on_driver = real_on_driver
        delete.key_is_string = real_is_string
        out.close()
        shutil.rmtree(work, ignore_errors=True)


RESOLVE_ROWS = (1 << 20, 1 << 22, 1 << 24, 1 << 26)
RESOLVE_JOBS = 4
RESOLVE_KEYS = (10, 250)
RESOLVE_REPS = 3


def resolve_sweep(spark, out_path: str) -> None:
    """See the module docstring: ``delete_documents`` by string keys
    against synthetic sidecars of growing size, the resolve on the
    driver and through Spark.  Only what the resolve and the deletion
    write read is synthesized: config, lineage, a one-row docs file
    per job (the key type) and the doc_index files.  Filler keys sit
    in arbitrary kbuckets; each probe key sits once, in the kbucket
    it hashes to."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from rusticsearch_spark.index import delete, doc_index
    from rusticsearch_spark.index.layout import (IndexConfig, IndexLayout,
                                                 write_arrow_table)

    sc = spark.sparkContext
    work = f"/tmp/rusticsearch_resolve_sweep_{CPUS}"
    out = open(out_path, "w")
    real_is_string = delete.key_is_string
    try:
        for n_rows in RESOLVE_ROWS:
            shutil.rmtree(work, ignore_errors=True)
            layout = IndexLayout(work)
            cfg = IndexConfig(key_col="url", fields={"text": "standard"})
            layout.write_config(cfg)
            kb = cfg.kbuckets
            per_file = n_rows // (RESOLVE_JOBS * kb)
            n_probe = RESOLVE_REPS * 2 * sum(RESOLVE_KEYS)
            probes = [f"https://probe.example.org/{n_rows}/{i}"
                      for i in range(n_probe)]
            at = {}
            for i, k in enumerate(probes):
                at.setdefault((i % RESOLVE_JOBS,
                               doc_index.key_bucket(k, kb)), []).append(k)
            for j in range(RESOLVE_JOBS):
                write_arrow_table(layout.job_dir("docs", j), pa.table(
                    {"doc_id": pa.array([0], pa.int64()),
                     "url": pa.array([""], pa.string())}))
                for b in range(kb):
                    lo = (j * kb + b) * per_file
                    n = pa.array(np.arange(lo, lo + per_file))
                    keys = pc.binary_join_element_wise(
                        "https://www.example", pc.cast(pc.bit_wise_and(
                            n, 1023), pa.string()),
                        ".com/page/", pc.cast(n, pa.string()), "")
                    mine = at.get((j, b), [])
                    write_arrow_table(
                        os.path.join(layout.job_dir("doc_index", j),
                                     f"kbucket={b}"),
                        pa.table({"url": pa.concat_arrays(
                            [keys, pa.array(mine, pa.string())]),
                                  "doc_id": pa.array(np.arange(
                                      lo, lo + per_file + len(mine)))}))
                layout.commit_job(spark, {"job": j, "n_docs": per_file * kb})
            sidecar = sum(os.path.getsize(os.path.join(r, f))
                          for r, _, fs in os.walk(layout.table("doc_index"))
                          for f in fs)
            jobs = layout.completed_jobs()
            for rep in range(RESOLVE_REPS):
                for n_keys in RESOLVE_KEYS:
                    for path in ("driver", "spark"):
                        keys = [probes.pop() for _ in range(n_keys)]
                        touched = sum(os.path.getsize(f) for _, f in
                                      doc_index._touched_files(
                                          layout, cfg, jobs, keys))
                        delete.key_is_string = (
                            real_is_string if path == "driver"
                            else lambda *a: False)
                        n_del, wall, n_jobs = timed_jobs(
                            sc, f"resolve_{n_rows}_{n_keys}_{path}_{rep}",
                            lambda: delete.delete_documents(
                                spark, work, keys=keys))
                        line = json.dumps({
                            "sweep": "resolve", "sidecar_rows": n_rows,
                            "sidecar_bytes": sidecar, "jobs": RESOLVE_JOBS,
                            "keys": n_keys, "touched_bytes": touched,
                            "path": path, "rep": rep, "deleted": n_del,
                            "wall_s": round(wall, 3), "spark_jobs": n_jobs,
                            "cpus": CPUS})
                        print(line, flush=True)
                        out.write(line + "\n")
    finally:
        delete.key_is_string = real_is_string
        out.close()
        shutil.rmtree(work, ignore_errors=True)


DECODE_REPLICATES = (1, 4, 16)
DECODE_WORDS = (1, 2, 4, 8, 16, 31)
DECODE_REPS = 3


def decode_sweep(spark, out_path: str) -> None:
    """See the module docstring: one decode task against the scan's
    own split, by the query's posting count."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.synth.webtext import webtext_table

    sc = spark.sparkContext
    words = EXTRA_QUERIES[0][1]["match"]["text"].split()[:31]
    work = f"/tmp/rusticsearch_decode_sweep_{CPUS}"
    real = SearchEngine.POSTINGS_PER_DECODE_TASK
    per_task = {"one": 1 << 62, "sized": real, "split": 1}
    out = open(out_path, "w")
    try:
        for rep_corpus in DECODE_REPLICATES:
            idx = os.path.join(work, f"x{rep_corpus}")
            shutil.rmtree(idx, ignore_errors=True)
            build_index(spark, webtext_table(spark, SF_DIR,
                                             replicate=rep_corpus), idx,
                        IndexConfig(key_col="url",
                                    fields={"text": "standard",
                                            "lang": None},
                                    n_buckets=2 * CPUS, tbuckets=4,
                                    shuffle_partitions=CPUS))
            eng = SearchEngine(spark, idx)
            for n_words in DECODE_WORDS:
                q = {"match": {"text": " ".join(words[:n_words])}}
                postings = sum(eng.dict_reader.lookup_one("text", w)[0]
                               for w in words[:n_words])
                for mode in per_task:
                    SearchEngine.POSTINGS_PER_DECODE_TASK = per_task[mode]
                    eng.search(q, size=10).collect()
                for rep in range(DECODE_REPS):
                    order = list(per_task)[rep % 3:] + \
                        list(per_task)[:rep % 3]
                    for mode in order:
                        SearchEngine.POSTINGS_PER_DECODE_TASK = \
                            per_task[mode]
                        group = (f"decode_{rep_corpus}_{n_words}_{mode}"
                                 f"_{rep}")
                        _, wall, jobs = timed_jobs(
                            sc, group,
                            lambda: eng.search(q, size=10).collect())
                        tracker = sc.statusTracker()
                        tasks = sum(
                            tracker.getStageInfo(st).numTasks
                            for j in tracker.getJobIdsForGroup(group)
                            for st in tracker.getJobInfo(j).stageIds)
                        line = json.dumps({
                            "sweep": "decode", "corpus_x": rep_corpus,
                            "words": n_words, "postings": postings,
                            "mode": mode, "rep": rep,
                            "wall_s": round(wall, 4), "spark_jobs": jobs,
                            "tasks": tasks, "cpus": CPUS})
                        print(line, flush=True)
                        out.write(line + "\n")
            shutil.rmtree(idx, ignore_errors=True)
    finally:
        SearchEngine.POSTINGS_PER_DECODE_TASK = real
        out.close()
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--skip-build", action="store_true",
                    help="reuse /tmp/rusticsearch_bench_idx_<cpus>")
    ap.add_argument("--write-sweep", metavar="OUT", default=None,
                    help="run the write-path sweep instead, writing its "
                    "JSON lines to OUT")
    ap.add_argument("--resolve-sweep", metavar="OUT", default=None,
                    help="run the key-resolve sweep instead, writing its "
                    "JSON lines to OUT")
    ap.add_argument("--decode-sweep", metavar="OUT", default=None,
                    help="run the decode-task sweep instead, writing its "
                    "JSON lines to OUT")
    args = ap.parse_args()

    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    from rusticsearch_spark.query.engine import SearchEngine

    spark = session()
    sc = spark.sparkContext
    if args.write_sweep:
        write_sweep(spark, args.write_sweep)
        spark.stop()
        return
    if args.resolve_sweep:
        resolve_sweep(spark, args.resolve_sweep)
        spark.stop()
        return
    if args.decode_sweep:
        decode_sweep(spark, args.decode_sweep)
        spark.stop()
        return

    docs = spark.read.parquet(source_docs(spark))

    idx_dir = f"/tmp/rusticsearch_bench_idx_{CPUS}"
    if not args.skip_build or not os.path.isdir(idx_dir):
        shutil.rmtree(idx_dir, ignore_errors=True)
        cfg = IndexConfig(key_col="url", fields={"text": "standard",
                                                 "lang": None},
                          n_buckets=64, tbuckets=4,
                          shuffle_partitions=max(16, 2 * CPUS))
        t0 = time.monotonic()
        build_index(spark, docs, idx_dir, cfg, jobs=2, parallel=2)
        print(json.dumps({"step": "build",
                          "sec": round(time.monotonic() - t0, 3)}))

    engine = SearchEngine(spark, idx_dir, cache_postings=True)
    engine.postings.count()

    for name, q in BENCH_QUERIES + EXTRA_QUERIES:
        # plan capture
        if args.plans_dir and q is not None:
            os.makedirs(args.plans_dir, exist_ok=True)
            frame = engine.search(q, size=10)
            plan = frame._sc._jvm.PythonSQLUtils.explainString(
                frame._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans_dir,
                                   f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        if q is None:
            row = count = measure(sc, f"bx_{name}", engine.count)
        else:
            row = measure(sc, f"bx_{name}",
                          lambda: engine.search(q, size=10).collect())
            count = measure(sc, f"bx_count_{name}",
                            lambda: engine.count(q))
            plans = []
            for _ in range(RUNS):
                t0 = time.monotonic()
                engine.search(q, size=10)
                plans.append(time.monotonic() - t0)
            row["plan_median_ms"] = round(
                1e3 * sorted(plans)[len(plans) // 2], 2)
        print(json.dumps({"query": name, **row,
                          **{f"count_{k}": v for k, v in count.items()}}),
              flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
