"""Round-7 measurement harness (guide §1): per-query isolation over
the SAME artifact/config as bench.py, plus plan capture and Spark
job/stage accounting.

This file is NOT the frozen driver bench — it exists so optimization
evidence (job counts, exchange counts, explain output) can be
captured without touching bench.py.  Methodology per query matches
bench.py exactly (warmup + timed ``.collect()`` of the top-10 frame);
additionally each timed query runs inside its own job group so the
per-query Spark job count is exact.  Each shape's ``count(q)`` is
timed and counted the same way, next to its ``search(q)``.

Usage:
    python bench_extra.py [--plans-dir plans/r07 --suffix before]
Outputs one JSON line per query:
    {"query": name, "median_sec": s, "runs": [...], "n_jobs": j,
     "n_stages_total": st, "n_tasks_total": t,
     "count_median_sec": s, "count_n_jobs": j, ...}
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


def main() -> None:
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--skip-build", action="store_true",
                    help="reuse /tmp/rusticsearch_bench_idx_<cpus>")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.synth.webtext import webtext_table

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
    sc = spark.sparkContext

    wt = webtext_table(spark, SF_DIR, replicate=1)
    src_path = f"/tmp/rusticsearch_bench_src_{os.path.basename(SF_DIR)}_1"
    if not os.path.exists(src_path + "/_SUCCESS"):
        shutil.rmtree(src_path, ignore_errors=True)
        wt.repartition(64).write.mode("overwrite").parquet(src_path)
    docs = spark.read.parquet(src_path)

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

    for name, q in BENCH_QUERIES:
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
        print(json.dumps({"query": name, **row,
                          **{f"count_{k}": v for k, v in count.items()}}),
              flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
