"""rusticsearch_spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root.  Workloads: bulk_build, spark_search
and upsert_merge (see README.md beside this file).  The last
line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones.  Everything the run writes stays
under ``perfbench/.work`` in the checkout.

The command runs the workload in a child process and waits for every
process the workload started (the Spark JVM and its Python workers)
to end before it exits itself.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "p50_ms": "ms",
    "slow_op_ms": "ms",
    "index_bytes_per_input_byte": "ratio",
}


def start_spark(work: str, ncpu: int, shuffle: int, event_dir: str = ""):
    """A local session with ``bench.py``'s settings, except the driver
    heap: its 24g does not fit a small host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the library from the checkout, and every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{ncpu}]")
         .appName("rusticsearch-perfbench")
         .config("spark.sql.shuffle.partitions", str(shuffle))
         .config("spark.sql.files.maxPartitionBytes", "32m")
         .config("spark.sql.files.openCostInBytes", "1m")
         .config("spark.buffer.pageSize", "1m")
         .config("spark.scheduler.mode", "FAIR")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit.

    ``spark.stop()`` leaves the gateway JVM alive; it exits only once
    its stdin is closed."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=20)
    except Exception:
        proc.kill()
        proc.wait()


WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36


def _descendants() -> list:
    """Pids of every live process below this one."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name, in parentheses, may hold spaces
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        todo += kids
    return found


def _reap(grace: float) -> None:
    """Wait for every descendant to end: SIGTERM to any still alive,
    SIGKILL to any alive ``grace`` seconds later."""
    sig, deadline = signal.SIGTERM, time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            if not _descendants():
                return
            pid = 0
        if pid:
            continue
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in _descendants():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main(argv=None) -> int:
    """Run the workload in a child and reap everything it left."""
    argv = sys.argv[1:] if argv is None else list(argv)
    if os.environ.get(WORKER_ENV):
        return run(argv)
    if sys.platform.startswith("linux"):
        # orphans of the workload (the JVM's own children) become ours,
        # so that they can be waited for
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__)]
                             + argv, env={**os.environ, WORKER_ENV: "1"})

    def _stop(signum, frame):
        child.terminate()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _stop)
    code = child.wait()
    _reap(grace=5.0)
    return code


def run(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a checkout without the library cannot run: fail before any work
    for need in ("rusticsearch_spark", os.path.join("scripts",
                                                    "host_probe.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from "
                     f"a repository checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    sys.path.insert(0, HERE)
    from host_probe import probe

    import workloads
    from tracing import Tracer, attribute, read_event_log
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from "
                 f"{sorted(workloads.WORKLOADS)}")

    probe_pre = probe()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ncpu = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    event_dir = os.path.join(work, "events") if args.trace else ""
    spark = start_spark(work, ncpu, workloads.shuffle_partitions(ncpu),
                        event_dir)
    ctx = workloads.Ctx(spark=spark, tracer=tracer, work=work,
                        seed=args.seed, seconds=args.seconds, ncpu=ncpu,
                        process_t0=PROCESS_T0)
    try:
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
            if args.trace:
                import layers
                probes = layers.measure(ctx, res)   # needs the session
        finally:
            stop_spark(spark)
        if args.trace:
            attribute(tracer, read_event_log(event_dir))
            metrics = layers.from_spans(tracer, probes, res)
            out_dir = os.path.join(HERE, ".work", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, run_id + ".spans.jsonl"))
        else:
            metrics = {
                "setup_s": res.setup_s, "ops_per_s": res.ops_per_s,
                "p50_ms": res.p50_ms, "slow_op_ms": res.slow_op_ms,
                "index_bytes_per_input_byte":
                    res.index_bytes_per_input_byte}
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in metrics.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "ncpu": ncpu,
              "host_probe_pre": probe_pre, "host_probe_post": probe(),
              "notes": res.notes, "failures": res.failures}
    print(json.dumps(record))
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
