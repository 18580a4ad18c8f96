#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kv_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes (generated tables,
the KV store, Spark scratch space, temp files) goes under
``.perfbench/work-<pid>/`` in the repository and is removed at the end; a
traced run also leaves its spans in ``.perfbench/out/``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a JSON record
with the workload's named metrics (``detail``), the first failures, and
for a traced run its end-to-end figures too, so that the tracing overhead
can be read off (see ``perfbench/suite.py --overhead``).
"""

import time

_T_ENTRY = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("kv_serve", "kv_write", "query_mix")
# A run that has not finished by then is stopped and reported as failed
# (no metrics line), so a hang cannot outlast the 180 s a run may take.
RUN_LIMIT_S = 170


def _since_exec() -> float:
    """Seconds between this process's exec and now (Linux; else 0)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


# Process start on the perf_counter clock; set-up time is measured from here.
T_PROCESS = _T_ENTRY - _since_exec()


def _process_tree() -> dict:
    """pid -> (ppid, comm) for every process visible in /proc."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            procs[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, ValueError, IndexError):
            continue
    return procs


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the JVM it started
    (the sum of each one's high-water mark)."""
    procs = _process_tree()
    me = os.getpid()
    pids = [me]
    for pid, (_ppid, comm) in procs.items():
        p, hops = pid, 0
        while p in procs and p != me and hops < 16:
            p, hops = procs[p][0], hops + 1
        if p == me and pid != me and comm == "java":
            pids.append(pid)
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def _environment(work: str, trace: bool) -> None:
    """Point every scratch location at ``work`` and configure Spark.
    Must run before pyspark starts its JVM."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    old = os.environ.get("PYTHONPATH")
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = f"{work}/warehouse"
    # One core is left to this process's own threads (clients, py4j) and to
    # the JVM's JIT and GC threads, so they do not compete with a task on
    # every core.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(4, (os.cpu_count() or 1) - 1)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:  # keep every job and stage in the status store until read
        confs += ["spark.ui.retainedJobs=1000000", "spark.ui.retainedStages=1000000"]
    # -XX:-UsePerfData: else the JVM writes its perf-data file to the system
    # temp directory, outside the checkout
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {c}" for c in confs)
        + f" --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def _instrument(tracer) -> None:
    from octopusdb_spark.kv.manifest import Manifest
    from octopusdb_spark.kv.store import KVStore
    from octopusdb_spark.service.client import KVClient
    from octopusdb_spark.service.server import KVService

    for m in ("get", "mget", "scan"):
        tracer.instrument_client(KVClient, m, f"service.client.{m}")
    tracer.instrument(KVService, "_dispatch", "service.server")
    tracer.instrument_server_threads()
    for m in ("get", "mget", "scan", "view", "cache_view", "set_batch",
              "ingest_df", "auto_compact", "gc_values"):
        tracer.instrument(KVStore, m, f"kv.store.{m}")
    tracer.instrument(Manifest, "commit", "kv.manifest.commit")
    for m in ("prune_for_key", "prune_for_range"):
        tracer.instrument(Manifest, m, f"kv.manifest.{m}",
                          result=lambda segs: {"segments": len(segs)})


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _write_trace(path: str, args, tracer, res, per_layer: dict, e2e: dict) -> None:
    """Write every span (times relative to process start, with self time),
    per-name totals and per-row query records to ``path``."""
    from perfbench.trace import inclusive, self_times

    self_times(tracer.spans)
    spans = []
    for s in sorted(tracer.spans, key=lambda s: s["start"]):
        s = dict(s)
        s["start"], s["end"] = s["start"] - T_PROCESS, s["end"] - T_PROCESS
        spans.append(s)
    by_name: dict = {}
    for s in spans:
        d = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
        d["count"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += s["self_s"]
        d["jobs"] += s.get("spark", {}).get("jobs", 0)
    jobs = inclusive(spans, "jobs")
    rows = []
    for r in res.rows:
        r = dict(r)
        b, a = r.pop("span_build", None), r.pop("span_action", None)
        r["build_jobs"] = jobs.get(b, 0)
        r["jobs"] = jobs.get(b, 0) + jobs.get(a, 0)
        rows.append(r)
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "timed": [res.timed[0] - T_PROCESS, res.timed[1] - T_PROCESS],
            "end_to_end": e2e, "detail": res.detail, "per_layer": per_layer,
            "rows": rows, "by_name": by_name, "spans": spans,
        }, f, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "octopusdb_spark", "kv", "store.py")):
        print(f"error: the octopusdb_spark package is not under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from perfbench import layers, workloads
    from perfbench.trace import Tracer
    from octopusdb_spark.session import get_spark

    def _overrun(_signum, _frame):
        raise TimeoutError(f"run did not finish within {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(RUN_LIMIT_S)
    tracer = Tracer(bool(args.trace))
    if args.trace:
        _instrument(tracer)
    spark = None
    try:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark_start_s = time.perf_counter() - T_PROCESS
        tracer.attach(spark.sparkContext if args.trace else None)
        h = workloads.Harness(spark, work, args.seed, args.seconds, tracer)
        res = workloads.WORKLOADS[args.workload](h)
        e2e = {
            "setup_s": res.timed[0] - T_PROCESS,
            **res.e2e,
            "peak_rss_mb": peak_rss_mb(),
        }
        per_layer = None
        trace_path = None
        if args.trace:
            tracer.collect_spark_counters()
            per_layer = layers.per_layer(tracer.spans, res.timed, res.extras)
            os.makedirs(os.path.join(base, "out"), exist_ok=True)
            trace_path = os.path.join(base, "out", f"trace-{args.workload}-seed{args.seed}.json")
            _write_trace(trace_path, args, tracer, res, per_layer, e2e)
    finally:
        tracer.uninstrument()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    stop_s = time.perf_counter() - T_PROCESS

    units = {"setup_s": "s", "op_ms": "ms", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
    if args.trace:
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u, _ in layers.METRICS}
    else:
        metrics = {n: {"value": v, "unit": units[n]} for n, v in e2e.items()}
    failed = len(res.failures)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "end_to_end": e2e,
        "spark_start_s": spark_start_s, "wall_s": stop_s, "detail": res.detail,
        "failures": res.failures[:5], "trace_file": trace_path,
    }, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": res.attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
