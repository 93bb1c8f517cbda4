"""Job-level benchmark for gcp_dataengineering_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mars_etl --seed 1 --seconds 10 --trace 0

The run generates the workload's inputs from the seed, then runs the
job the way its CLI user does: each job in a fresh process with a
fresh Spark session (``local[nproc]``, session defaults as a user gets
them), one job at a time (a closed loop with one client), each writing
to a fresh output root that is then checked. Jobs repeat while the
next one is expected to end inside ``--seconds``; there is always at
least one. With ``--trace 1`` the one job is followed, in the same
session, by a replay of the workload layer by layer inside spans,
with Spark's event log on, and the run reports per-layer counters.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The line before
it records the host, the session conf and every job.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("mars_etl", "corpus_build")
JOB_TIMEOUT_S = 150


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _end_all(pids: list[int], grace_s: float) -> None:
    """Wait up to grace_s for pids to end, then kill what is left."""
    deadline = time.monotonic() + grace_s
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


# ---------------------------------------------------------------- worker
def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from proc import tree_pids

    started = tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = gateway.proc
        jvm.stdin.close()  # the gateway JVM exits at the end of its stdin
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    _end_all(started, 30)


def _worker(args) -> int:
    """One job in this fresh process; writes its record to args.result."""
    from gcp_dataengineering_spark.session import get_spark

    from proc import PeakRss, process_age_s, tree_cpu_s

    conf = {}
    if args.event_log:
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + args.event_log}
    rec: dict = {}
    with PeakRss(os.getpid()) as rss:
        t_session = time.time()
        spark = get_spark("perfbench", extra_conf=conf)
        t_ready = time.time()
        try:
            spark.range(1).count()
            rec["setup_s"] = process_age_s()
            import workloads

            wl = workloads.WORKLOADS[args.workload](args.in_dir)
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            rec["result"] = wl.job(spark, os.path.join(args.out, "job"))
            rec["job_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["peak_rss_mb"] = rss.peak / 2**20
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            rec["cache_retained_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
            if args.event_log:
                from spans import Span, Tracer

                tracer = Tracer(spark)
                tracer.spans.append(Span("session.get_spark", t_session, t_ready, None))
                t0 = time.perf_counter()
                rec["replay_result"] = wl.replay(spark, tracer, os.path.join(args.out, "replay"))
                rec["replay_s"] = time.perf_counter() - t0
                rec["spans"] = [s.__dict__ for s in tracer.spans]
                rec["counts"] = tracer.counts
            with open("/proc/meminfo") as f:
                mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
            rec["host"] = {
                "nproc": len(os.sched_getaffinity(0)),
                "mem_total_mb": mem_kb // 1024,
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0],
            }
            rec["session_conf"] = dict(sorted(spark.sparkContext.getConf().getAll()))
        finally:
            _stop_spark(spark)
    with open(args.result, "w") as f:
        json.dump(rec, f)
    return 0


# ---------------------------------------------------------- orchestrator
def _one_job(args, wl, work: str, k: int) -> dict:
    """Run one job in a fresh worker process and check what it wrote."""
    from proc import tree_pids

    out = os.path.join(work, f"job{k}")
    result = os.path.join(work, f"job{k}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--worker",
           "--workload", args.workload, "--in-dir", os.path.join(work, "in"), "--out", out,
           "--result", result]
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        cmd += ["--event-log", log_dir]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        proc.wait(timeout=JOB_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _end_all(tree_pids(proc.pid), 0)
        proc.wait()
    rec = {"cycle_s": time.perf_counter() - t0, "problems": []}
    if proc.returncode != 0 or not os.path.exists(result):
        rec["problems"].append(f"worker exited {proc.returncode}")
        return rec
    with open(result) as f:
        rec.update(json.load(f))
    rec["out_bytes"] = _du(os.path.join(out, "job"))
    problems, rec["digest"] = wl.check(os.path.join(out, "job"), rec["result"])
    rec["problems"] += problems
    if args.trace:
        problems, digest = wl.check(os.path.join(out, "replay"), rec["replay_result"])
        rec["problems"] += [f"replay: {p}" for p in problems]
        if rec["replay_result"] != rec["result"] or digest != rec["digest"]:
            rec["problems"].append(
                f"replay drifted from the job: {rec['replay_result']} vs {rec['result']}")
        from spans import Span, layer_counters, read_event_log

        spans = [Span(**s) for s in rec["spans"]]
        rec["layers"] = layer_counters(spans, read_event_log(log_dir))
    shutil.rmtree(out, ignore_errors=True)
    return rec


def _per_layer(rec: dict) -> dict:
    from spans import per_layer_names

    metrics = {}
    for name, unit in per_layer_names().items():
        layer, counter = name.rsplit(".", 1)
        if name in rec["counts"]:
            value = rec["counts"][name]
        elif name in ("job.cache_retained_mb", "job.peak_rss_mb"):
            value = rec[counter]
        elif name == "job.trace_overhead":
            value = rec["replay_s"] / rec["job_s"]
        else:
            value = rec["layers"].get(layer, {}).get(counter, 0)
        metrics[name] = (value, unit)
    return metrics


def _orchestrate(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import gcp_dataengineering_spark
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not gcp_dataengineering_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the program was imported from outside {ROOT}", file=sys.stderr)
        return 2
    # the only setting changed from a user's defaults: size the
    # session to this host
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the worker and Spark's Python workers import the program from
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    # keep Spark's block and shuffle files and Python's temp files in
    # the run's own directory, which the run removes at the end
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        wl = workloads.WORKLOADS[args.workload](os.path.join(work, "in"))
        wl.generate(args.seed)
        jobs: list[dict] = []
        start = time.perf_counter()
        while True:
            rec = _one_job(args, wl, work, len(jobs))
            jobs.append(rec)
            elapsed = time.perf_counter() - start
            if args.trace or elapsed + rec["cycle_s"] > args.seconds:
                break
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass

    ok = [j for j in jobs if not j["problems"]]
    digests = {j.get("digest") for j in jobs}
    result = {
        "correct": len(ok) == len(jobs) and len(digests) == 1,
        "attempted": len(jobs),
        "failed": len(jobs) - len(ok),
    }
    detail = {
        "workload": args.workload, "seed": args.seed,
        "inputs": {"rows": wl.rows, "bytes": wl.bytes},
        "host": jobs[0].get("host"), "session_conf": jobs[0].get("session_conf"),
        "jobs": [{k: v for k, v in j.items() if k not in ("host", "session_conf")}
                 for j in jobs],
    }
    print(json.dumps(detail, default=str))
    if not ok:
        print(json.dumps({**result, "metrics": {}}))
        return 1
    if args.trace:
        metrics = _per_layer(ok[0])
    else:
        job_s = statistics.median(j["job_s"] for j in ok)
        metrics = {
            "setup_s": (statistics.median(j["setup_s"] for j in ok), "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (wl.rows / job_s, "1/s"),
            "cpu_s": (statistics.median(j["cpu_s"] for j in ok), "s"),
            "cache_retained_mb": (statistics.median(j["cache_retained_mb"] for j in ok), "MB"),
            "out_bytes_per_in_byte": (
                statistics.median(j["out_bytes"] for j in ok) / wl.bytes, "ratio"),
        }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(result))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float,
                   help="window: another job starts only if it should end inside it")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # worker side of one job (set by the orchestrator)
    p.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--in-dir", help=argparse.SUPPRESS)
    p.add_argument("--out", help=argparse.SUPPRESS)
    p.add_argument("--result", help=argparse.SUPPRESS)
    p.add_argument("--event-log", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.worker:
        try:
            return _worker(args)
        except Exception:
            traceback.print_exc()
            return 1
    if args.seed is None or args.seconds is None:
        p.error("--seed and --seconds are required")
    return _orchestrate(args)


if __name__ == "__main__":
    raise SystemExit(main())
