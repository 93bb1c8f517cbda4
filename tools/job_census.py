"""Spark job census of one benchmark workload, grouped by call site.

Runs a perfbench workload's job in-process with the Spark event log
on, over its seeded input (generated by importing
``perfbench/gen.py``):

- ``corpus_build`` (the default): ``llm_build.main`` with the
  workload's flags (``perfbench/workloads.py``);
- ``mars_etl``: the reference job, ``pipelines.jobs.run_all``, over
  the reference-shaped tables.

Around every classic action (DataFrame, DataFrameWriter and RDD) and
around ``DataFrameReader.parquet`` (whose schema inference runs a
Spark job per read) it sets the job description to the innermost
call site inside the package, or else to the caller outside it, so
each Spark job the call submits carries that label.
After the session stops it parses the uncompressed event log and
prints jobs, tasks and summed job wall time per call site, in the
order the job first reached each site.

Usage:
  python tools/job_census.py [--workload corpus_build|mars_etl]
                             [--root CHECKOUT] [--seed 1] [--cpus N]

``--root`` imports the package from another checkout (for example a
clone of an older commit) for a before/after census; the inputs, the
flags and the event-log reader always come from this checkout's
``perfbench/``. Stdlib and pyspark only.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import io
import linecache
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gcp_dataengineering_spark"

DATAFRAME_ACTIONS = (
    "count", "collect", "take", "first", "head", "tail", "show", "toPandas",
    "toLocalIterator", "isEmpty", "foreach", "foreachPartition",
    "localCheckpoint", "checkpoint",
)
WRITER_ACTIONS = (
    "save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto",
)
# reads that run a Spark job to infer the schema
READER_CALLS = ("parquet",)
RDD_ACTIONS = (
    "collect", "count", "take", "first", "reduce", "fold", "aggregate", "sum",
    "max", "min", "top", "takeOrdered", "isEmpty", "foreach", "foreachPartition",
    "countByKey", "countByValue", "collectAsMap", "toLocalIterator",
)

_depth = threading.local()


def _site(frame, base: str, prefix: str = "") -> str:
    path = frame.f_code.co_filename
    mod = os.path.splitext(os.path.relpath(path, base))[0].replace(os.sep, ".")
    src = linecache.getline(path, frame.f_lineno).strip()
    return f"{prefix}{mod}.{frame.f_code.co_name}:{frame.f_lineno}  {src[:60]}"


def _call_site(pkg_dir: str) -> str:
    """``module.function:line  source`` of the innermost frame inside
    the package, else ``(outside package) ...`` with the direct
    caller. The materialize helpers are skipped, so a pin is labelled
    with the line that asked for it."""
    caller = frame = sys._getframe(2)
    skip = os.path.join(pkg_dir, "llm_ops", "materialize.py")
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(pkg_dir) and path != skip:
            return _site(frame, pkg_dir)
        frame = frame.f_back
    return _site(caller, HERE, "(outside package) ")


def _labelled(fn, sc, pkg_dir: str):
    """``fn`` with the outermost call labelling its Spark jobs."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        depth = getattr(_depth, "n", 0)
        if depth == 0:
            sc.setJobDescription(_call_site(pkg_dir))
        _depth.n = depth + 1
        try:
            return fn(*args, **kwargs)
        finally:
            _depth.n = depth
            if depth == 0:
                sc.setJobDescription(None)

    return wrapper


def label_actions(sc, pkg_dir: str) -> None:
    from pyspark.core.rdd import RDD
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    for cls, names in ((DataFrame, DATAFRAME_ACTIONS), (DataFrameWriter, WRITER_ACTIONS),
                       (DataFrameReader, READER_CALLS), (RDD, RDD_ACTIONS)):
        for name in names:
            setattr(cls, name, _labelled(getattr(cls, name), sc, pkg_dir))


def census(events: list[dict]) -> list[tuple[str, int, int, float]]:
    """(label, jobs, tasks, job wall s) per label, in first-job order."""
    label_of_job: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    started: dict[int, int] = {}
    rows: dict[str, list] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            label = (ev.get("Properties") or {}).get("spark.job.description")
            label_of_job[job] = label or "(unlabelled)"
            started[job] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                job_of_stage.setdefault(sid, job)
            rows.setdefault(label_of_job[job], [0, 0, 0.0])[0] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            rows[label_of_job[job]][2] += (ev["Completion Time"] - started[job]) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = job_of_stage.get(info["Stage ID"])
            if job is not None and "Completion Time" in info:
                rows[label_of_job[job]][1] += info["Number of Tasks"]
    return [(label, *vals) for label, vals in rows.items()]


def _corpus_build(work: str, seed: int):
    """Write the corpus_build input; return the job and its name."""
    import gen
    from workloads import CorpusBuild

    from gcp_dataengineering_spark import llm_build

    table, _ = gen.corpus_docs(seed, CorpusBuild.n_docs)
    gen.write_tables({"docs": table}, work)

    def job(spark) -> None:
        argv = ["--docs", os.path.join(work, "docs.parquet"),
                "--out", os.path.join(work, "out"), *CorpusBuild.args]
        with contextlib.redirect_stdout(io.StringIO()):
            rc = llm_build.main(argv)
        if rc != 0:
            raise RuntimeError(f"llm_build.main returned {rc}")

    return job, "llm_build.main"


def _mars_etl(work: str, seed: int):
    """Write the mars_etl input; return the job and its name."""
    import gen

    from gcp_dataengineering_spark.pipelines.jobs import run_all

    in_dir = os.path.join(work, "in")
    gen.write_tables(gen.etl_tables(seed), in_dir)

    def job(spark) -> None:
        tables = {f[:-len(".parquet")]: spark.read.parquet(os.path.join(in_dir, f))
                  for f in sorted(os.listdir(in_dir))}
        run_all(spark, tables, os.path.join(work, "out"))

    return job, "pipelines.jobs.run_all"


WORKLOADS = {"corpus_build": _corpus_build, "mars_etl": _mars_etl}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), default="corpus_build")
    p.add_argument("--root", default=HERE, help="checkout to import the package from")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = p.parse_args(argv)

    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(HERE, "perfbench")]
    from spans import read_event_log

    import gcp_dataengineering_spark
    from gcp_dataengineering_spark.session import get_spark

    pkg_dir = os.path.join(root, PACKAGE) + os.sep
    if not gcp_dataengineering_spark.__file__.startswith(pkg_dir):
        raise SystemExit(f"the package was imported from "
                         f"{gcp_dataengineering_spark.__file__}, not {root}")
    commit = subprocess.run(["git", "-C", root, "describe", "--always", "--dirty"],
                            capture_output=True, text=True).stdout.strip()
    work = tempfile.mkdtemp(prefix="job_census-")
    try:
        job, job_name = WORKLOADS[args.workload](work, args.seed)
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir)
        spark = get_spark("job_census", cpus=args.cpus, extra_conf={
            "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir})
        try:
            label_actions(spark.sparkContext, pkg_dir)
            t0 = time.perf_counter()
            job(spark)
            wall = time.perf_counter() - t0
        finally:
            spark.stop()
        rows = census(read_event_log(log_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# job census: {job_name}, {args.workload} seed {args.seed}, "
          f"commit {commit or '?'}, local[{args.cpus}]")
    print(f"# {job_name}() wall {wall:.1f} s; job wall sums each job's submit-to-end time")
    print(f"{'jobs':>5} {'tasks':>6} {'job_s':>7}  call site")
    for label, jobs, tasks, secs in rows:
        print(f"{jobs:>5} {tasks:>6} {secs:>7.2f}  {label}")
    print(f"{sum(r[1] for r in rows):>5} {sum(r[2] for r in rows):>6} "
          f"{sum(r[3] for r in rows):>7.2f}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
