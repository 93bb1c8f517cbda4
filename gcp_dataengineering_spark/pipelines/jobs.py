"""Job runners — the reference's write/audit protocol around the two
pipelines (``stage_1_hcp_channel_all_hardcode.py:183-225,
1085-1128, 1227-1304``), minus the AWS control-plane plumbing
(Athena metadata probe → filesystem check; Glue crawler → no-op,
parquet self-describes).

Protocol per output table: persist → count (audit) → coalesce(8)
snapshot overwrite → max(version)+1 stamped partitioned history
append → audit rows appended.

``run_all`` writes the job's INITIATED audit row, then runs the two
table jobs (nvs_tam, nvs_digital) at once on two driver threads, then
writes the COMPLETED row. The two jobs share no input or output path,
and each is a chain of many small Spark jobs, so the JVM fills one's
driver gaps with the other's tasks. The threads are
``InheritableThread``s: in PySpark's pinned-thread mode each Python
thread has its own JVM thread, and these start with the caller's
local properties (job group, description, scheduler pool). If either
table job raises, ``run_all`` waits for the other, re-raises the
first error in table order and writes no COMPLETED row.

Audit appends take ``_AUDIT_LOCK``: both table jobs append to the one
``audit_job_info`` directory, and two concurrent parquet appends to
one directory share its ``_temporary`` commit directory — the first
commit to finish deletes it under the other, which then fails or
loses its file.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Sequence
from datetime import datetime, timezone

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from ..sources.io import (
    append_audit,
    audit_rows,
    write_snapshot,
    write_versioned_history,
)
from .digital import nvs_digital
from .tam import nvs_tam

ETL_SCRIPT = "gcp_dataengineering_spark"
_AUDIT_LOCK = threading.Lock()


def _audit(spark: SparkSession, audit_path: str, table: str, rows: int, status: str,
           batch_id: str, etl_script: str = ETL_SCRIPT,
           start: datetime | None = None, end: datetime | None = None) -> None:
    with _AUDIT_LOCK:
        append_audit(audit_rows(spark, table, rows, status, etl_script, "normalized",
                                batch_id, start, end), audit_path)


def run_table_job(
    spark: SparkSession,
    df: DataFrame,
    out_root: str,
    table_name: str,
    batch_id: str = "local",
    etl_script: str = ETL_SCRIPT,
    release: Sequence[DataFrame] = (),
) -> dict:
    """The persist/count/snapshot/history/audit protocol for one
    output table. ``release`` are frames ``df`` was built from that
    are persisted; they are unpersisted once the count has computed
    (and cached) ``df``. Returns the audit summary."""
    start = datetime.now(timezone.utc)
    persisted = df.persist()
    try:
        try:
            n = persisted.count()
        finally:
            for pin in release:
                pin.unpersist()
        snapshot_path = os.path.join(out_root, f"{table_name}_staging")
        write_snapshot(persisted, snapshot_path)
        hist_path = os.path.join(out_root, f"{table_name}_historical")
        version = write_versioned_history(persisted, spark, hist_path)
        audit_path = os.path.join(out_root, "audit_job_info")
        end = datetime.now(timezone.utc)
        for kind in ("staging", "historical"):
            _audit(spark, audit_path, f"{table_name}_{kind}", n, "COMPLETED", batch_id,
                   etl_script, start, end)
        return {
            "table": table_name,
            "rows": n,
            "version": version,
            "snapshot": snapshot_path,
            "history": hist_path,
        }
    finally:
        persisted.unpersist()


def run_tam_job(spark: SparkSession, tables: dict[str, DataFrame], out_root: str,
                batch_id: str = "local") -> dict:
    return run_table_job(spark, nvs_tam(spark, tables), out_root,
                         "mars_tam_nvs", batch_id)


def run_digital_job(spark: SparkSession, tables: dict[str, DataFrame], out_root: str,
                    batch_id: str = "local") -> dict:
    pins: list[DataFrame] = []
    return run_table_job(spark, nvs_digital(spark, tables, pins), out_root,
                         "mars_combined_nvs_data", batch_id, release=pins)


def _run_concurrently(spark: SparkSession, calls: Sequence[Callable[[], object]]) -> list:
    """Each call on its own ``InheritableThread``; waits for all of
    them, then returns their results in order or re-raises the first
    error in order."""
    results: list = [None] * len(calls)
    errors: list = [None] * len(calls)

    def target(i: int) -> None:
        try:
            results[i] = calls[i]()
        except BaseException as e:  # re-raised on the caller's thread
            errors[i] = e

    threads = [InheritableThread(target, args=(i,), session=spark) for i in range(len(calls))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def run_all(spark: SparkSession, tables: dict[str, DataFrame], out_root: str,
            batch_id: str = "local") -> list[dict]:
    """Entry point A (``stage_1:1261-1304``): audit INITIATED row →
    nvs_tam and nvs_digital at once (see the module docstring) →
    (crawler is a no-op on Spark: parquet self-describes) → audit
    COMPLETED row. Returns the job summaries, nvs_tam first."""
    audit_path = os.path.join(out_root, "audit_job_info")
    _audit(spark, audit_path, "job", 0, "INITIATED", batch_id)
    results = _run_concurrently(spark, [
        lambda: run_tam_job(spark, tables, out_root, batch_id),
        lambda: run_digital_job(spark, tables, out_root, batch_id),
    ])
    _audit(spark, audit_path, "job", sum(r["rows"] for r in results), "COMPLETED", batch_id)
    return results
