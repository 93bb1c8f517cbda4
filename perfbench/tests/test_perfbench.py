"""Tests of the benchmark's own parts: seeded generators, the event-log
parser and the metric list in BENCHMARK.json. No Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _rows(tables) -> dict[str, int]:
    return {name: t.num_rows for name, t in tables.items()}


def test_etl_inputs_are_a_function_of_the_seed(tmp_path):
    a, b, c = (gen.etl_tables(s) for s in (7, 7, 8))
    gen.write_tables(a, tmp_path / "a")
    gen.write_tables(b, tmp_path / "b")
    gen.write_tables(c, tmp_path / "c")
    fa, fb, fc = (_files(tmp_path / d) for d in "abc")
    assert fa == fb
    assert _rows(a) == _rows(c)
    assert fa["calls_v1.parquet"] != fc["calls_v1.parquet"]
    assert set(fa) == set(fc) and len(fa) == 27


def test_corpus_inputs_are_a_function_of_the_seed(tmp_path):
    (ta, fam_a), (tb, fam_b), (tc, fam_c) = (gen.corpus_docs(s, 400) for s in (7, 7, 8))
    for name, t in (("a", ta), ("b", tb), ("c", tc)):
        gen.write_tables({"docs": t}, tmp_path / name)
    fa, fb, fc = (_files(tmp_path / d)["docs.parquet"] for d in "abc")
    assert fa == fb and fam_a == fam_b
    assert fa != fc
    assert ta.num_rows == tc.num_rows == 400


def test_corpus_plants_exact_duplicate_families():
    table, families = gen.corpus_docs(3, 1000)
    text = table.column("text").to_pylist()
    assert table.column("doc_id").to_pylist() == list(range(1000))
    copies = sum(len(f) - 1 for f in families)
    assert copies == 50  # 5% of the documents
    for fam in families:
        assert len({text[d] for d in fam}) == 1
    # distinct families hold distinct texts
    assert len({text[f[0]] for f in families}) == len(families)


def _job(job_id, label, stage_ids):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stage_ids,
            "Properties": {"spark.job.description": label} if label else {}}


def _stage(stage_id, start_ms, end_ms, tasks, cpu_ns, shuffle_bytes):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id, "Stage Attempt ID": 0, "Number of Tasks": tasks,
        "Submission Time": start_ms, "Completion Time": end_ms,
        "Accumulables": [
            {"ID": 1, "Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
            {"ID": 2, "Name": "internal.metrics.shuffle.write.bytesWritten",
             "Value": shuffle_bytes},
        ]}}


def test_event_log_counters_per_layer(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _job(0, None, [0]),  # unlabelled job: belongs to no layer
        _stage(0, 1_000, 2_000, 9, 9_000_000_000, 0),
        _job(1, "dedup.resolve_dup_groups", [1, 2]),
        _stage(1, 10_100, 10_600, 4, 1_500_000_000, 3 * 2**20),
        _stage(2, 10_400, 11_000, 2, 500_000_000, 0),
        _job(2, "dedup.resolve_dup_groups", [3]),
        _stage(3, 11_500, 11_800, 1, 0, 2**20),
        _job(3, "io.write_snapshot", [4]),
        _stage(4, 20_200, 20_500, 8, 250_000_000, 0),
    ]
    log = tmp_path / "eventlog_v2_local-1" / "events_1_local-1"
    log.parent.mkdir()
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = spans.layer_counters(
        [spans.Span("dedup.resolve_dup_groups", 10.0, 12.0, None),
         spans.Span("io.write_snapshot", 20.0, 21.0, None),
         spans.Span("session.get_spark", 0.0, 5.0, None)],
        spans.read_event_log(str(tmp_path)),
    )
    cc = got["dedup.resolve_dup_groups"]
    assert cc["jobs"] == 2 and cc["tasks"] == 7
    assert cc["exec_cpu_s"] == 2.0
    assert cc["shuffle_write_mb"] == 4.0
    # stages cover 10.1-11.0 and 11.5-11.8 of the 2 s span
    assert abs(cc["driver_gap_s"] - 0.8) < 1e-9
    assert got["io.write_snapshot"]["jobs"] == 1
    assert abs(got["io.write_snapshot"]["driver_gap_s"] - 0.7) < 1e-9
    assert got["session.get_spark"] == {
        "wall_s": 5.0, "driver_gap_s": 5.0, "jobs": 0, "tasks": 0,
        "exec_cpu_s": 0.0, "shuffle_write_mb": 0.0}


def test_tracer_labels_jobs_and_restores_the_parent():
    class Ctx:
        def __init__(self):
            self.labels = []

        def setJobDescription(self, value):
            self.labels.append(value)

    class Spark:
        sparkContext = Ctx()

    spark = Spark()
    tracer = spans.Tracer(spark)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    assert spark.sparkContext.labels == ["outer", "inner", "outer", None]
    assert [(s.name, s.parent) for s in tracer.spans] == [("inner", "outer"), ("outer", None)]


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOAD_NAMES
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spans.per_layer_names()
    assert len(bench["per_layer"]) <= 128
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "job_s", "rows_per_s", "cpu_s", "cache_retained_mb",
        "out_bytes_per_in_byte"}
