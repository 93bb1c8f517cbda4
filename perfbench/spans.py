"""Layer spans and the Spark event-log join for the traced run.

A span is (name, start, end, parent) in wall-clock seconds. Spans are
kept in memory; the event log is read once, after the session stops.
Each Spark job carries the label of the span that submitted it
(``spark.job.description``), so a layer's counters are the sums over
the stages of its jobs. Everything here is stdlib.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# (layer, counters) in the order each workload's replay calls them.
# Counters that read zero on every workload are left out: spill_mb
# everywhere, shuffle_write_mb on the layers that never shuffle, and
# all but wall_s on session.get_spark, which runs no job.
JOB_COUNTERS = ("wall_s", "exec_cpu_s", "jobs", "tasks", "shuffle_write_mb",
                "driver_gap_s")
NO_SHUFFLE = ("wall_s", "exec_cpu_s", "jobs", "tasks", "driver_gap_s")
LAYERS: dict[str, tuple[str, ...]] = {
    "session.get_spark": ("wall_s",),
    # mars_etl
    "tam.nvs_tam": JOB_COUNTERS,
    "digital.hcp_all_channels": JOB_COUNTERS,
    "digital.nvs_digital": JOB_COUNTERS,
    "io.write_snapshot": NO_SHUFFLE,
    "io.write_versioned_history": NO_SHUFFLE,
    "io.append_audit": NO_SHUFFLE,
    # corpus_build (llm_build.main, then build_training_corpus order)
    "unigram.unigram_train": JOB_COUNTERS,
    "text.quality_features": NO_SHUFFLE,
    "corpus.source_reputation_filter": JOB_COUNTERS,
    "ngram_lm.trigram_perplexity": JOB_COUNTERS,
    "text.scrub_pii": NO_SHUFFLE,
    "dedup.dedup_exact": JOB_COUNTERS,
    "dedup.minhash_signatures": JOB_COUNTERS,
    "dedup.lsh_candidate_pairs": JOB_COUNTERS,
    "dedup.resolve_dup_groups": JOB_COUNTERS,
    "embed.semantic_dedup": JOB_COUNTERS,
    "unigram.unigram_encode_docs": JOB_COUNTERS,
    "corpus.hash_split": NO_SHUFFLE,
    "corpus.shard_by_token_budget": JOB_COUNTERS,
    "pipeline.stage_counts": JOB_COUNTERS,
    "llm_build.writes": NO_SHUFFLE,
}
# Whole-run and ratio metrics reported beside the layer counters.
EXTRA = {
    # candidate pairs out of LSH banding, and the share of them that
    # removed a document (docs dropped by the near-dup stage / pairs)
    "dedup.lsh_candidate_pairs.pairs": "count",
    "dedup.lsh_candidate_pairs.pair_yield": "ratio",
    # Spark storage (memory + disk blocks) still held after the
    # untraced job returned
    "job.cache_retained_mb": "MB",
    # peak summed RSS of the process tree over set-up and the untraced
    # job; it swings by a quarter between runs as the JVM heap grows,
    # too wide for an end-to-end bound
    "job.peak_rss_mb": "MB",
    # wall time of the traced replay over the untraced job's; the
    # replay runs after that job in the same session, on pinned inputs
    "job.trace_overhead": "ratio",
}
UNITS = {"wall_s": "s", "exec_cpu_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_write_mb": "MB", "driver_gap_s": "s"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    names = {f"{layer}.{c}": UNITS[c] for layer, cs in LAYERS.items() for c in cs}
    names.update(EXTRA)
    return names


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


class Tracer:
    """Records spans around layer calls and labels their Spark jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[str] = []

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spark.sparkContext.setJobDescription(name)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent))
            self.spark.sparkContext.setJobDescription(parent)


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) log file under log_dir."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class StageStats:
    start_ms: int
    end_ms: int
    tasks: int
    cpu_ns: int
    shuffle_write_bytes: int


def stages_by_label(events: list[dict]) -> tuple[dict[str, int], dict[str, list[StageStats]]]:
    """(jobs per label, completed stages per label), where a label is
    the ``spark.job.description`` of the job that first ran the stage."""
    label_of_stage: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, list[StageStats]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.job.description")
            if label is None:
                continue
            jobs[label] = jobs.get(label, 0) + 1
            for sid in ev.get("Stage IDs", []):
                label_of_stage.setdefault(sid, label)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            label = label_of_stage.get(info["Stage ID"])
            if label is None or "Completion Time" not in info:
                continue
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

            def num(key: str) -> int:
                return int(acc.get(key) or 0)

            stages.setdefault(label, []).append(StageStats(
                start_ms=info["Submission Time"],
                end_ms=info["Completion Time"],
                tasks=info["Number of Tasks"],
                cpu_ns=num("internal.metrics.executorCpuTime"),
                shuffle_write_bytes=num("internal.metrics.shuffle.write.bytesWritten"),
            ))
    return jobs, stages


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_counters(spans: list[Span], events: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: summed wall, executor CPU, jobs, tasks, shuffle
    write, and driver gap (span wall minus the part of it that its
    stages' run intervals cover)."""
    jobs, stages = stages_by_label(events)
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        st = stages.get(sp.name, [])
        run = [(s.start_ms / 1e3, s.end_ms / 1e3) for s in st]
        c = out.setdefault(sp.name, {"wall_s": 0.0, "driver_gap_s": 0.0})
        wall = sp.end - sp.start
        c["wall_s"] += wall
        c["driver_gap_s"] += wall - _covered_s(run, sp.start, sp.end)
    for name, c in out.items():
        st = stages.get(name, [])
        c["jobs"] = jobs.get(name, 0)
        c["tasks"] = sum(s.tasks for s in st)
        c["exec_cpu_s"] = sum(s.cpu_ns for s in st) / 1e9
        c["shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in st) / 2**20
    return out
