"""The segment store both near-dup gates keep their state in — the
fuzzy MinHash store (streaming/dedup.py) and the semantic store
(streaming/semantic.py) — plus the foreachBatch wiring that runs
either gate over a stream.

A store is a directory of IMMUTABLE segments, ``seg-<gen>-<hex>/``,
each holding named parquet parts (``fps``/``bands`` or
``docs``/``buckets``), under a JSON manifest (per-store file name)
that is published LAST by atomic rename and lists the live segments.
A batch writes only its own new segment — O(batch) — then publishes.
A crash before the publish leaves the previous manifest as the live
store and the new dir as an orphan; dirs the manifest does not list
(crash orphans and the previous publish's retirees) are deleted at
the START of the next batch, which gives any in-flight reader one
merge of grace (streaming/upsert.py's rule).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

from ..sources.io import read_json, write_json_atomic


def read_meta(store_dir: str, meta_file: str) -> dict:
    return read_json(os.path.join(store_dir, meta_file)) or {}


def publish_meta(store_dir: str, meta_file: str, meta: dict) -> None:
    """Atomic manifest publish: a torn write leaves the previous
    generation readable, never truncated JSON."""
    write_json_atomic(os.path.join(store_dir, meta_file), meta)


def gc_segments(store_dir: str, meta: dict) -> None:
    """Delete every seg-* dir the manifest does not list as live."""
    if not os.path.isdir(store_dir):
        return
    live = {s["dir"] for s in meta.get("segments", [])}
    for name in os.listdir(store_dir):
        if name.startswith("seg-") and name not in live:
            shutil.rmtree(os.path.join(store_dir, name), ignore_errors=True)


def read_part(spark, store_dir: str, segs: list[dict], part: str) -> DataFrame:
    """One named part, unioned over the given live segments."""
    return spark.read.parquet(*[os.path.join(store_dir, s["dir"], part) for s in segs])


def write_segment(
    store_dir: str, meta: dict, parts: dict[str, DataFrame], entry: dict
) -> dict:
    """Write one segment dir (one parquet dir per named part) and
    return its manifest entry, ``{"dir": name, **entry}``. NOT
    published: the caller lists the entry in the manifest it
    publishes last."""
    name = f"seg-{int(meta.get('generation', 0)) + 1:06d}-{uuid.uuid4().hex[:8]}"
    for part, df in parts.items():
        df.write.mode("errorifexists").parquet(os.path.join(store_dir, name, part))
    return {"dir": name, **entry}


def fold_segments(
    store_dir: str,
    meta_file: str,
    meta: dict,
    parts: dict[str, DataFrame],
    entry: dict | None,
) -> None:
    """Replace every live segment with ONE holding ``parts`` (the
    caller's folded frames; ``entry`` None = the fold is empty, no
    segment) and publish. The old segments move to ``retired`` and
    stay on disk until the next batch's GC — one-merge reader grace."""
    seg = write_segment(store_dir, meta, parts, entry) if entry is not None else None
    publish_meta(store_dir, meta_file, dict(
        meta,
        generation=int(meta.get("generation", 0)) + 1,
        retired=[s["dir"] for s in meta.get("segments", [])],
        segments=[seg] if seg is not None else [],
    ))


def set_compact_policy(meta: dict, auto_compact_segments: int | None) -> None:
    """Record the auto-compaction policy in ``meta``: K > 0 sets it,
    0 (or less) clears it, None leaves the persisted policy alone — so
    a policy set once applies to every later writer."""
    if auto_compact_segments is None:
        return
    if auto_compact_segments > 0:
        meta["auto_compact_segments"] = int(auto_compact_segments)
    else:
        meta.pop("auto_compact_segments", None)


def compaction_due(meta: dict) -> bool:
    """A publish left more live segments than the persisted policy."""
    policy = meta.get("auto_compact_segments")
    return bool(policy) and len(meta.get("segments", [])) > int(policy)


def gate_stream(
    stream: DataFrame,
    gate_batch,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str | None,
    pre_gate,
    kwargs: dict,
):
    """Run ``gate_batch(batch, store_dir, sink=..., **kwargs)`` on every
    non-empty micro-batch via foreachBatch: ``pre_gate`` (batch →
    batch, or None) runs first, admitted rows append to ``out_dir`` as
    parquet. Returns the started StreamingQuery (caller stops it)."""

    def _process(batch: DataFrame, _epoch: int) -> None:
        if batch.isEmpty():
            return
        if pre_gate is not None:
            batch = pre_gate(batch)
            if batch.isEmpty():
                return
        gate_batch(
            batch,
            store_dir,
            sink=lambda admitted: admitted.write.mode("append").parquet(out_dir),
            **kwargs,
        )

    writer = stream.writeStream.foreachBatch(_process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
