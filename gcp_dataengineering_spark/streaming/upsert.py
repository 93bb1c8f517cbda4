"""Streaming upsert sink: maintain a latest-version-wins snapshot
from a change stream — the online form of ops/compaction (which is
the batch form of the same contract).

Structured Streaming has no built-in mutable sink for plain parquet,
so the standard pattern is ``foreachBatch``: each micro-batch is a
small BATCH DataFrame, merged against the current snapshot with the
same deterministic `latest_by_key_agg` used offline, and the result
published atomically (on Delta/Iceberg the foreachBatch body becomes
a MERGE INTO and all the mechanics below disappear).

Two snapshot layouts:

- ``upsert_batch_into_snapshot`` — flat directory, full rewrite per
  batch, two-rename atomic swap. O(snapshot) per micro-batch:
  correct and simple, fine for dimension-sized state, wrong for
  fact-scale state.
- ``upsert_batch_into_bucketed_snapshot`` — the snapshot is laid out
  as key-hash bucket partitions (``_ub=<i>`` directories) and each
  micro-batch rewrites ONLY the buckets its keys land in. Cost per
  batch drops from O(snapshot) to O(snapshot / n_buckets ×
  touched_buckets): a batch touching few keys leaves every other
  bucket's files byte-identical on disk.

Bucketed publication protocol (round 8 — manifest isolation): data
files are immutable once written and are NEVER renamed or deleted at
publish time. A merge writes the touched buckets' new part files
alongside the old ones, then atomically publishes
``_upsert_manifest.json`` (write-aside + ``os.replace``) listing
exactly the live file set. Readers resolve through the manifest, so
a reader overlapping a merge sees either the old or the new COMPLETE
snapshot, never a mix — the replaced ("retired") files stay on disk
until the NEXT merge garbage-collects them, giving any in-flight
reader a full merge cycle of grace. This is the object-store-native
design (immutable objects + manifest pointer); the local-FS renames
here are only for staging files into place under unique names.
Crash at ANY point leaves the previous manifest intact; un-published
part files are swept as orphans by the next merge's GC.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ops.compaction import latest_by_key_agg
from ..sources.io import read_json, write_json_atomic


def upsert_batch_into_snapshot(
    batch: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    version_cols: list[str],
) -> None:
    """One merge: collapse the batch to its own latest per key, union
    with the existing snapshot (if any), keep the latest per key,
    atomically replace the snapshot."""
    spark = batch.sparkSession
    root = snapshot_dir.rstrip("/")
    if _read_meta(root) is not None:
        if _is_orphan_meta_only(root):
            # torn first BUCKETED write (meta landed, no data, no
            # manifest): recoverable garbage, not a claimed layout —
            # sweep it instead of demanding manual cleanup (ADVICE r7)
            os.remove(os.path.join(root, _META_FILE))
            if not os.listdir(root):
                os.rmdir(root)  # an empty dir is not a readable snapshot
        else:
            # a bucketed snapshot's _ub=<i> layout would be silently
            # flattened by this sink (and the mixed layout would
            # poison later bucketed merges) — refuse instead
            raise ValueError(
                f"{snapshot_dir} is a BUCKETED snapshot (_upsert_meta.json "
                "present): use upsert_batch_into_bucketed_snapshot / "
                "upsert_stream(n_buckets=...) with the pinned n_buckets"
            )
    tmp = root + "._upsert_tmp"
    old = root + "._upsert_old"
    # crash recovery BEFORE reading state (same hygiene as
    # io.compact_small_files): a leftover tmp is an unfinished
    # rewrite (garbage); a leftover old with the snapshot missing
    # means we crashed between the two renames — the old dir IS the
    # current state, roll it back rather than merging against nothing
    # and then deleting it; old alongside a live snapshot just missed
    # its final cleanup.
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(old):
        if os.path.exists(snapshot_dir):
            shutil.rmtree(old)
        else:
            os.rename(old, snapshot_dir)
    merged = latest_by_key_agg(batch, keys, version_cols)
    if os.path.exists(snapshot_dir):
        current = spark.read.parquet(snapshot_dir).select(*merged.columns)
        merged = latest_by_key_agg(current.unionByName(merged), keys, version_cols)
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(snapshot_dir):
        os.rename(snapshot_dir, old)
    os.rename(tmp, snapshot_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


BUCKET_COL = "_ub"  # reserved partition column of bucketed snapshots
_META_FILE = "_upsert_meta.json"  # leading '_' → invisible to Spark readers
_MANIFEST_FILE = "_upsert_manifest.json"


def _bucket_expr(keys: list[str], n_buckets: int):
    """Deterministic key-hash bucket id — a pure function of the key
    columns, so the same key always lands in the same directory."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


def _read_meta(snapshot_dir: str) -> dict | None:
    return read_json(os.path.join(snapshot_dir, _META_FILE))


def _read_manifest(snapshot_dir: str) -> dict | None:
    return read_json(os.path.join(snapshot_dir, _MANIFEST_FILE))


def _write_manifest(snapshot_dir: str, manifest: dict) -> None:
    """Atomic publish: readers see the old manifest or the new one,
    never a partial write (os.replace is atomic on POSIX)."""
    write_json_atomic(os.path.join(snapshot_dir, _MANIFEST_FILE), manifest)


def _bucket_dirs(snapshot_dir: str) -> list[str]:
    if not os.path.isdir(snapshot_dir):
        return []
    return sorted(
        n for n in os.listdir(snapshot_dir) if n.startswith(BUCKET_COL + "=")
    )


def _is_orphan_meta_only(snapshot_dir: str) -> bool:
    """A meta file with no manifest and no bucket data is the residue
    of a first merge that died before publishing anything — an empty
    snapshot, not a claimed layout (ADVICE r7)."""
    return (
        _read_meta(snapshot_dir) is not None
        and _read_manifest(snapshot_dir) is None
        and not _bucket_dirs(snapshot_dir)
    )


def _recover_legacy_buckets(snapshot_dir: str) -> None:
    """Crash hygiene for PRE-MANIFEST snapshots only (the old
    per-bucket two-rename swap): leftover tmp = unfinished rewrite
    (garbage); a bucket dir present under old but missing in the
    snapshot = crashed between its two renames, the old dir IS the
    state; old alongside a live bucket just missed final cleanup.
    Manifest-era merges never rename live directories, so this only
    runs while adopting a legacy layout."""
    tmp = snapshot_dir.rstrip("/") + "._upsert_tmp"
    old_root = snapshot_dir.rstrip("/") + "._upsert_old"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(old_root):
        for name in os.listdir(old_root):
            live = os.path.join(snapshot_dir, name)
            stale = os.path.join(old_root, name)
            if os.path.exists(live):
                shutil.rmtree(stale)
            else:
                os.rename(stale, live)
        shutil.rmtree(old_root)


def _adopt_legacy_manifest(snapshot_dir: str) -> dict:
    """Build a generation-0 manifest from a pre-manifest bucketed
    layout: every parquet file currently in a bucket dir is live."""
    buckets: dict[str, list[str]] = {}
    for name in _bucket_dirs(snapshot_dir):
        bucket_id = name.split("=", 1)[1]
        files = sorted(
            os.path.join(name, f)
            for f in os.listdir(os.path.join(snapshot_dir, name))
            if f.endswith(".parquet")
        )
        if files:
            buckets[bucket_id] = files
    return {"generation": 0, "buckets": buckets, "retired": []}


def _gc_unreferenced(snapshot_dir: str, live: set[str]) -> None:
    """Delete every parquet file in a bucket dir that the manifest
    does not reference: last generation's retirees (their one-merge
    reader grace has expired — this runs at the START of the next
    merge) plus orphans from torn writes that never got published."""
    for name in _bucket_dirs(snapshot_dir):
        bdir = os.path.join(snapshot_dir, name)
        for f in os.listdir(bdir):
            rel = os.path.join(name, f)
            if f.endswith(".parquet") and rel not in live:
                os.remove(os.path.join(bdir, f))
        if not os.listdir(bdir):
            os.rmdir(bdir)


def upsert_batch_into_bucketed_snapshot(
    batch: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    version_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """One merge that rewrites only the key-hash buckets the batch
    touches. The snapshot lives as ``snapshot_dir/_ub=<i>/`` parquet
    partitions; the current state for the merge is resolved through
    ``_upsert_manifest.json`` and read file-by-file for the touched
    bucket ids only (untouched buckets are never opened, let alone
    rewritten). n_buckets is pinned in ``_upsert_meta.json`` at first
    write; later calls must agree or the key→bucket mapping would
    split keys across buckets.

    Reader isolation: new files land under unique names next to the
    old ones, and the manifest is published LAST with an atomic
    rename — a reader that resolved the manifest at any instant sees
    a complete, consistent snapshot. Replaced files are retired (kept
    on disk, listed in the new manifest's ``retired``) and deleted
    only by the NEXT merge, so an in-flight reader has a full merge
    cycle to finish. Writers are single at a time (foreachBatch
    serializes micro-batches); a crash anywhere leaves the previous
    manifest as the live snapshot.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")
    spark = batch.sparkSession
    snapshot_dir = snapshot_dir.rstrip("/")
    meta = _read_meta(snapshot_dir)
    if meta is not None:
        if meta["n_buckets"] != n_buckets:
            raise ValueError(
                f"snapshot was bucketed with n_buckets={meta['n_buckets']}, "
                f"got {n_buckets}: the key->bucket mapping would break"
            )
        if meta["keys"] != keys:
            raise ValueError(
                f"snapshot was bucketed on keys={meta['keys']}, got {keys}"
            )
    if meta is None and os.path.isdir(snapshot_dir) and any(
        not name.startswith((BUCKET_COL + "=", "_", "."))
        for name in os.listdir(snapshot_dir)
    ):
        # a FLAT snapshot (plain part files, no meta): bucketing on
        # top would produce a mixed layout that reads wrong — refuse
        raise ValueError(
            f"{snapshot_dir} holds a flat (non-bucketed) snapshot: "
            "use upsert_batch_into_snapshot, or start the bucketed "
            "layout in a fresh directory"
        )
    manifest = _read_manifest(snapshot_dir)
    if manifest is None and meta is not None and _bucket_dirs(snapshot_dir):
        # pre-manifest layout: finish any torn two-rename swap, then
        # adopt the directory listing as generation 0 and PUBLISH the
        # adoption immediately — from here on every file not in a
        # manifest is an orphan, so a crash mid-merge can never let a
        # later adoption bless half-staged files as live (r8 review)
        _recover_legacy_buckets(snapshot_dir)
        manifest = _adopt_legacy_manifest(snapshot_dir)
        _write_manifest(snapshot_dir, manifest)
    tmp = snapshot_dir + "._upsert_tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # unfinished write-aside: never published
    stray = os.path.join(snapshot_dir, _MANIFEST_FILE + ".tmp")
    if os.path.exists(stray):
        os.remove(stray)  # torn manifest publish: the old manifest won

    # persisted: the touched-bucket collect below and the final write
    # would otherwise each re-execute the batch aggregation
    merged = (
        latest_by_key_agg(batch, keys, version_cols)
        .withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
        .persist()
    )
    try:
        # touched bucket ids: bounded by n_buckets, a scalar collect
        touched = sorted(
            r[0] for r in merged.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            return
        _merge_touched_buckets(
            spark, merged, snapshot_dir, tmp, keys, version_cols,
            n_buckets, touched, meta, manifest,
        )
    finally:
        merged.unpersist()


def _merge_touched_buckets(
    spark, merged, snapshot_dir, tmp, keys, version_cols,
    n_buckets, touched, meta, manifest,
) -> None:
    # pin the layout contract BEFORE any data lands: a crash after
    # data lands but before a late meta write would let a future call
    # silently treat existing buckets as a fresh snapshot. The meta
    # also records the row schema so a torn-first-write directory
    # (meta only, nothing published) still READS as an empty snapshot.
    os.makedirs(snapshot_dir, exist_ok=True)
    if meta is None or "schema" not in meta:
        # write-aside + fsync + os.replace, same discipline as
        # _write_manifest: meta is load-bearing (its recorded schema
        # drives _empty_from_meta, and pre-r8 snapshots are upgraded by
        # rewriting it) — a crash mid-write must leave either the old
        # meta or the new one, never truncated JSON that turns every
        # later merge/read into a raw JSONDecodeError
        write_json_atomic(
            os.path.join(snapshot_dir, _META_FILE),
            {
                "n_buckets": n_buckets,
                "keys": keys,
                "schema": merged.drop(BUCKET_COL).schema.json(),
            },
        )
    if manifest is None:
        # first manifest-era merge on a fresh directory: pin the empty
        # generation 0 BEFORE any data lands, so a crash mid-staging
        # leaves orphans under a live manifest (swept by the next
        # merge's GC) instead of an ambiguous no-manifest directory
        manifest = {"generation": 0, "buckets": {}, "retired": []}
        _write_manifest(snapshot_dir, manifest)
    # GC: last merge's retirees have had their one-merge reader grace;
    # sweep them together with any never-published orphan files
    live_now = {f for fs in manifest["buckets"].values() for f in fs}
    _gc_unreferenced(snapshot_dir, live_now)

    touched_set = {str(b) for b in touched}
    current_files = [
        os.path.join(snapshot_dir, f)
        for b in sorted(touched_set)
        for f in manifest["buckets"].get(b, [])
    ]
    if current_files:
        current = spark.read.parquet(*current_files).select(
            *[c for c in merged.columns if c != BUCKET_COL]
        )
        merged = latest_by_key_agg(
            current.unionByName(merged.drop(BUCKET_COL)), keys, version_cols
        ).withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
    # write aside, then stage each part file into its live bucket dir
    # under its unique Spark-generated name — existing files untouched
    merged.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(tmp)
    new_buckets: dict[str, list[str]] = {}
    for name in _bucket_dirs(tmp):
        bucket_id = name.split("=", 1)[1]
        dst_dir = os.path.join(snapshot_dir, name)
        os.makedirs(dst_dir, exist_ok=True)
        files = []
        for f in sorted(os.listdir(os.path.join(tmp, name))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, name, f), os.path.join(dst_dir, f)
                )
                files.append(os.path.join(name, f))
        new_buckets[bucket_id] = files
    shutil.rmtree(tmp)
    # publish: touched buckets point at the new files, untouched carry
    # over; the files just replaced are retired until the next merge
    retired = [
        f
        for b in sorted(touched_set)
        for f in manifest["buckets"].get(b, [])
    ]
    buckets = {
        b: fs for b, fs in manifest["buckets"].items() if b not in touched_set
    }
    buckets.update(new_buckets)
    _write_manifest(
        snapshot_dir,
        {
            "generation": int(manifest.get("generation", 0)) + 1,
            "buckets": buckets,
            "retired": retired,
        },
    )


def read_bucketed_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """The current state of a bucketed snapshot, bucket column
    dropped (it is an implementation detail of the layout). Resolves
    through the manifest when one exists, so a concurrent merge can
    never expose a half-swapped view; a meta-only directory (torn
    first write) reads as an EMPTY snapshot with the recorded schema."""
    snapshot_dir = snapshot_dir.rstrip("/")
    manifest = _read_manifest(snapshot_dir)
    if manifest is not None:
        files = [
            os.path.join(snapshot_dir, f)
            for fs in manifest["buckets"].values()
            for f in fs
        ]
        if files:
            return spark.read.parquet(*files)
        return _empty_from_meta(spark, snapshot_dir)
    meta = _read_meta(snapshot_dir)
    if meta is not None and not _bucket_dirs(snapshot_dir):
        return _empty_from_meta(spark, snapshot_dir)
    # pre-manifest layout (or plain directory): directory listing read
    return spark.read.parquet(snapshot_dir).drop(BUCKET_COL)


def _empty_from_meta(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    meta = _read_meta(snapshot_dir) or {}
    if "schema" not in meta:
        raise ValueError(
            f"{snapshot_dir}: empty bucketed snapshot with a pre-r8 meta "
            "(no recorded schema) — re-run a merge to repair, or delete "
            f"{_META_FILE} to start fresh"
        )
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    return spark.createDataFrame([], schema)


def upsert_stream(
    stream: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    version_cols: list[str],
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
):
    """Wire a change stream into the upsert sink. Returns the started
    StreamingQuery (caller stops it). Restart-safe up to foreachBatch's
    at-least-once contract: replaying a batch re-merges the same rows,
    and latest-version-wins merging is idempotent. With ``n_buckets``
    set, the snapshot is the bucketed layout and each micro-batch
    rewrites only the buckets it touches."""
    if n_buckets is not None:
        def _merge(batch, _epoch):
            upsert_batch_into_bucketed_snapshot(
                batch, snapshot_dir, keys, version_cols, n_buckets
            )
    else:
        def _merge(batch, _epoch):
            upsert_batch_into_snapshot(batch, snapshot_dir, keys, version_cols)
    writer = stream.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
