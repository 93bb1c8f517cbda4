"""Streaming semantic dedup (r14 — the r13 verdict's item 2): the
SemDeDup-style gate of ``llm_ops.embed`` run ONLINE, so a near-line
corpus builder drops re-phrasings at ingest time instead of waiting
for the next batch rebuild.

Structured Streaming's built-in stateful operators can't express
this stage: semantic dedup needs PAIRWISE integer-cosine decisions
against previously seen documents, co-located by LSH bucket, plus a
per-document combine across L independent tables — a chain of two
stateful shapes the engine won't compose in one query. So the
operator follows this repo's other mutable-state streaming sink
(streaming/upsert.py) and runs as ``foreachBatch``: each micro-batch
is a small BATCH DataFrame, decided against an explicit on-disk
bucket store by CALLING the batch twin's steps, not restating them —

1. ``embed._embed_nonzero``: the integer embedding + squared norm of
   every nonzero-vector doc (bit-for-bit the batch twin's vectors);
2. ``embed._bucket_rows``: the SAME seeded gaussian sign-LSH tables,
   vector and norm carried; its ids-only projection is the bucket
   index that is matched and stored;
3. cross-batch candidates: equi-join the batch's (tbl, bucket) rows
   against the store's — never all-pairs — then the batch twin's
   integer-cosine decision ``embed._int_cosine_filter``;
4. within-batch pairs: ``embed._bucket_pairs`` (the batch twin's
   bucket self-join with the decision inside), resolved to connected
   components (``dedup.resolve_dup_groups``, pointer-doubling);
5. ``dedup._admitted_keepers`` — ``ingest_batch``'s admission rule:
   a component any member of which matched an earlier stored doc is
   ANCHORED (a re-phrasing of something already admitted) and is
   dropped whole; each other component admits its min-id keeper;
6. append ALL seen nonzero-vector batch docs (admitted or not) to
   the store and evict rows older than the event-time watermark —
   state is O(docs per watermark window), the
   ``dropDuplicatesWithinWatermark`` bound, not O(corpus).

Zero-vector documents (no ASCII-alphanumeric content) carry no
semantic evidence: they are admitted unconditionally and never
stored — the batch twin's rule, which also keeps the one
pathological empty-doc hot bucket out of the store.

SEMANTICS vs the batch twin (``embed.semantic_dedup``): within one
micro-batch the resolution IS the batch twin (CC, min-id keeper) —
a single-batch replay matches it row-for-row. Across batches the
operator is GREEDY FIRST-ARRIVAL: a doc is dropped iff its component
reaches any EARLIER-SEEN doc. Storing dropped docs too (step 6) makes
the reachable set the full seen pair graph, so the two forms agree
whenever duplicate clusters are mutually similar (near-cliques — the
paraphrase-cluster shape real corpora produce) and arrivals respect
id order; a CHAIN component whose links arrive in separate batches
can retain one extra early member per chain break, and a cluster
whose min id arrives late keeps the earliest arrival instead. The
batch rebuild remains the authority; the stream/batch parity pytest
pins the clique + id-ordered case exactly.

Store layout & crash safety (r15): the shared segment store of
streaming/segments.py (the fuzzy gate's too) — one IMMUTABLE
``seg-<gen>-<hex>/`` segment per micro-batch holding ``docs`` (one
row per doc: _sid, _sv, _sn2, _sepoch) and ``buckets`` (ids-only ×L
explode, _sepoch denormalized on so the eviction filter needs no
join), under the ``_semantic_store_meta.json`` manifest, published
LAST by atomic rename, which lists the live segments with their
event-epoch ranges plus the monotonic high water mark. Eviction is
LOGICAL first (readers filter ``_sepoch >= hwm − watermark``, exact)
and physical at segment granularity (a segment whose max epoch has
aged past the cutoff leaves the manifest; its directory is GC'd at
the START of the next batch — one merge of reader grace). Crash at
any point leaves the previous manifest as the live store; unpublished
segment dirs are swept as orphans. Long-running streams compact
segments (and reconcile greedy-vs-batch drift) with
:func:`compact_semantic_store`.

foreachBatch is at-least-once: the sink callback runs BEFORE the
store update, so a replayed batch can duplicate admitted rows
downstream but never lose them (and once the store holds the
batch's docs, a replay self-matches and admits nothing new — the
store doubles as the dedup ledger; the replayed segment's duplicate
rows are harmless to matching and fold away at compaction).

Rows with a NULL event time carry no time evidence: they are stored
under the batch's high water mark (ADVICE r14 — they previously
evicted same-batch, leaving re-phrasings of them uncatchable), so
they get a full watermark window of state like any on-time row.
Only rows seen before ANY event time existed are stored with a NULL
epoch, and those age out as soon as a high water mark appears.

On an object store / Delta/Iceberg deployment the segment list maps
to table snapshots and the manifest to the table's own metadata
(append = commit, eviction = partition drop); the decision plan —
bucket equi-joins + integer cosine — is unchanged, which is the
point of sharing the batch machinery.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm_ops.dedup import _admitted_keepers, resolve_dup_groups
from ..llm_ops.embed import (
    EMBED_SALT,
    _bucket_pairs,
    _bucket_rows,
    _embed_nonzero,
    _int_cosine_filter,
    int_cosine_pairs_guard,
)
from ..llm_ops.materialize import materialize as _materialize
from . import segments as S

__all__ = [
    "compact_semantic_store",
    "parse_watermark_seconds",
    "read_semantic_store",
    "semantic_dedup_batch",
    "semantic_dedup_stream",
]

_META_FILE = "_semantic_store_meta.json"
_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def parse_watermark_seconds(watermark: str) -> int:
    """'10 minutes' → 600; the CalendarInterval subset Structured
    Streaming watermarks actually use (single value + unit)."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]+)\s*", watermark.lower())
    if not m or m.group(2) not in _UNITS:
        raise ValueError(
            f"unparseable watermark {watermark!r}; use '<n> "
            f"{'/'.join(sorted(set(_UNITS)))}'"
        )
    return int(m.group(1)) * _UNITS[m.group(2)]


def _read_meta(store_dir: str) -> dict:
    return S.read_meta(store_dir, _META_FILE)


def _segment_expired(seg: dict, cutoff: float) -> bool:
    """A segment leaves the manifest when every row it could
    contribute is already dropped by the logical eviction filter:
    its max epoch aged past the cutoff, or it holds only NULL-epoch
    rows (stored before any event time existed — dead as soon as a
    high water mark appears, the documented corner)."""
    return seg["max_epoch"] is None or seg["max_epoch"] < cutoff


def _segment_entry(docs: DataFrame) -> dict | None:
    """Manifest fields of a segment holding ``docs`` (row count and
    event-epoch range), or None when it would be empty."""
    n, lo, hi = docs.agg(
        F.count(F.lit(1)), F.min("_sepoch"), F.max("_sepoch")
    ).collect()[0]
    return {"rows": int(n), "min_epoch": lo, "max_epoch": hi} if n else None


def _is_legacy_store(store_dir: str) -> bool:
    """Pre-r15 two-rename layout: whole-table docs/ + buckets/ dirs
    (possibly mid-swap) and no segment manifest."""
    meta = _read_meta(store_dir)
    if "segments" in meta:
        return False
    return any(
        os.path.isdir(os.path.join(store_dir, d))
        for d in ("docs", "buckets", "docs._old", "buckets._old")
    )


def _recover_legacy_table(store_dir: str, name: str) -> None:
    """Finish a torn two-rename swap of the legacy layout: tmp is an
    unfinished rewrite (garbage); old with the live dir missing IS
    the state — roll it back."""
    part_dir = os.path.join(store_dir, name)
    tmp, old = part_dir + "._tmp", part_dir + "._old"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(old):
        if os.path.exists(part_dir):
            shutil.rmtree(old)
        else:
            os.rename(old, part_dir)


def _legacy_frames(spark, store_dir: str):
    """Read a pre-r15 store as (docs, buckets) with the segment-era
    schema: legacy buckets rows carry no _sepoch, so it is joined on
    from docs (legacy eviction was physical — the on-disk rows are
    already post-eviction, no filter needed)."""
    docs = spark.read.parquet(os.path.join(store_dir, "docs"))
    buckets = spark.read.parquet(os.path.join(store_dir, "buckets")).join(
        docs.select("_sid", "_sepoch"), "_sid", "left"
    )
    return docs, buckets


def _migrate_legacy_store(spark, store_dir: str) -> None:
    """One-time rewrite of a pre-r15 two-rename store into the
    segment-manifest layout (O(store), once): recover any torn swap,
    fold the whole legacy state into segment #1, publish, drop the
    legacy dirs."""
    _recover_legacy_table(store_dir, "docs")
    _recover_legacy_table(store_dir, "buckets")
    meta = _read_meta(store_dir)
    docs, buckets = _legacy_frames(spark, store_dir)
    new_meta = dict(meta)
    new_meta.update({"layout": 2, "generation": 0, "segments": [], "retired": []})
    entry = _segment_entry(docs)
    if entry is not None:
        new_meta["segments"] = [S.write_segment(
            store_dir, new_meta, {"docs": docs, "buckets": buckets}, entry
        )]
    S.publish_meta(store_dir, _META_FILE, new_meta)
    shutil.rmtree(os.path.join(store_dir, "docs"))
    shutil.rmtree(os.path.join(store_dir, "buckets"))


def read_semantic_store(
    spark, store_dir: str
) -> tuple[DataFrame | None, DataFrame | None, dict]:
    """(docs, buckets, meta) — None frames when the store is empty.
    docs: (_sid, _sv array<bigint>, _sn2, _sepoch); buckets:
    (_sid, tbl, bucket, _sepoch). Resolves through the segment
    manifest, with the logical eviction filter (``_sepoch >= high
    water mark − watermark``) applied — readers see exactly the rows
    the pre-r15 physical rewrite would have kept, while expired
    segments wait for the next batch's GC. Reading a pre-r15 store
    adapts in memory without rewriting it (the write path migrates)."""
    meta = _read_meta(store_dir)
    if "segments" not in meta:
        if _is_legacy_store(store_dir) and os.path.isdir(
            os.path.join(store_dir, "docs")
        ):
            docs, buckets = _legacy_frames(spark, store_dir)
            return docs, buckets, meta
        return None, None, meta
    segs = meta["segments"]
    if not segs:
        return None, None, meta
    docs = S.read_part(spark, store_dir, segs, "docs")
    buckets = S.read_part(spark, store_dir, segs, "buckets")
    hwm, wm = meta.get("max_event_epoch"), meta.get("watermark_seconds")
    if hwm is not None and wm is not None:
        cutoff = F.lit(hwm - wm)
        docs = docs.filter(F.col("_sepoch") >= cutoff)
        buckets = buckets.filter(F.col("_sepoch") >= cutoff)
    return docs, buckets, meta


def semantic_dedup_batch(
    batch: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
    ngram: int = 3,
    max_chars: int = 256,
    salt: str = EMBED_SALT,
    cos_num: int = 92,
    cos_den: int = 100,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 7,
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
    sink=None,
    auto_compact_segments: int | None = None,
) -> DataFrame:
    """One micro-batch through the semantic gate (see module
    docstring for the full decision procedure). Returns the ADMITTED
    rows (original batch columns), PINNED eagerly and unconditionally
    (ADVICE r14: the caller may hold the frame across the next
    batch, whose segment GC deletes the store files a lazy plan
    would still reference — pinning here is a correctness
    requirement, not a tuning choice). ``sink`` (admitted → None)
    runs BEFORE the store update, the at-least-once publish order.

    Without ``event_time_col`` the store is exact and grows with
    distinct seen docs (the ``dedup_stream_against_corpus``
    unbounded mode); with it, store rows older than the event-time
    high water mark minus ``watermark`` age out (logically at the
    cutoff, physically at segment granularity). Rows with a NULL
    event time are stored under the batch's high water mark — a
    full watermark window of state (ADVICE r14) — except rows seen
    before ANY event time existed, which age out as soon as a high
    water mark appears.

    ``auto_compact_segments=K`` (r16) records a policy in the store
    meta, honored by every later writer until 0 clears it: whenever a
    publish leaves MORE than K live segments, the same foreachBatch
    turn folds the layout to one segment
    (:func:`compact_semantic_store` with ``resolve=False`` — a pure
    _sid-dedup rewrite, so admission semantics are byte-unchanged);
    retired segments keep the usual one-merge reader grace."""
    int_cosine_pairs_guard(dim, max(max_chars - ngram + 1, 1), cos_den)
    spark = batch.sparkSession
    if batch.isEmpty():
        return batch.limit(0)
    # store upkeep BEFORE the read: adopt a pre-r15 layout once, then
    # sweep segment dirs the previous publish retired (their one-merge
    # reader grace expired) along with any crash orphans
    if _is_legacy_store(store_dir):
        _migrate_legacy_store(spark, store_dir)
    S.gc_segments(store_dir, _read_meta(store_dir))

    # 1-2. the batch twin's embed + bucketing steps; the vector-carrying
    # bucket rows are pinned once and their ids-only projection is the
    # bucket index for cross-batch matching and the store append
    nonzero = _embed_nonzero(
        batch, id_col, text_col, dim, ngram, salt, max_chars, None
    )
    bx = _materialize(
        _bucket_rows(nonzero, id_col, dim, n_planes, n_tables, seed), None
    )
    bucket_ids = bx.select("_id", "tbl", "bucket")

    # 3. cross-batch: batch buckets ⋈ store buckets (ids-only), then
    # vectors joined onto the distinct candidates for the threshold
    store_docs, store_buckets, meta = read_semantic_store(spark, store_dir)
    if store_docs is not None:
        cross = (
            bucket_ids.withColumnRenamed("_id", "id_a")
            .join(store_buckets.select("_sid", "tbl", "bucket"), ["tbl", "bucket"])
            .select("id_a", "_sid")
            .distinct()
            .join(
                nonzero.select(
                    F.col(id_col).alias("id_a"), F.col("_eq").alias("_va"),
                    F.col("_n2").alias("_na2"),
                ),
                "id_a",
            )
            .join(
                store_docs.select(
                    "_sid", F.col("_sv").alias("_vb"), F.col("_sn2").alias("_nb2")
                ),
                "_sid",
            )
        )
        matched = (
            _int_cosine_filter(cross, cos_num, cos_den)
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
    else:
        matched = nonzero.select(F.col(id_col)).limit(0)

    # 4. within-batch pairs (the batch twin's bucket-pair step) →
    # connected components over ALL batch ids (zero-vector docs pair
    # with nothing → their own keepers)
    groups = resolve_dup_groups(
        batch.select(F.col(id_col)),
        _bucket_pairs(bx, cos_num, cos_den).select("id_a", "id_b"),
        id_col=id_col, materialize=None,
    )

    # 5. drop anchored components whole; admit min-id keepers of the
    # rest — pinned eagerly and UNCONDITIONALLY (True): the caller's
    # handle must survive the next batch's segment GC — see the
    # docstring (ADVICE r14)
    keeper_ids = _admitted_keepers(groups, matched, id_col)
    admitted = _materialize(batch.join(keeper_ids, id_col, "left_semi"), True)
    if sink is not None:
        sink(admitted)

    # 6. store append (ALL seen nonzero docs — dropped docs stay
    # reachable, see the module's semantics note): ONE new immutable
    # segment, O(batch) I/O; eviction retires whole expired segments
    # from the manifest, and readers apply the exact cutoff filter
    new_meta = dict(meta)
    new_meta.setdefault("layout", 2)
    new_meta["cos_num"], new_meta["cos_den"] = cos_num, cos_den
    S.set_compact_policy(new_meta, auto_compact_segments)
    hwm = None
    if event_time_col is not None:
        epoch = F.col(event_time_col).cast("timestamp").cast("double")
        batch_max = batch.agg(F.max(epoch)).collect()[0][0]
        finite = [
            x for x in (meta.get("max_event_epoch"), batch_max)
            if x is not None
        ]
        hwm = max(finite) if finite else None
        # NULL event times carry no time evidence: store them under
        # the batch's high water mark so they hold a full watermark
        # window of state (ADVICE r14). Before any hwm exists they
        # stay NULL and age out when one appears.
        epoch = F.coalesce(epoch, F.lit(hwm).cast("double"))
    else:
        epoch = F.lit(None).cast("double")
    new_docs = nonzero.join(
        batch.select(F.col(id_col), epoch.alias("_sepoch")), id_col
    ).select(
        F.col(id_col).alias("_sid"), F.col("_eq").alias("_sv"),
        F.col("_n2").alias("_sn2"), "_sepoch",
    )
    new_buckets = bucket_ids.withColumnRenamed("_id", "_sid").join(
        new_docs.select("_sid", "_sepoch"), "_sid"
    )
    os.makedirs(store_dir, exist_ok=True)
    entry = _segment_entry(new_docs)
    live = list(meta.get("segments", []))
    retired: list[str] = []
    if hwm is not None:
        new_meta["max_event_epoch"] = hwm
        new_meta["watermark_seconds"] = parse_watermark_seconds(watermark)
        cutoff = hwm - new_meta["watermark_seconds"]
        retired = [s["dir"] for s in live if _segment_expired(s, cutoff)]
        live = [s for s in live if not _segment_expired(s, cutoff)]
    if entry is not None:
        live.append(S.write_segment(
            store_dir, new_meta, {"docs": new_docs, "buckets": new_buckets}, entry
        ))
    new_meta["generation"] = int(meta.get("generation", 0)) + 1
    new_meta["segments"] = live
    new_meta["retired"] = retired
    # publish LAST: a crash above leaves the previous manifest live
    # and the new segment as an orphan for the next batch's GC
    S.publish_meta(store_dir, _META_FILE, new_meta)
    # auto-compaction AFTER the publish (a crash between the two
    # leaves a correct uncompacted store — the next batch retries):
    # physical-only fold, admission semantics untouched
    if S.compaction_due(new_meta):
        # gc=False: this publish just retired segments via watermark
        # expiry — deleting them here would cut short the one-merge
        # reader grace (GC belongs to the START of the next batch)
        compact_semantic_store(
            spark, store_dir, id_col=id_col, rewrite=True, resolve=False,
            gc=False,
        )
    return admitted


def compact_semantic_store(
    spark,
    store_dir: str,
    id_col: str = "doc_id",
    cos_num: int | None = None,
    cos_den: int | None = None,
    rewrite: bool = True,
    resolve: bool = True,
    gc: bool = True,
) -> DataFrame:
    """Offline batch-twin compaction of a streaming semantic store
    (r15 — the r14 verdict's item 3): re-resolve the store's FULL
    pair graph with ``embed.semantic_dedup``'s exact semantics and
    (optionally) rewrite the physical layout to one fresh segment.

    Two jobs in one pass, both needed by a long-lived stream:

    - **Reconciliation.** Cross-batch streaming resolution is greedy
      first-arrival (module docstring), but the store holds every
      seen doc's vector and buckets, so the batch twin's answer is
      reconstructible: the stored vectors are joined onto the stored
      buckets and run through the batch twin's bucket-pair step
      (``embed._bucket_pairs``) at the threshold the batches used
      (recorded in the meta; override via ``cos_num``/``cos_den``),
      then connected components, min-id keeper. Returns (id_col,
      group_id, keep) over every live stored doc — ``keep == False``
      rows are the revocation list, exactly
      ``embed.semantic_dedup``'s group frame with keep flagged.
    - **Physical compaction.** With ``rewrite=True`` the history
      (plus at-least-once replay duplicates, folded away by _sid) is
      rewritten as ONE segment (``segments.fold_segments``): old
      segments retire with one-merge reader grace. Rows keep their
      epochs and the manifest keeps the high water mark.

    Run it while the stream is between batches (single writer,
    foreachBatch's contract). ``resolve=False`` (r16) is the physical
    fold alone — store content and so admission unchanged, empty
    result — the cheap form the ``auto_compact_segments`` hook runs.
    ``gc=False`` (r17) skips the start-of-call sweep: the hook passes
    it because its own publish JUST retired segments, and sweeping
    them in the same turn would cut short their reader grace.
    """
    if _is_legacy_store(store_dir):
        _migrate_legacy_store(spark, store_dir)
    if gc:
        S.gc_segments(store_dir, _read_meta(store_dir))
    docs, buckets, meta = read_semantic_store(spark, store_dir)
    result = spark.createDataFrame(
        [], f"{id_col} long, group_id long, keep boolean"
    )
    if docs is None:
        return result
    num = cos_num if cos_num is not None else meta.get("cos_num")
    den = cos_den if cos_den is not None else meta.get("cos_den")
    if resolve and (num is None or den is None):
        raise ValueError(
            f"{store_dir}: no cosine threshold recorded in the store meta "
            "(pre-r15 store?) — pass cos_num/cos_den explicitly"
        )
    # replay duplicates from at-least-once batches fold away here;
    # pinned EAGERLY (True — same rule as semantic_dedup_batch)
    # because both the pair self-join and the segment rewrite read
    # these frames, and the rewrite retires the very segments they
    # were read from: a lazy re-read after GC would miss files.
    docs = _materialize(docs.dropDuplicates(["_sid"]), True)
    buckets = _materialize(
        buckets.dropDuplicates(["_sid", "tbl", "bucket"]), True
    )
    if resolve:
        bx = buckets.select(F.col("_sid").alias("_id"), "tbl", "bucket").join(
            docs.select(
                F.col("_sid").alias("_id"), F.col("_sv").alias("_v"),
                F.col("_sn2").alias("_n2"),
            ),
            "_id",
        )
        groups = resolve_dup_groups(
            docs.select(F.col("_sid").alias(id_col)),
            _bucket_pairs(bx, num, den).select("id_a", "id_b"),
            id_col=id_col, materialize=None,
        )
        result = _materialize(
            groups.withColumn("keep", F.col(id_col) == F.col("group_id")), True
        )
    if rewrite:
        S.fold_segments(
            store_dir, _META_FILE, meta,
            {"docs": docs,
             "buckets": buckets.select("_sid", "tbl", "bucket", "_sepoch")},
            _segment_entry(docs),
        )
    return result


def semantic_dedup_stream(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    pre_gate=None,
    **kwargs,
):
    """Wire a document stream through the semantic gate: admitted
    rows append to ``out_dir`` (parquet), state lives in
    ``store_dir``. Returns the started StreamingQuery (caller
    stops it). Keyword args are :func:`semantic_dedup_batch`'s.

    ``pre_gate`` (r17): an optional batch→batch callable applied to
    each micro-batch BEFORE semantic admission — the hook for gates
    that cannot run in-query (e.g. the perplexity gate: its lag()
    window is unsupported on streaming DataFrames). Rows the gate
    drops never reach the semantic store, exactly as if the batch
    pipeline had dropped them before its semantic stage."""
    return S.gate_stream(
        stream, semantic_dedup_batch, store_dir, out_dir, checkpoint_dir,
        pre_gate, kwargs,
    )
