"""Streaming exact dedup — the ingest-time half of the dedup family
(beyond-reference; batch forms live in llm_ops/dedup.py).

At 100 TB/day ingest you cannot re-scan the corpus per batch; the
streaming form keeps a state-store entry per key and drops
re-arrivals. `dropDuplicatesWithinWatermark` bounds that state by
the event-time watermark: a duplicate arriving within the watermark
window is dropped, and state older than the watermark is evicted —
state is O(keys per window), not O(all keys ever). The key should be
the content fingerprint (llm_ops.text.fingerprint), not the raw
text, so the state store holds 32-byte hashes.

The fuzzy (MinHash) gate below is the batch decision applied online:
:func:`fuzzy_dedup_batch` calls ``llm_ops.dedup.ingest_batch`` (and
through it ``dedup._admitted_keepers``, the admission rule the
semantic gate shares) against state kept in the shared segment
store of streaming/segments.py; :func:`fuzzy_dedup_stream` runs it
through that module's ``gate_stream`` foreachBatch wrapper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import segments as S


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop rows whose `key_cols` were already seen within the
    watermark window. Emits the FIRST arrival of each key; state is
    evicted once the watermark passes it."""
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def dedup_stream_against_corpus(
    stream: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming half of the incremental-ingest contract
    (cf. llm_ops.dedup.dedup_exact_incremental): drop arriving
    documents whose content fingerprint already exists in a STATIC
    corpus fingerprint table, then drop intra-stream re-arrivals.

    ``corpus_fps`` is a plain batch DataFrame with a column ``fp``
    (e.g. ``spark.read.parquet(fp_table)``) — Structured Streaming
    executes the stream-static LEFT ANTI join per micro-batch
    without any stream-side state for the corpus part: the corpus
    side is a static relation (re-read per batch when backed by
    files), never re-paired against itself, and only 32-byte
    fingerprints flow through the join. Intra-stream duplicates use
    the state store exactly like :func:`dedup_stream` — keyed on the
    fingerprint, watermark-bounded when ``event_time_col`` is given,
    unbounded (exact, state grows with distinct keys) otherwise.

    Adds the ``fp`` column to the output so a sink can append the
    survivors' fingerprints to the corpus fp table, closing the loop
    for the next ingest window."""
    from pyspark.sql import functions as F

    from ..llm_ops.text import fingerprint

    with_fp = stream.withColumn("fp", fingerprint(text_col))
    novel = with_fp.join(
        corpus_fps.select(F.col("fp")).distinct(), "fp", "left_anti"
    )
    if event_time_col is not None:
        return novel.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        )
    return novel.dropDuplicates(["fp"])


# ---------------------------------------------------------- fuzzy (MinHash) gate
_FUZZY_META = "meta.json"


def fuzzy_dedup_batch(
    batch: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    min_shared_bands: int = 1,
    sink=None,
    auto_compact_segments: int | None = None,
) -> DataFrame:
    """One micro-batch through the ONLINE MinHash near-dup gate —
    the fuzzy sibling of the exact corpus gate above and of the
    semantic store (streaming/semantic.py), completing the streaming
    dedup matrix (exact / fuzzy / semantic). The decision IS
    :func:`llm_ops.dedup.ingest_batch`, called against the store's
    accumulated fingerprint + band tables (pytest pins a multi-batch
    stream equal to the sequential ingest_batch twin): exact-dup
    drop first, then near-dup candidates of the existing corpus or
    of an earlier-id surviving batch doc (corpus wins, min-id within
    the batch), connected components over the batch-only pair graph.

    Store shape: the shared segment store (streaming/segments.py) —
    one immutable segment per admitting batch (``fps`` + ``bands``
    parquet) under an atomically-published ``meta.json`` manifest;
    a crash before publish leaves the previous generation live and
    an orphan dir the next batch GCs. The LSH params are pinned in
    the manifest: reusing a store under a different hash family
    would make the band index silently meaningless, so a mismatch
    raises.

    At-least-once replay is idempotent on STATE: a replayed batch's
    docs are already in the fp table, so the exact anti-join drops
    them and no second segment is written; ``sink`` output is
    at-least-once (the caller's reader dedups by ``fp``/id, the
    module-wide ledger rule).

    Scale shape: the corpus contributes only 32-byte fingerprints
    and (doc_id, band) keys — never text — each read by exactly one
    equi-join; per-batch cost is O(batch) + the batch-sized CC loop.

    ``auto_compact_segments=K``: the semantic store's persisted
    policy (set once, 0 clears) — a publish leaving more than K live
    segments folds the history into one (:func:`compact_fuzzy_store`)
    in the same turn; admission semantics are byte-unchanged.

    Returns the admitted (appendable) rows as a batch DataFrame.
    """
    import os

    from ..llm_ops.dedup import ingest_batch, minhash_band_rows
    from ..llm_ops.text import fingerprint

    os.makedirs(store_dir, exist_ok=True)
    meta = S.read_meta(store_dir, _FUZZY_META)
    params = {"num_hashes": num_hashes, "bands": bands, "n": n}
    if meta.get("params") not in (None, params):
        raise ValueError(
            f"store {store_dir} was built with {meta['params']}, "
            f"called with {params} — a band index under a different "
            "hash family is meaningless; use a fresh store_dir"
        )
    S.gc_segments(store_dir, meta)

    spark = batch.sparkSession
    segs = meta.get("segments", [])
    if segs:
        corpus_fps = S.read_part(spark, store_dir, segs, "fps")
        corpus_bands = S.read_part(spark, store_dir, segs, "bands")
    else:
        corpus_fps = batch.limit(0).select(fingerprint(text_col).alias("fp"))
        corpus_bands = minhash_band_rows(
            batch.limit(0), text_col, id_col, num_hashes, bands, n
        )

    appendable, new_fps, new_bands = ingest_batch(
        batch,
        corpus_fps,
        corpus_bands,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        min_shared_bands=min_shared_bands,
        # the default pin: ingest_batch eagerly pins `appendable`, so
        # everything below — sink, segment write, counts — reads the
        # PINNED result, not a lineage that would re-read the store
        # after this batch's segment publish changes it
        materialize=None,
    )

    if sink is not None:
        sink(appendable)

    fresh = meta.get("params") is None
    meta = dict(meta, params=params)
    S.set_compact_policy(meta, auto_compact_segments)
    if appendable.limit(1).count() > 0:
        seg = S.write_segment(
            store_dir, meta, {"fps": new_fps, "bands": new_bands},
            {"rows": int(appendable.count())},
        )
        meta = dict(meta, generation=int(meta.get("generation", 0)) + 1,
                    segments=segs + [seg])
        S.publish_meta(store_dir, _FUZZY_META, meta)
        if S.compaction_due(meta):
            # same-turn physical fold; retired dirs keep one-merge
            # reader grace (the NEXT batch's orphan GC sweeps them)
            compact_fuzzy_store(spark, store_dir)
    elif fresh or auto_compact_segments is not None:
        S.publish_meta(store_dir, _FUZZY_META, dict(
            meta, generation=int(meta.get("generation", 0)), segments=segs
        ))
    return appendable


def fuzzy_dedup_stream(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    pre_gate=None,
    **kwargs,
):
    """Wire a document stream through the online MinHash near-dup
    gate: admitted rows append to ``out_dir`` (parquet), state lives
    in ``store_dir``. Returns the started StreamingQuery (caller
    stops it). Keyword args are :func:`fuzzy_dedup_batch`'s.
    ``pre_gate`` mirrors the semantic stream's hook: a batch→batch
    callable applied before admission (e.g. the perplexity gate)."""
    return S.gate_stream(
        stream, fuzzy_dedup_batch, store_dir, out_dir, checkpoint_dir,
        pre_gate, kwargs,
    )


def compact_fuzzy_store(spark, store_dir: str) -> None:
    """Physically fold the fuzzy store's segment history into ONE
    segment — admission semantics byte-unchanged (the reader's view
    is the union of segments, and the fold writes exactly that
    union; fp and (doc_id, band) rows are unique across segments by
    construction since each doc is admitted once, with a defensive
    distinct against at-least-once artifacts). The retired segment
    dirs stay on disk until the next batch's orphan GC — one-merge
    reader grace, the semantic store's discipline."""
    meta = S.read_meta(store_dir, _FUZZY_META)
    segs = meta.get("segments", [])
    if len(segs) <= 1:
        return
    S.fold_segments(
        store_dir, _FUZZY_META, meta,
        {part: S.read_part(spark, store_dir, segs, part).distinct()
         for part in ("fps", "bands")},
        {"rows": int(sum(s.get("rows", 0) for s in segs))},
    )
