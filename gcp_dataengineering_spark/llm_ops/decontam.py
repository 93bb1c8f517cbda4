"""Eval-set decontamination: flag training documents that share word
n-grams with a held-out evaluation set — the standard pre-training
hygiene step (benchmark answers leaking into the training corpus
inflate eval scores; every published pipeline n-gram-filters for it,
typically with 8-13-gram overlap).

Three published "dirty" definitions, all here:

- **count rule** (GPT-3 appendix C): ≥ ``min_shared`` colliding
  n-grams — :func:`contamination_hits` / :func:`decontaminate`.
- **fraction rule** (the PaLM/Llama family: a doc is contaminated
  when a high share — PaLM used 70% — of its n-grams are seen in the
  eval set): ``min_shared_frac=(num, den)`` on the same functions;
  the verdict is exact integer arithmetic
  (``n_shared·den ≥ num·n_total``), no float thresholds.
- **fuzzy rule** (near-duplicate overlap that exact n-grams miss —
  light paraphrases, re-tokenized copies; the StarCoder/Dolma-style
  MinHash decontamination): :func:`contamination_minhash` /
  :func:`decontaminate_fuzzy`, on the dedup family's MinHash
  signatures, its one band builder (``dedup._band_rows``, the stored
  band-index format) and its signature match count
  (``dedup._sig_matches``), with the EVAL side broadcast.

Shape at scale: a posting-list equi-join on the n-gram — the train
side explodes to (doc_id, gram) rows, the (much smaller) eval side to
(gram, eval_id) rows (one capped posting list, ``_eval_postings``,
for both the train-side and the eval-side census), and candidates are
gram-key join hits. Never
all-pairs; the eval side usually broadcasts outright. Ultra-common
grams can be capped exactly like dedup's stop-shingles
(``max_gram_freq``) so a boilerplate phrase can't explode the join.
The fuzzy rule joins on LSH band keys instead of raw grams — the
train side's shuffle currency is (doc_id, band) rows, and the eval
band index broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _band_rows, _sig_matches, minhash_signatures, shingle_rows
from .materialize import MaterializeFn
from .materialize import materialize as _materialize


def _eval_postings(
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_gram_freq: int | None,
) -> DataFrame:
    """(shingle, eval_id) posting list of the eval set; with
    ``max_gram_freq``, grams in more than that many eval documents are
    dropped (the stop-shingle guard)."""
    ev = shingle_rows(eval_df, text_col, id_col, n).select(
        "shingle", F.col("doc_id").alias("eval_id")
    )
    if max_gram_freq is None:
        return ev
    freq = ev.groupBy("shingle").agg(F.count_distinct("eval_id").alias("ev_df"))
    return ev.join(freq.filter(F.col("ev_df") <= max_gram_freq), "shingle").drop("ev_df")


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_shared: int = 1,
    max_gram_freq: int | None = None,
    materialize: str | MaterializeFn | bool | None = None,
    min_shared_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc_id, n_shared_grams, n_eval_docs) for every train document
    sharing ≥ ``min_shared`` distinct word n-grams with the eval set:
    ``n_shared_grams`` counts the train doc's distinct contaminated
    grams, ``n_eval_docs`` the distinct eval documents hit.

    ``max_gram_freq`` drops grams appearing in more than that many
    EVAL documents before joining (the stop-shingle guard — at 100 TB
    a boilerplate license header in the eval set would otherwise fan
    out against every train document containing it).

    ``min_shared_frac=(num, den)`` switches to the PaLM-style
    FRACTION rule: keep only hits where the contaminated share of the
    doc's distinct n-grams reaches num/den (PaLM's published 70% is
    ``(7, 10)``), judged in exact integer arithmetic
    (``n_shared·den ≥ num·n_total``). The output then carries the
    extra ``n_grams_total`` column (the doc's distinct-gram census —
    one additional doc-keyed aggregation over the same shingle
    table); the default ``None`` leaves schema and rows byte-exactly
    as before. Composes with ``min_shared`` (both floors apply)."""
    tr = shingle_rows(train, text_col, id_col, n)
    if min_shared_frac is not None:
        fnum, fden = min_shared_frac
        if fnum <= 0 or fden <= 0:
            raise ValueError(
                f"min_shared_frac must be positive, got {min_shared_frac}"
            )
        # tr feeds both the census and the contamination join — pin
        # it per the documented branch-point rule
        if materialize is not False:
            tr = _materialize(tr, materialize)
        totals = tr.groupBy("doc_id").agg(
            F.count_distinct("shingle").cast("long").alias("n_grams_total")
        )
    ev = _eval_postings(eval_df, text_col, id_col, n, max_gram_freq)
    # The eval posting list is consumed once; the join output feeds a
    # single aggregation, so no self-join re-evaluation hazard — only
    # materialize when the caller asks (e.g. reusing ev across many
    # train partitions on a cluster).
    if materialize is not None and materialize is not False:
        ev = _materialize(ev, materialize)
    out = (
        tr.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").cast("long").alias("n_shared_grams"),
            F.count_distinct("eval_id").cast("long").alias("n_eval_docs"),
        )
    )
    if min_shared > 1:
        out = out.filter(F.col("n_shared_grams") >= min_shared)
    if min_shared_frac is not None:
        fnum, fden = min_shared_frac
        out = out.join(totals, "doc_id").filter(
            F.col("n_shared_grams") * F.lit(fden)
            >= F.lit(fnum) * F.col("n_grams_total")
        )
    return out


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_shared: int = 1,
    max_gram_freq: int | None = None,
    min_shared_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """The train corpus minus contaminated documents (LEFT ANTI join
    against :func:`contamination_hits` ids) — schema-preserving, so it
    drops into a pipeline between dedup and shard planning."""
    hits = contamination_hits(
        train, eval_df, text_col, id_col, n, min_shared, max_gram_freq,
        min_shared_frac=min_shared_frac,
    )
    return train.join(
        hits.select(F.col("doc_id").alias(id_col)), on=id_col, how="left_anti"
    )


def contamination_by_eval(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """The EVAL-side census — the flip side of
    :func:`contamination_hits`: per compromised eval item,
    ``(eval_id, n_train_docs, n_shared_grams)`` (distinct train
    documents hit, distinct contaminated grams of the item). Used to
    report EVAL VALIDITY for an already-released corpus: decontam
    cleans the training set; this tells you which benchmark items'
    scores are untrustworthy against a corpus you cannot re-cut.
    Same posting-list join shape (the eval side broadcasts)."""
    tr = shingle_rows(train, text_col, id_col, n)
    ev = _eval_postings(eval_df, text_col, id_col, n, max_gram_freq)
    return (
        tr.join(ev, "shingle")
        .groupBy("eval_id")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_train_docs"),
            F.count_distinct("shingle").cast("long").alias("n_shared_grams"),
        )
    )


def contamination_minhash(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.5,
    materialize: str | MaterializeFn | bool | None = None,
) -> DataFrame:
    """FUZZY eval overlap — near-duplicate contamination that exact
    n-gram collision misses (light paraphrases, re-punctuated or
    re-tokenized copies of a benchmark item): MinHash signatures for
    both sides (the dedup family's hash family, so a persisted corpus
    signature table is reusable here), LSH band keys joined
    train × eval with the EVAL side broadcast, and candidates kept at
    ``est_jaccard ≥ min_est_jaccard`` (matching signature components
    / num_hashes — the unbiased Jaccard estimate).

    Returns ``(doc_id, n_eval_docs, max_est_jaccard)`` per flagged
    train document. Scale shape: the train corpus contributes one
    signature aggregation and (doc_id, band) rows; the eval index
    (bands + signatures) broadcasts — no corpus self-join, no
    all-pairs, candidate fan-out bounded by eval-side bucket sizes."""
    if not (0.0 <= min_est_jaccard <= 1.0):
        raise ValueError(
            f"min_est_jaccard must be in [0, 1], got {min_est_jaccard}"
        )

    def _sig_bands(df: DataFrame) -> DataFrame:
        sigs = minhash_signatures(df, text_col, id_col, num_hashes, n)
        return _band_rows(sigs, num_hashes, bands, keep_sig=True)

    # the train side feeds exactly one join; the eval side is tiny —
    # materialize only applies to the train band rows (they carry
    # the shingle aggregation, the expensive leg)
    tr = _sig_bands(train)
    if materialize is not None and materialize is not False:
        tr = _materialize(tr, materialize)
    ev = _sig_bands(eval_df).select(
        F.col("doc_id").alias("eval_id"), F.col("sig").alias("eval_sig"), "band"
    )
    cand = (
        tr.join(F.broadcast(ev), "band")
        .groupBy("doc_id", "eval_id")
        .agg(F.first(_sig_matches(F.col("sig"), F.col("eval_sig"))).alias("_n_match"))
        .withColumn(
            "est_jaccard",
            F.col("_n_match").cast("double") / F.lit(float(num_hashes)),
        )
        .filter(F.col("est_jaccard") >= F.lit(min_est_jaccard))
    )
    return cand.groupBy("doc_id").agg(
        F.count_distinct("eval_id").cast("long").alias("n_eval_docs"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )


def decontaminate_fuzzy(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.5,
    materialize: str | MaterializeFn | bool | None = None,
) -> DataFrame:
    """The train corpus minus FUZZY-contaminated documents (LEFT ANTI
    against :func:`contamination_minhash` ids) — the near-duplicate
    complement of :func:`decontaminate`; run both for the published
    exact+fuzzy hygiene pass."""
    hits = contamination_minhash(
        train, eval_df, text_col, id_col, num_hashes, bands, n,
        min_est_jaccard, materialize,
    )
    return train.join(
        hits.select(F.col("doc_id").alias(id_col)), on=id_col, how="left_anti"
    )
