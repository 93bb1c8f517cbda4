"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): the published recipe for picking pretraining documents
from a raw crawl so the SELECTED set matches a TARGET distribution
(Wikipedia+books in the paper; any in-corpus predicate here), used to
build the data for several released models. The r12 Naive Bayes gate
answers "does this look high-quality?"; DSIR answers a different
question — "does this look like the distribution I want to train
on?" — and SAMPLES rather than thresholds, which is what preserves
diversity in the selected corpus (the paper's key finding vs plain
top-k classifier filtering).

The method, re-expressed on this repo's integer-exact stack:

1. **Features**: hashed n-grams (unigrams + word bigrams in the
   paper) — exactly :func:`quality_model.hashed_token_buckets` with
   ``ngrams=2``, the shared trainer/scorer extraction.
2. **Fit**: two bag-of-hashed-ngrams multinomials, target ``p`` and
   raw ``q``, Laplace-smoothed. The per-bucket log ratio
   ``log p_b − log q_b`` is precisely :func:`quality_model.nb_train`'s
   ``weight`` with class 1 = target, class 0 = raw, so the fit IS an
   ``nb_train`` call over the tagged union — one explode + one
   bucket-keyed aggregation, shuffle ≤ ``num_buckets`` rows.
3. **Score**: per-document log importance weight
   ``log w(x) = Σ_features (log p_b − log q_b)`` — :func:`nb_score`
   with the prior zeroed (DSIR has no class prior; the weight is a
   density ratio, not a posterior). Zero corpus shuffle: one dense
   broadcast array, per-row ``aggregate`` over the feature array.
4. **Resample**: Gumbel-top-k without replacement — ``key =
   log w + G`` with ``G`` standard Gumbel noise; the top-k keys are a
   sample ∝ w without replacement (Efraimidis–Spirakis / Gumbel-max).
   Noise here is DETERMINISTIC hash-Gumbel: ``U`` from the portable
   md5-60bit of the salted doc id, ``G₂ = −log2(−log2 U)`` in the
   same fixed-point llog2 arithmetic as everything else. Working in
   log2 instead of ln scales the true Gumbel key by ``1/ln 2`` and
   shifts it by a constant (``−log2(−ln U) = (−ln(−ln U) +
   ln ln 2)/ln 2``) — a strictly monotone transform, so the top-k
   SET is distributed exactly as the natural-log form (up to llog2's
   piecewise-linear octave error and md5-as-uniform).

**Selection at 100 TB** (the perplexity_buckets recipe —
ngram_lm.py:316): no global sort of corpus rows and no single-reducer
row_number. Keys quantize to ``key >> key_shift`` (arithmetic shift —
identical floor semantics in Spark/DuckDB/Python for negatives);
the distinct-key-GROUP table — bounded by score resolution, never
corpus size — carries descending running totals, a whole tied group
is selected iff the count strictly above it is under the target
(``before·den < total·num``), and the verdict broadcast-joins back.
Selected count is exact up to tie granularity (1/16 of a log2 unit
at the default shift), deterministic, engine-independent.

Reference scope note: the reference engine (stage_1 GlueSQL +
csv_to_parquet, 1,323 lines) has no data-selection surface; this
module is part of the beyond-reference training-data path, composing
with llm_ops/text.py's gates and llm_ops/ngram_lm.py's LM filter.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize as _materialize
from .quality_model import (
    FRAC_BITS,
    NB_WORD_PATTERN,
    llog2,
    llog2_py,
    llog2_sql,
    nb_score,
    nb_train,
    nb_train_py,
    _hashed_tokens_py,
)
from .text import md5_60bit

__all__ = [
    "DSIR_SALT", "DSIR_GUMBEL_SALT", "DSIR_KEY_SHIFT",
    "dsir_fit", "dsir_fit_py", "dsir_score", "dsir_score_py",
    "dsir_save", "dsir_load",
    "hash_gumbel", "hash_gumbel_py", "hash_gumbel_sql",
    "dsir_resample",
]

DSIR_SALT = "dsir"
DSIR_GUMBEL_SALT = "dsir-g"
# default quantization for the selection key: drop 12 of the 16
# fraction bits -> tie granularity 1/16 log2 unit, distinct-group
# count bounded by 16x the key RANGE in log2 units (score magnitudes
# are a few thousand log2 units for web documents)
DSIR_KEY_SHIFT = 12

# md5_60bit values are uniform on [0, 2^60); +1 puts U in (0, 1]
_HASH_BITS = 60


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    num_buckets: int = 512,
    salt: str = DSIR_SALT,
    frac_bits: int = FRAC_BITS,
    word_pattern: str = NB_WORD_PATTERN,
    ngrams=2,
) -> DataFrame:
    """Fit the DSIR importance model: two Laplace-smoothed
    hashed-n-gram multinomials (``target`` = what selection should
    look like, ``raw`` = the crawl being selected from). Returns the
    dense ``num_buckets``-row frame ``(bucket, c_target, c_raw,
    weight)`` where ``weight`` is the fixed-point per-bucket log2
    density ratio ``[llog2(cT+1) − llog2(TT+B)] − [llog2(cR+1) −
    llog2(TR+B)]`` — delegated to :func:`quality_model.nb_train`
    over the tagged union (identical arithmetic; DSIR just reads the
    classes as distributions instead of labels), so the shuffle
    shape and the DuckDB-replayability proof are inherited.

    ``ngrams=2`` (unigrams + word bigrams) is the paper's published
    feature set and the default. Raises if either frame is empty
    (an empty target or raw corpus fits nothing meaningful)."""
    tagged = target.select(
        F.col(text_col).alias("text"), F.lit(1).alias("label")
    ).unionByName(
        raw.select(F.col(text_col).alias("text"), F.lit(0).alias("label"))
    )
    model = nb_train(
        tagged,
        text_col="text",
        label_col="label",
        num_buckets=num_buckets,
        salt=salt,
        frac_bits=frac_bits,
        word_pattern=word_pattern,
        ngrams=ngrams,
    )
    return model.select(
        "bucket",
        F.col("c1").alias("c_target"),
        F.col("c0").alias("c_raw"),
        "weight",
    )


def dsir_fit_py(
    target_texts: list[str],
    raw_texts: list[str],
    num_buckets: int = 512,
    salt: str = DSIR_SALT,
    frac_bits: int = FRAC_BITS,
    word_pattern: str = NB_WORD_PATTERN,
    ngrams=2,
) -> dict:
    """Pure-Python twin of :func:`dsir_fit` — the independent
    falsification reference. Returns {"weights": [...],
    "c_target": [...], "c_raw": [...]}."""
    m = nb_train_py(
        [(t, 1) for t in target_texts] + [(t, 0) for t in raw_texts],
        num_buckets=num_buckets,
        salt=salt,
        frac_bits=frac_bits,
        word_pattern=word_pattern,
        ngrams=ngrams,
    )
    return {"weights": m["weights"], "c_target": m["c1"], "c_raw": m["c0"]}


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    out_col: str = "dsir_logw",
    salt: str = DSIR_SALT,
    word_pattern: str = NB_WORD_PATTERN,
    ngrams=2,
) -> DataFrame:
    """Per-document log importance weight: ``out_col = Σ_features
    weight[bucket(feature)]`` (BIGINT, fixed-point log2 units;
    feature-less text scores exactly 0 — a density ratio of 1).
    Delegates to :func:`quality_model.nb_score` with the prior
    zeroed, inheriting the zero-corpus-shuffle scoring shape AND its
    dense-model integrity guard (a partially-read model frame fails
    loudly instead of mis-bucketing every token). ``text_col`` must
    be non-null (the corpus contract shared with nb_score)."""
    m = model.select(
        "bucket", "weight", F.lit(0).cast("long").alias("prior")
    )
    return nb_score(
        df, m, text_col=text_col, out_col=out_col, salt=salt,
        word_pattern=word_pattern, ngrams=ngrams,
    )


def dsir_score_py(
    text: str,
    weights: list[int],
    salt: str = DSIR_SALT,
    word_pattern: str = NB_WORD_PATTERN,
    ngrams=2,
) -> int:
    """Pure-Python twin of :func:`dsir_score` for one document."""
    return sum(
        weights[b]
        for b in _hashed_tokens_py(
            text, len(weights), salt, word_pattern, ngrams
        )
    )


def hash_gumbel(
    id_c: Column,
    salt: str = DSIR_GUMBEL_SALT,
    frac_bits: int = FRAC_BITS,
) -> Column:
    """Deterministic fixed-point Gumbel noise from a row id:
    ``G₂ = −log2(−log2 U)`` with ``U = (md5_60bit(salt ⊕ id) + 1) /
    2^60 ∈ (0, 1]`` — pure integer llog2 arithmetic, identical in
    Spark / DuckDB / Python (:func:`hash_gumbel_sql`,
    :func:`hash_gumbel_py`). ``−log2 U = 60·2^F − llog2(h+1)`` is a
    non-negative fixed-point value; clamping it at 1 (the U = 1
    corner, probability 2^−60) bounds G₂ at ``(60 − F)·2^F`` instead
    of +∞. Content-stable: reruns and engines agree row-for-row,
    which is what makes a SAMPLED selection replayable in an oracle."""
    s = 1 << frac_bits
    h = md5_60bit(
        F.concat(F.lit(salt), F.lit("\x1f"), id_c.cast("string"))
    ) + F.lit(1)
    neg_log2_u = F.lit(_HASH_BITS * s) - llog2(h, frac_bits)
    v = F.greatest(neg_log2_u, F.lit(1))
    return -(llog2(v, frac_bits) - F.lit(frac_bits * s))


def hash_gumbel_py(
    id_val, salt: str = DSIR_GUMBEL_SALT, frac_bits: int = FRAC_BITS
) -> int:
    """Pure-Python twin of :func:`hash_gumbel`."""
    s = 1 << frac_bits
    h = (
        int(
            hashlib.md5(
                (salt + "\x1f" + str(id_val)).encode("utf-8")
            ).hexdigest()[:15],
            16,
        )
        + 1
    )
    v = max(_HASH_BITS * s - llog2_py(h, frac_bits), 1)
    return -(llog2_py(v, frac_bits) - frac_bits * s)


def hash_gumbel_sql(
    id_expr: str,
    salt: str = DSIR_GUMBEL_SALT,
    frac_bits: int = FRAC_BITS,
) -> str:
    """DuckDB replay of :func:`hash_gumbel` over a SQL expression."""
    s = 1 << frac_bits
    h = (
        f"(('0x' || substring(md5('{salt}' || chr(31) || "
        f"CAST({id_expr} AS VARCHAR)), 1, 15))::BIGINT + 1)"
    )
    v = f"greatest({_HASH_BITS * s} - {llog2_sql(h, frac_bits)}, 1)"
    return f"(-({llog2_sql(v, frac_bits)} - {frac_bits * s}))"


def dsir_save(
    model: DataFrame,
    path: str,
    salt: str = DSIR_SALT,
    ngrams=2,
    word_pattern: str = NB_WORD_PATTERN,
) -> None:
    """Persist a :func:`dsir_fit` model: the dense bucket table as
    parquet under ``path``/weights, the feature settings (salt,
    ngrams, word pattern — scoring MUST mirror the fit's extraction)
    in meta.json. The deployable artifact a streaming ingest gate
    reloads once (:func:`dsir_load`) and scores every micro-batch
    against — the lm_save/lm_load discipline."""
    import os

    from ..sources.io import write_json_atomic

    os.makedirs(path, exist_ok=True)
    model.write.mode("overwrite").parquet(os.path.join(path, "weights"))
    write_json_atomic(
        os.path.join(path, "meta.json"),
        {"salt": salt, "ngrams": ngrams, "word_pattern": word_pattern},
    )


def dsir_load(spark, path: str) -> tuple[DataFrame, dict]:
    """Reload a :func:`dsir_save` artifact: (model frame, meta).
    Callers pass meta["salt"]/["ngrams"]/["word_pattern"] through to
    :func:`dsir_score` so fit and score can never disagree on the
    feature extraction (nb_score's dense-table guard still verifies
    the bucket census independently)."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    return spark.read.parquet(os.path.join(path, "weights")), meta


def dsir_resample(
    scored: DataFrame,
    keep_num: int,
    keep_den: int,
    id_col: str = "doc_id",
    score_col: str = "dsir_logw",
    gumbel: bool = True,
    gumbel_salt: str = DSIR_GUMBEL_SALT,
    key_col: str = "dsir_key",
    flag_col: str = "selected",
    key_shift: int = DSIR_KEY_SHIFT,
    frac_bits: int = FRAC_BITS,
    materialize: bool | None = None,
    part_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Gumbel-top-k importance resampling: keep ≈ ``keep_num /
    keep_den`` of the corpus, sampled without replacement with
    probability ∝ the importance weight (``gumbel=True``, the paper's
    estimator) or deterministically highest-weight-first
    (``gumbel=False``, the paper's top-k ablation). Adds ``key_col``
    (= score + hash-Gumbel noise, BIGINT) and the boolean
    ``flag_col``; returns ALL rows so callers can audit the boundary
    — filter on ``flag_col`` to materialize the selection.

    ``part_cols`` enforces the fraction WITHIN each partition (e.g.
    ``("lang",)`` — the CCNet-style per-language budget, so a
    high-resource language cannot absorb the whole selection): the
    census, running totals and verdicts are all per-partition, same
    arithmetic.

    100 TB shape (perplexity_buckets' recipe): the corpus is never
    globally sorted. Keys quantize by an arithmetic ``>> key_shift``;
    one aggregation to the distinct-key-GROUP table (bounded by key
    resolution — per partition with ``part_cols`` — not corpus
    size), a descending running total over that small table, and a
    broadcast join back. A whole tied group is selected iff the
    count strictly above it is under the target (``before·den <
    total·num``) — selected count is the target up to tie
    granularity, deterministic in every engine (Spark/DuckDB/Python
    arithmetic shifts all floor)."""
    if keep_num <= 0 or keep_den <= 0:
        raise ValueError(
            f"keep fraction must be positive, got {keep_num}/{keep_den}"
        )
    parts = list(part_cols)
    key = F.col(score_col)
    if gumbel:
        key = key + hash_gumbel(F.col(id_col), gumbel_salt, frac_bits)
    # the keyed frame feeds BOTH the group census and the join-back:
    # pin it (the r2 minhash branch-point rule) or the scoring
    # lineage — a full corpus scan — replays once per consumer
    keyed = _materialize(
        scored.withColumn(key_col, key.cast("long")), materialize
    )
    qkey = F.call_function(
        "shiftright", F.col(key_col), F.lit(int(key_shift))
    )
    groups = keyed.groupBy(*parts, qkey.alias("_qk")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(*parts)
        .orderBy(F.col("_qk").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*parts)
    ranked = groups.select(
        *parts,
        "_qk",
        (F.sum("_c").over(w_cum) - F.col("_c")).alias("_before"),
        F.sum("_c").over(w_all).alias("_tot"),
    )
    labeled = ranked.select(
        *[F.col(c).alias(f"_p_{c}") for c in parts],
        "_qk",
        (
            F.col("_before") * F.lit(keep_den)
            < F.col("_tot") * F.lit(keep_num)
        ).alias(flag_col),
    )
    cond = [F.col(c) == F.col(f"_p_{c}") for c in parts] + [
        qkey == F.col("_qk")
    ]
    on = cond[0]
    for c in cond[1:]:
        on = on & c
    return keyed.join(F.broadcast(labeled), on, "left").drop(
        "_qk", *[f"_p_{c}" for c in parts]
    )


def dsir_resample_py(
    rows: list[tuple],
    keep_num: int,
    keep_den: int,
    gumbel: bool = True,
    gumbel_salt: str = DSIR_GUMBEL_SALT,
    key_shift: int = DSIR_KEY_SHIFT,
    frac_bits: int = FRAC_BITS,
) -> dict:
    """Pure-Python twin of :func:`dsir_resample` over (id, score)
    rows — returns {id: (key, selected)}."""
    keys = {}
    for i, sc in rows:
        k = sc + (hash_gumbel_py(i, gumbel_salt, frac_bits) if gumbel else 0)
        keys[i] = k
    groups: dict[int, int] = {}
    for k in keys.values():
        groups[k >> key_shift] = groups.get(k >> key_shift, 0) + 1
    tot = len(keys)
    sel_groups = {}
    before = 0
    for qk in sorted(groups, reverse=True):
        sel_groups[qk] = before * keep_den < tot * keep_num
        before += groups[qk]
    return {i: (k, sel_groups[k >> key_shift]) for i, k in keys.items()}
