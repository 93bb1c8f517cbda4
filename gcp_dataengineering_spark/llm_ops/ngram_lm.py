"""N-gram language-model perplexity scoring — the CCNet-style
quality signal (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data": documents are bucketed by
the perplexity of a reference n-gram LM; gibberish and boilerplate
score high, fluent prose low). CCNet uses a 5-gram KenLM; this is
the distributed re-expression at bigram and trigram order with
backoff — the published filtering recipe's shape, sized to what a
SQL oracle can replay exactly.

One Spark engine per smoothing:
- ``smoothing="laplace"`` (the default, below) is computed here:
  one order-2/3 table fit (:func:`_laplace_fit`) and one scorer
  (:func:`_laplace_score`), shared by the one-shot
  ``*_perplexity``, ``*_lm_fit`` and ``*_lm_score`` forms.
- ``smoothing="kn"`` (Kneser-Ney, the KenLM family) lives in
  llm_ops/ngram_kn.py at every order 2..5; the bigram/trigram
  front-ends here route to ``kn_perplexity`` / ``kn_lm_fit`` /
  ``kn_lm_score`` with ``order=2|3``.
The ``*_py`` twins and ``*_sql`` replays below keep BOTH smoothings
written out independently: they are the references the two engines
are checked against.

Everything is INTEGER fixed-point log2 (the quality_model.py llog2
discipline, FRAC_BITS=16): scores are exact BIGINTs in Spark, DuckDB
and the pure-Python twin, so the whole train+score chain is
oracle-replayable (suite/llm.py ``ngram_perplexity``) and
hash-exact — no float log drift across engines.

Model spec (pinned):
- tokens: lowercase, split on whitespace, empties dropped (the
  repo-wide convention — text.py, dedup.py).
- vocabulary: words with corpus count >= ``min_count``; everything
  else maps to ``<unk>`` BEFORE any n-gram is counted (train and
  score see the same alphabet).
- transitions: consecutive token pairs per document, with a ``<s>``
  begin-of-document context so 1-token documents still score.
- bigram hit:  lp = llog2(c(prev,w)) − llog2(c(prev))
  backoff miss: lp = llog2(c(w)+1) − llog2(U+V) − backoff_bits·2^F
  where c(prev) is the CONTEXT total (Σ_w c(prev,w) — bigram probs
  normalize exactly), c(w) the corpus unigram count (+1 Laplace),
  U total tokens, V vocab size incl. <unk>, and backoff_bits the
  fixed escape penalty (default 4 bits ≈ α=1/16).
- per document: nll_fp = −Σ lp (exact BIGINT),
  ppl_bits = round(nll_fp / (n_trans · 2^F), 4) — bits/token, the
  log2 of perplexity. Zero-token documents surface with n_trans=0
  and NULL ppl_bits (they cannot certify fluency; the gate fails
  them).

Scale design: tokenization is one explode; the vocabulary and every
count table live at distinct-word / distinct-bigram altitude, never
corpus altitude. The one corpus-keyed shuffle is the lag() window
(partitioned by doc_id — bounded per-doc state). Count joins are
key-bucketed equi-joins; the unigram/context tables are broadcast
(vocab-sized). The only driver-side values are two scalars (U, V) —
the documented bounded-collect pattern (model weights / dim stats).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import MaterializeFn
from .materialize import materialize as _materialize
from .quality_model import FRAC_BITS, llog2, llog2_py, llog2_sql

BOS = "<s>"
UNK = "<unk>"

# ASCII whitespace, written out so all three engines agree exactly:
# Java \s is [ \t\n\x0B\f\r] but RE2 (DuckDB) \s omits \x0B, and
# Python str.split() splits on Unicode whitespace (NBSP,  , …).
_WS_JAVA = "[ \\t\\n\\x0B\\f\\r]+"
_WS_SQL = "[ \\t\\n\\x0B\\f\\r]+"
_WS_PY = re.compile("[ \t\n\x0b\f\r]+")


def _tokens_py(t: str) -> list[str]:
    return [w for w in _WS_PY.split(t.lower()) if w != ""]


# Kneser-Ney discount quantization (r17). The Ney absolute discount
# D = n1/(n1 + 2·n2) (n_k = number of n-gram TYPES with count k) is
# quantized to Dnum/256 so every llog2 input stays in int64 at
# 100 TB magnitudes: count·256 ≤ U·256 ≈ 3e15 and Dnum·N1+ ≤ 255·V.
# (The exact-rational D — Dden = n1+2n2 ~ 1e10 — would push
# count·Dden past 2^63; the interpolated-sum formulation is worse,
# needing count·Dden·N1pp ~ 1e25. 128-bit arithmetic has no llog2
# leg in Spark, so backoff-form + quantized D is the int64-exact
# design.) Integer half-up division keeps all three engines
# bit-identical; clamped to [1, 255] so discounted hit counts stay
# positive (c·256 − Dnum ≥ 1) and escapes keep mass (Dnum ≥ 1).
KN_DDEN = 256


def _kn_discount(n1: int, n2: int) -> int:
    den = n1 + 2 * n2
    if n1 <= 0 or den <= 0:
        return KN_DDEN // 2  # degenerate count-of-counts: D = 1/2
    return max(1, min(KN_DDEN - 1, (2 * KN_DDEN * n1 + den) // (2 * den)))


_KN_DNUM_SQL = (
    "CASE WHEN n1 <= 0 OR (n1 + 2*n2) <= 0 THEN {half} "
    "ELSE GREATEST(1, LEAST({dmax}, "
    "(2*{dden}*n1 + (n1 + 2*n2)) // (2*(n1 + 2*n2)))) END"
).format(half=KN_DDEN // 2, dmax=KN_DDEN - 1, dden=KN_DDEN)


def _word_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, pos, word) — 1-based position, lowercase nonempty
    whitespace tokens."""
    words = F.filter(F.split(F.lower(F.col(text_col)), _WS_JAVA), lambda t: t != "")
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(words).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


def _vocab_of(words: DataFrame, min_count: int, materialize):
    """(wc, vocab): the distinct-word count table (pinned — it feeds
    the vocab, the unigram fold and the totals collect) and the
    words kept at ``min_count``."""
    wc = _materialize(
        words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")), materialize
    )
    return wc, wc.filter(F.col("cnt") >= min_count).select("word")


def _fold(df: DataFrame, vocab: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns + ``token``: the ``word`` column folded to
    <unk> outside ``vocab``. The vocab join is broadcast-hinted like
    the unigram/bpe vocab joins; at an extreme vocabulary drop the
    hint and let AQE decide — it stays a key-bucketed equi-join."""
    return df.join(
        F.broadcast(vocab.withColumnRenamed("word", "_v")),
        F.col("word") == F.col("_v"),
        "left",
    ).select(
        *keep,
        F.when(F.col("_v").isNotNull(), F.col("word"))
        .otherwise(F.lit(UNK))
        .alias("token"),
    )


def _trans_of(words: DataFrame, vocab: DataFrame, lags: list[str]) -> DataFrame:
    """(doc_id, token, *lags) — vocab-folded tokens with one lag
    column per name in ``lags`` (nearest previous token first, <s>
    before the document start), all over ONE per-doc window."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return _fold(words, vocab, "doc_id", "pos").select(
        "doc_id",
        "token",
        *[F.lag("token", i, BOS).over(w).alias(p) for i, p in enumerate(lags, start=1)],
    )


def _lm_transitions(docs: DataFrame, ref: DataFrame | None, text_col: str,
                    id_col: str, min_count: int, lags: list[str], materialize):
    """(wc, vocab, trans_train, trans_score) of a one-shot LM: the
    vocabulary and training transitions come from ``ref`` (default:
    ``docs`` itself), the scoring transitions from ``docs``.
    Self-trained, ONE transition table feeds both the count build and
    the scoring join — it is pinned so the explode+window runs once."""
    train_words = _word_rows(ref if ref is not None else docs, text_col, id_col)
    wc, vocab = _vocab_of(train_words, min_count, materialize)
    trans_train = _trans_of(train_words, vocab, lags)
    if ref is None:
        trans_train = _materialize(trans_train, materialize)
        return wc, vocab, trans_train, trans_train
    return wc, vocab, trans_train, _trans_of(
        _word_rows(docs, text_col, id_col), vocab, lags
    )


def _doc_scores(docs: DataFrame, scored: DataFrame, id_col: str,
                frac_bits: int) -> DataFrame:
    """Per-transition (doc_id, lp) → the (doc_id, n_trans, nll_fp,
    ppl_bits) output shape, one row per distinct doc of ``docs``
    (zero-token docs: n_trans 0, NULL ppl_bits)."""
    scale = 1 << frac_bits
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trans"), (-F.sum("lp")).alias("nll_fp")
    )
    base = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return base.join(agg, ["doc_id"], "left").select(
        "doc_id",
        F.coalesce(F.col("n_trans"), F.lit(0)).cast("long").alias("n_trans"),
        F.coalesce(F.col("nll_fp"), F.lit(0)).cast("long").alias("nll_fp"),
        F.when(
            F.col("n_trans") > 0,
            F.round(F.col("nll_fp") / (F.col("n_trans") * F.lit(float(scale))), 4),
        ).alias("ppl_bits"),
    )


# lag-column names of the Laplace tables (saved models keep them)
_LAGS = ["prev", "prev2"]


def _check_smoothing(smoothing: str) -> None:
    if smoothing not in ("laplace", "kn"):
        raise ValueError(f"unknown smoothing {smoothing!r} (laplace|kn)")


def _laplace_fit(wc: DataFrame, vocab: DataFrame, trans: DataFrame, order: int,
                 min_count: int, frac_bits: int, materialize) -> dict:
    """The order-2/3 Laplace backoff model from the training
    transitions: the c3/c3ctx (order 3) and c2/c1 count tables at
    n-gram-type altitude, the folded unigram table cu, and the
    llog2(U+V) denominator. The top-order count table and c2 are
    pinned: each feeds its context totals AND the scoring join."""
    model: dict = {"order": order, "smoothing": "laplace",
                   "frac_bits": frac_bits, "vocab": vocab}
    if order == 3:
        c3 = _materialize(
            trans.groupBy("prev2", "prev", "token").agg(F.count(F.lit(1)).alias("c3")),
            materialize,
        )
        model["c3"] = c3
        model["c3ctx"] = c3.groupBy("prev2", "prev").agg(F.sum("c3").alias("c3ctx"))
    c2 = _materialize(
        trans.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c2")),
        materialize,
    )
    model["c2"] = c2
    model["c1"] = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    # unigram counts over MAPPED tokens, derived from the word-count
    # table (no second corpus pass): vocab words keep their count,
    # everything else folds into <unk>
    model["cu"] = _fold(wc, vocab, "cnt").groupBy("token").agg(F.sum("cnt").alias("cu"))
    # two bounded driver scalars (total tokens, vocab size) — the
    # documented model-stats collect, never corpus data
    totals = wc.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("u"),
        F.coalesce(F.sum((F.col("cnt") >= min_count).cast("long")), F.lit(0)).alias("nv"),
    ).collect()[0]
    u_plus_v = int(totals["u"]) + int(totals["nv"]) + 1  # +1: <unk>
    model["denom_fp"] = llog2_py(u_plus_v, frac_bits) if u_plus_v > 0 else 0
    return model


def _laplace_score(docs: DataFrame, trans: DataFrame, model: dict, order: int,
                   id_col: str, backoff_bits_bi: int,
                   backoff_bits_uni: int) -> DataFrame:
    """Score transitions against a :func:`_laplace_fit` model: the
    highest-order hit, else the next order down minus its escape
    penalty (``backoff_bits_bi`` — order 3 only), else the Laplace
    unigram minus ``backoff_bits_uni``."""
    frac_bits = model["frac_bits"]
    scale = 1 << frac_bits
    j = trans
    if order == 3:
        j = j.join(model["c3"], ["prev2", "prev", "token"], "left").join(
            model["c3ctx"], ["prev2", "prev"], "left"
        )
    j = (
        j.join(model["c2"], ["prev", "token"], "left")
        .join(F.broadcast(model["c1"]), ["prev"], "left")
        .join(F.broadcast(model["cu"]), ["token"], "left")
    )
    hit2 = llog2(F.col("c2"), frac_bits) - llog2(F.col("c1"), frac_bits)
    if order == 3:
        lp = F.when(
            F.col("c3").isNotNull(),
            llog2(F.col("c3"), frac_bits) - llog2(F.col("c3ctx"), frac_bits),
        ).when(F.col("c2").isNotNull(), hit2 - F.lit(backoff_bits_bi * scale))
    else:
        lp = F.when(F.col("c2").isNotNull(), hit2)
    lp = lp.otherwise(
        llog2(F.coalesce(F.col("cu"), F.lit(0)) + 1, frac_bits)
        - F.lit(model["denom_fp"])
        - F.lit(backoff_bits_uni * scale)
    )
    return _doc_scores(docs, j.select("doc_id", lp.alias("lp")), id_col, frac_bits)


def _perplexity(docs: DataFrame, ref: DataFrame | None, order: int,
                smoothing: str, text_col: str, id_col: str, min_count: int,
                frac_bits: int, materialize, backoff_bits_bi: int,
                backoff_bits_uni: int) -> DataFrame:
    """One-shot order-2/3 LM: build the tables from the training
    transitions (``ref``, default ``docs``), score the scoring
    transitions. Kneser-Ney is ngram_kn's engine at this order."""
    _check_smoothing(smoothing)
    if smoothing == "kn":
        from .ngram_kn import kn_perplexity

        return kn_perplexity(docs, ref=ref, order=order, text_col=text_col,
                             id_col=id_col, min_count=min_count,
                             frac_bits=frac_bits, materialize=materialize)
    wc, vocab, trans_train, trans_score = _lm_transitions(
        docs, ref, text_col, id_col, min_count, _LAGS[: order - 1], materialize
    )
    model = _laplace_fit(wc, vocab, trans_train, order, min_count, frac_bits, materialize)
    return _laplace_score(docs, trans_score, model, order, id_col,
                          backoff_bits_bi, backoff_bits_uni)


def _lm_fit(ref: DataFrame, order: int, smoothing: str, text_col: str,
            id_col: str, min_count: int, frac_bits: int, materialize) -> dict:
    _check_smoothing(smoothing)
    if smoothing == "kn":
        from .ngram_kn import kn_lm_fit

        return kn_lm_fit(ref, order=order, text_col=text_col, id_col=id_col,
                         min_count=min_count, frac_bits=frac_bits,
                         materialize=materialize)
    words = _word_rows(ref, text_col, id_col)
    wc, vocab = _vocab_of(words, min_count, materialize)
    return _laplace_fit(wc, vocab, _trans_of(words, vocab, _LAGS[: order - 1]),
                        order, min_count, frac_bits, materialize)


def _lm_score(docs: DataFrame, model: dict, order: int, text_col: str,
              id_col: str, backoff_bits_bi: int, backoff_bits_uni: int) -> DataFrame:
    if model.get("smoothing", "laplace") == "kn":
        return _kn_lm_score(docs, model, text_col=text_col, id_col=id_col)
    trans = _trans_of(_word_rows(docs, text_col, id_col), model["vocab"],
                      _LAGS[: order - 1])
    return _laplace_score(docs, trans, model, order, id_col,
                          backoff_bits_bi, backoff_bits_uni)


def _kn_lm_score(docs: DataFrame, model: dict, **kw) -> DataFrame:
    """Every Kneser-Ney model scores through ngram_kn.kn_lm_score. A
    KN model without ``impl="kn_generic"`` was written by the retired
    order-2/3 KN tables (different keys) and cannot be scored."""
    if model.get("impl") != "kn_generic":
        raise ValueError(
            "Kneser-Ney model has no impl='kn_generic': it was saved in the "
            "retired order-2/3 KN table layout; refit it with "
            "bigram_lm_fit/trigram_lm_fit(smoothing='kn') or ngram_kn.kn_lm_fit"
        )
    from .ngram_kn import kn_lm_score

    return kn_lm_score(docs, model, **kw)


def bigram_perplexity(
    docs: DataFrame,
    ref: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    backoff_bits: int = 4,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    materialize: str | MaterializeFn | bool | None = None,
) -> DataFrame:
    """Train the bigram backoff LM on ``ref`` (default: ``docs``
    itself — the self-scored corpus form the oracle replays) and
    score every document: (doc_id, n_trans, nll_fp, ppl_bits).

    ``smoothing``: ``"laplace"`` is the fixed-escape Laplace-unigram
    backoff above; ``"kn"`` is absolute-discount Kneser-Ney (the
    CCNet/KenLM smoothing family), computed by
    ``ngram_kn.kn_perplexity(order=2)`` — ``backoff_bits`` is unused
    there. In backoff form, with D the quantized Ney discount
    (``_kn_discount``):

      c(v,w) > 0:       lp = llog2(c2·256 − D) − llog2(c1·256)
      c(v) > 0, miss:   lp = llog2(D·N1+(v,·)) − llog2(c1·256)
                             + llog2(N1+(·,w)) − llog2(N1pp)
      v unseen:         lp = llog2(N1+(·,w)) − llog2(N1pp)

    N1+(·,w) is the continuation-unigram count — KN's signature: a
    word seen in many contexts is a plausible NOVEL continuation even
    when the specific bigram is unseen. Both smoothings replay in
    DuckDB (``bigram_perplexity_sql``).

    ``nll_fp`` is the exact fixed-point negative log2-likelihood
    (BIGINT — the hash-stable column); ``ppl_bits`` = bits/token,
    the human-facing knob a deployment thresholds on (CCNet buckets
    head/middle/tail on exactly this number).

    Branch points are materialized per the module-wide strategy
    (``materialize``; see llm_ops.materialize): the distinct-word
    table feeds the vocab, the unigram fold AND the totals collect,
    and the mapped transition table feeds both the bigram counts and
    (self-trained) the scoring join — unmaterialized, the corpus
    explode+window lineage would re-run once per consumer (the
    r2 minhash lesson; the un-pinned plan showed 21 exchanges and
    3 duplicate window sorts)."""
    return _perplexity(docs, ref, 2, smoothing, text_col, id_col, min_count,
                       frac_bits, materialize, 0, backoff_bits)


def perplexity_gate(max_bits: float, ppl_col: str = "ppl_bits") -> Column:
    """Keep-predicate over a bigram_perplexity output (or a frame it
    was joined onto): fluent documents score at most ``max_bits``
    bits/token; NULL (zero-token) documents fail — they cannot
    certify fluency."""
    return F.col(ppl_col).isNotNull() & (F.col(ppl_col) <= F.lit(max_bits))


def perplexity_buckets(
    scored: DataFrame,
    part_cols: list[str] | tuple[str, ...] = ("lang",),
    ppl_col: str = "ppl_bits",
    key_decimals: int = 4,
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020):
    per partition (language, in the published recipe), the
    lowest-perplexity third of documents is ``head``, the next
    ``middle``, the rest ``tail`` — the knob downstream mixtures
    sample by (head-heavy for quality, tail for diversity).

    100 TB shape: NO global sort of corpus rows. ``ppl_col`` is
    already quantized to ``key_decimals`` places (the LM emits 4),
    so the distinct-KEY table — bounded by score resolution, never
    by corpus size — carries the cumulative counts: groupBy
    (partition, key) → per-partition running totals over keys →
    tercile label per key → broadcast join back. Tied documents
    (same key) land in the bucket where their key BEGINS, as one
    group: bucket sizes are exact thirds only up to tie granularity
    — deterministic, engine-independent, and what a threshold-based
    deployment does anyway. NULL-``ppl`` documents (zero tokens)
    get a NULL bucket and are excluded from the totals.

    Returns ``scored`` + a ``bucket`` column.
    """
    parts = list(part_cols)
    key = F.round(F.col(ppl_col) * F.lit(10 ** key_decimals)).cast("long")
    keys = (
        scored.filter(F.col(ppl_col).isNotNull())
        .groupBy(*parts, key.alias("_pk"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = (
        Window.partitionBy(*parts)
        .orderBy("_pk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*parts)
    ranked = keys.select(
        *parts,
        "_pk",
        (F.sum("_c").over(w_cum) - F.col("_c")).alias("_before"),
        F.sum("_c").over(w_all).alias("_tot"),
    )
    labeled = ranked.select(
        *[F.col(c).alias(f"_b_{c}") for c in parts],
        "_pk",
        F.when(F.col("_before") * 3 < F.col("_tot"), F.lit("head"))
        .when(F.col("_before") * 3 < 2 * F.col("_tot"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    cond = [F.col(c) == F.col(f"_b_{c}") for c in parts] + [key == F.col("_pk")]
    return (
        scored.join(F.broadcast(labeled), cond, "left")
        .drop(*[f"_b_{c}" for c in parts], "_pk")
    )


def perplexity_buckets_sql(
    scored_sql: str,
    part_cols: list[str] | tuple[str, ...] = ("lang",),
    ppl_col: str = "ppl_bits",
    key_decimals: int = 4,
) -> str:
    """DuckDB replay of :func:`perplexity_buckets` over any scored
    subquery (e.g. a ``bigram_perplexity_sql`` chain joined to the
    partition column)."""
    parts = ", ".join(part_cols)
    on_parts = " AND ".join(f"s.{c} = b.{c}" for c in part_cols)
    key = f"CAST(ROUND({ppl_col} * {10 ** key_decimals}) AS BIGINT)"
    return f"""
WITH scored AS ({scored_sql}
), pkeys AS (
    SELECT {parts}, {key} AS _pk, COUNT(*) AS _c
    FROM scored WHERE {ppl_col} IS NOT NULL
    GROUP BY {len(part_cols) + 1}, {parts}
), ranked AS (
    SELECT {parts}, _pk,
           SUM(_c) OVER (PARTITION BY {parts} ORDER BY _pk) - _c AS _before,
           SUM(_c) OVER (PARTITION BY {parts}) AS _tot
    FROM pkeys
), labeled AS (
    SELECT {parts}, _pk,
           CASE WHEN _before * 3 < _tot THEN 'head'
                WHEN _before * 3 < 2 * _tot THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
)
SELECT s.*, b.bucket
FROM scored s
LEFT JOIN labeled b ON {on_parts} AND {key.replace(ppl_col, 's.' + ppl_col)} = b._pk
"""


# ---------------------------------------------------------------- python twin
def bigram_perplexity_py(
    texts: dict[int, str],
    min_count: int = 2,
    backoff_bits: int = 4,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    ref_texts: dict[int, str] | None = None,
) -> dict[int, tuple[int, int, float | None]]:
    """Independent pure-Python twin of :func:`bigram_perplexity`
    (self-scored form): {doc_id: (n_trans, nll_fp, ppl_bits)} — the
    parity reference the pytest checks Spark and DuckDB against.

    Rounding: HALF-UP on the double's exact value (Decimal), matching
    Spark's BigDecimal round and DuckDB's ROUND — python's built-in
    round() is banker's and diverges at exact ties like
    598016/(4·65536) = 2.28125 (found by the r16 fuzz session, not by
    the fixture tests: nll/2^F quotients hit .xxxx5 exactly)."""
    from decimal import ROUND_HALF_UP, Decimal

    def _r4(v: float) -> float:
        # Decimal(repr(v)), not Decimal(v): Spark's Round on DOUBLE
        # goes through BigDecimal.valueOf (Double.toString — the
        # SHORTEST round-trip representation), so a non-dyadic tie
        # like 366592/(5*2^16) = 1.11875 (stored as 1.11874999...)
        # rounds from "1.11875" -> 1.1188 in both engines; the exact
        # binary value would round down (r17 ref-split KN find, the
        # sibling of the r16 banker's-rounding find)
        return float(
            Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    scale = 1 << frac_bits
    toks = {d: _tokens_py(t) for d, t in texts.items()}
    ref_toks = (
        toks if ref_texts is None
        else {d: _tokens_py(t) for d, t in ref_texts.items()}
    )
    wc: dict[str, int] = {}
    for ws in ref_toks.values():
        for w in ws:
            wc[w] = wc.get(w, 0) + 1
    vocab = {w for w, c in wc.items() if c >= min_count}

    def m(w: str) -> str:
        return w if w in vocab else UNK

    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    cu: dict[str, int] = {}
    for w, c in wc.items():
        cu[m(w)] = cu.get(m(w), 0) + c
    for ws in ref_toks.values():
        prev = BOS
        for w in ws:
            t = m(w)
            c2[(prev, t)] = c2.get((prev, t), 0) + 1
            c1[prev] = c1.get(prev, 0) + 1
            prev = t
    u_plus_v = sum(wc.values()) + len(vocab) + 1
    denom = llog2_py(u_plus_v, frac_bits) if u_plus_v > 0 else 0

    if smoothing == "kn":
        n1v: dict[str, int] = {}
        n1cw: dict[str, int] = {}
        n1 = n2 = 0
        for (v, t), c in c2.items():
            n1v[v] = n1v.get(v, 0) + 1
            n1cw[t] = n1cw.get(t, 0) + 1
            n1 += c == 1
            n2 += c == 2
        dnum = _kn_discount(n1, n2)
        l_n1pp = llog2_py(max(len(c2), 1), frac_bits)

        def lp_kn(prev: str, t: str) -> int:
            cont = llog2_py(max(n1cw.get(t, 0), 1), frac_bits) - l_n1pp
            if (prev, t) in c2:
                return llog2_py(
                    c2[(prev, t)] * KN_DDEN - dnum, frac_bits
                ) - llog2_py(c1[prev] * KN_DDEN, frac_bits)
            if prev in c1:
                return (
                    llog2_py(n1v[prev] * dnum, frac_bits)
                    - llog2_py(c1[prev] * KN_DDEN, frac_bits)
                    + cont
                )
            return cont

        lp_fn = lp_kn
    elif smoothing == "laplace":
        def lp_laplace(prev: str, t: str) -> int:
            if (prev, t) in c2:
                return llog2_py(c2[(prev, t)], frac_bits) - llog2_py(
                    c1[prev], frac_bits
                )
            return (
                llog2_py(cu.get(t, 0) + 1, frac_bits)
                - denom
                - backoff_bits * scale
            )

        lp_fn = lp_laplace
    else:
        raise ValueError(f"unknown smoothing {smoothing!r} (laplace|kn)")

    out: dict[int, tuple[int, int, float | None]] = {}
    for d, ws in toks.items():
        nll = 0
        n = 0
        prev = BOS
        for w in ws:
            t = m(w)
            nll -= lp_fn(prev, t)
            n += 1
            prev = t
        out[d] = (n, nll, _r4(nll / (n * float(scale))) if n else None)
    return out


# ---------------------------------------------------------------- SQL replay
def bigram_perplexity_sql(
    min_count: int = 2,
    backoff_bits: int = 4,
    frac_bits: int = FRAC_BITS,
    table: str = "documents",
    smoothing: str = "laplace",
    ref_filter: str | None = None,
) -> str:
    """DuckDB replay of :func:`bigram_perplexity` — the suite oracle
    text. Same vocab fold, same transition window, same llog2
    fixed-point arithmetic (llog2_sql), same rounding.

    ``ref_filter`` (r17): a doc-level predicate selecting the
    TRAINING subset (the ref-scored form — counts from the filtered
    docs, every doc scored), so the oracle exercises the unseen-
    bigram/unseen-context branches the self-scored form never hits.
    ``smoothing="kn"`` replays the Kneser-Ney chain: quantized Ney
    discount from count-of-counts (integer half-up //), context
    escapes, continuation-unigram base — all BIGINT-exact."""
    scale = 1 << frac_bits
    ref_where = f"WHERE {ref_filter}" if ref_filter else ""

    def trans_cte(src: str) -> str:
        return f"""
    SELECT w.doc_id, w.pos,
           CASE WHEN v.word IS NOT NULL THEN w.word ELSE '{UNK}' END AS token,
           COALESCE(
               lag(CASE WHEN v.word IS NOT NULL THEN w.word ELSE '{UNK}' END)
                   OVER (PARTITION BY w.doc_id ORDER BY w.pos),
               '{BOS}') AS prev
    FROM {src} w LEFT JOIN vocab v ON w.word = v.word"""

    head = f"""
WITH words_all AS (
    SELECT t.doc_id, r.i + 1 AS pos, t.w[r.i + 1] AS word
    FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '{_WS_SQL}'), x -> x <> '') AS w
        FROM {table}
    ) t, unnest(range(len(t.w))) AS r(i)
), ref_words AS (
    SELECT * FROM words_all {ref_where}
), wc AS (
    SELECT word, COUNT(*) AS cnt FROM ref_words GROUP BY 1
), vocab AS (
    SELECT word FROM wc WHERE cnt >= {min_count}
), rtrans AS ({trans_cte('ref_words')}
), trans AS ({trans_cte('words_all')}
), c2 AS (
    SELECT prev, token, COUNT(*) AS c2 FROM rtrans GROUP BY 1, 2
)"""
    tail = f""", agg AS (
    SELECT doc_id, COUNT(*) AS n_trans, -SUM(lp) AS nll_fp FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_trans, 0) AS BIGINT) AS n_trans,
       CAST(COALESCE(a.nll_fp, 0) AS BIGINT) AS nll_fp,
       CASE WHEN a.n_trans > 0
            THEN ROUND(a.nll_fp / (a.n_trans * {float(scale)}), 4)
       END AS ppl_bits
FROM (SELECT DISTINCT doc_id FROM {table}) d
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""
    if smoothing == "kn":
        cont = f"({llog2_sql('GREATEST(COALESCE(u.n1cw, 0), 1)', frac_bits)} - {llog2_sql('GREATEST(d.n1pp, 1)', frac_bits)})"
        return f"""{head}, ctx AS (
    SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1, COUNT(*) AS n1v
    FROM c2 GROUP BY 1
), cont AS (
    SELECT token, COUNT(*) AS n1cw FROM c2 GROUP BY 1
), disc AS (
    SELECT COUNT(*) AS n1pp,
           COUNT(*) FILTER (WHERE c2 = 1) AS n1,
           COUNT(*) FILTER (WHERE c2 = 2) AS n2
    FROM c2
), dnum AS (
    SELECT n1pp, {_KN_DNUM_SQL} AS dn FROM disc
), scored AS (
    SELECT t.doc_id,
           CASE WHEN b.c2 IS NOT NULL
                THEN {llog2_sql(f'(b.c2 * {KN_DDEN} - d.dn)', frac_bits)}
                     - {llog2_sql(f'(x.c1 * {KN_DDEN})', frac_bits)}
                WHEN x.c1 IS NOT NULL
                THEN {llog2_sql('(x.n1v * d.dn)', frac_bits)}
                     - {llog2_sql(f'(x.c1 * {KN_DDEN})', frac_bits)}
                     + {cont}
                ELSE {cont}
           END AS lp
    FROM trans t
    LEFT JOIN c2 b ON t.prev = b.prev AND t.token = b.token
    LEFT JOIN ctx x ON t.prev = x.prev
    LEFT JOIN cont u ON t.token = u.token
    CROSS JOIN dnum d
){tail}"""
    if smoothing != "laplace":
        raise ValueError(f"unknown smoothing {smoothing!r} (laplace|kn)")
    return f"""{head}, c1 AS (
    SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY 1
), cu AS (
    SELECT CASE WHEN v.word IS NOT NULL THEN wc.word ELSE '{UNK}' END AS token,
           SUM(cnt) AS cu
    FROM wc LEFT JOIN vocab v ON wc.word = v.word GROUP BY 1
), tot AS (
    SELECT COALESCE(SUM(cnt), 0) + (SELECT COUNT(*) FROM vocab) + 1 AS upv FROM wc
), scored AS (
    SELECT t.doc_id,
           CASE WHEN b.c2 IS NOT NULL
                THEN {llog2_sql('b.c2', frac_bits)} - {llog2_sql('x.c1', frac_bits)}
                ELSE {llog2_sql('(COALESCE(u.cu, 0) + 1)', frac_bits)}
                     - {llog2_sql('tot.upv', frac_bits)}
                     - {backoff_bits * scale}
           END AS lp
    FROM trans t
    LEFT JOIN c2 b ON t.prev = b.prev AND t.token = b.token
    LEFT JOIN c1 x ON t.prev = x.prev
    LEFT JOIN cu u ON t.token = u.token
    CROSS JOIN tot
){tail}"""


# ---------------------------------------------------------------- fit / score
def bigram_lm_fit(
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    materialize: str | MaterializeFn | bool | None = None,
) -> dict:
    """Train the bigram backoff LM ONCE and return it as a model
    dict of plain DataFrames + bounded scalars — the deployable form
    of the published recipe (CCNet trains on a trusted reference
    corpus, then scores every crawl shard against it): persist the
    frames (``lm_save``/``lm_load``), reload anywhere, score any
    number of corpora (incl. per micro-batch inside a foreachBatch
    hook) without re-counting the reference.

    laplace: exactly the tables :func:`bigram_perplexity` builds
    (vocab, c2/c1/cu + denom_fp). kn: the flat
    ``ngram_kn.kn_lm_fit(order=2)`` model (``impl="kn_generic"``).
    :func:`bigram_lm_score` over this model is pytest-pinned EQUAL
    to the one-shot form."""
    return _lm_fit(ref, 2, smoothing, text_col, id_col, min_count,
                   frac_bits, materialize)


def bigram_lm_score(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff_bits: int = 4,
) -> DataFrame:
    """Score a corpus against a :func:`bigram_lm_fit` model — the
    same math as :func:`bigram_perplexity` (pytest-pinned equal),
    with the reference counts read instead of recomputed. Unknown
    context words fold to <unk> through the model's vocab; a context
    the reference never saw backs off to the unigram leg (laplace)
    or the continuation-unigram distribution (kn, scored by
    ``ngram_kn.kn_lm_score``; ``backoff_bits`` unused)."""
    return _lm_score(docs, model, 2, text_col, id_col, 0, backoff_bits)


# ---------------------------------------------------------------- trigram order
def trigram_perplexity(
    docs: DataFrame,
    ref: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    backoff_bits_bi: int = 4,
    backoff_bits_uni: int = 8,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    materialize: str | MaterializeFn | bool | None = None,
) -> DataFrame:
    """Trigram backoff LM — one order closer to CCNet's 5-gram while
    staying fully SQL-replayable. Same vocab fold and <s> padding as
    the bigram form (position i scores against (u, v) =
    (tok[i−2] or <s>, tok[i−1] or <s>)); the backoff chain is
    tri → bi → uni with fixed escape penalties (β_bi for the first
    escape, β_uni for the second; β_uni > β_bi — a doc that falls
    all the way to unigrams is less fluent than one caught by the
    bigram net):

      c3(u,v,w) > 0:  lp = llog2(c3) − llog2(c3ctx(u,v))
      c2(v,w)  > 0:  lp = llog2(c2) − llog2(c2ctx(v)) − β_bi·2^F
      else:          lp = llog2(cu(w)+1) − llog2(U+V) − β_uni·2^F

    Outputs the bigram form's exact shape (doc_id, n_trans, nll_fp,
    ppl_bits). Scale story identical: corpus touched once (pinned),
    count tables at n-gram-vocabulary altitude, c3/c2 joins
    key-bucketed, contexts/unigrams broadcast, two driver scalars.

    ``smoothing="kn"``: FULL Kneser-Ney at order 3, computed by
    ``ngram_kn.kn_perplexity(order=3)`` — absolute discount per
    order with CONTINUATION counts at every lower order (the
    published KN structure; see that module's docstring).
    ``backoff_bits_bi`` / ``backoff_bits_uni`` are unused there."""
    return _perplexity(docs, ref, 3, smoothing, text_col, id_col, min_count,
                       frac_bits, materialize, backoff_bits_bi, backoff_bits_uni)


def trigram_perplexity_py(
    texts: dict[int, str],
    min_count: int = 2,
    backoff_bits_bi: int = 4,
    backoff_bits_uni: int = 8,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    ref_texts: dict[int, str] | None = None,
) -> dict[int, tuple[int, int, float | None]]:
    """Pure-Python twin of :func:`trigram_perplexity` (half-up
    rounding, like the bigram twin after the r16 fuzz find); r17
    adds ``smoothing="kn"`` and the ref-trained form."""
    from decimal import ROUND_HALF_UP, Decimal

    def _r4(v: float) -> float:
        # Decimal(repr(v)), not Decimal(v): Spark's Round on DOUBLE
        # goes through BigDecimal.valueOf (Double.toString — the
        # SHORTEST round-trip representation), so a non-dyadic tie
        # like 366592/(5*2^16) = 1.11875 (stored as 1.11874999...)
        # rounds from "1.11875" -> 1.1188 in both engines; the exact
        # binary value would round down (r17 ref-split KN find, the
        # sibling of the r16 banker's-rounding find)
        return float(
            Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    scale = 1 << frac_bits
    toks = {d: _tokens_py(t) for d, t in texts.items()}
    ref_toks = (
        toks if ref_texts is None
        else {d: _tokens_py(t) for d, t in ref_texts.items()}
    )
    wc: dict[str, int] = {}
    for ws in ref_toks.values():
        for w in ws:
            wc[w] = wc.get(w, 0) + 1
    vocab = {w for w, c in wc.items() if c >= min_count}

    def m(w: str) -> str:
        return w if w in vocab else UNK

    c3: dict[tuple[str, str, str], int] = {}
    c3ctx: dict[tuple[str, str], int] = {}
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    cu: dict[str, int] = {}
    for w, c in wc.items():
        cu[m(w)] = cu.get(m(w), 0) + c
    for ws in ref_toks.values():
        u, v = BOS, BOS
        for w in ws:
            t = m(w)
            c3[(u, v, t)] = c3.get((u, v, t), 0) + 1
            c3ctx[(u, v)] = c3ctx.get((u, v), 0) + 1
            c2[(v, t)] = c2.get((v, t), 0) + 1
            c1[v] = c1.get(v, 0) + 1
            u, v = v, t
    u_plus_v = sum(wc.values()) + len(vocab) + 1
    denom = llog2_py(u_plus_v, frac_bits) if u_plus_v > 0 else 0

    if smoothing == "kn":
        n1uv: dict[tuple[str, str], int] = {}
        cc2: dict[tuple[str, str], int] = {}
        n1_3 = n2_3 = 0
        for (u, v, t), c in c3.items():
            n1uv[(u, v)] = n1uv.get((u, v), 0) + 1
            cc2[(v, t)] = cc2.get((v, t), 0) + 1
            n1_3 += c == 1
            n2_3 += c == 2
        cc2ctx: dict[str, int] = {}
        n1vcc: dict[str, int] = {}
        n1cw: dict[str, int] = {}
        n1_2 = n2_2 = 0
        for (v, t), c in cc2.items():
            cc2ctx[v] = cc2ctx.get(v, 0) + c
            n1vcc[v] = n1vcc.get(v, 0) + 1
            n1cw[t] = n1cw.get(t, 0) + 1
            n1_2 += c == 1
            n2_2 += c == 2
        dn3 = _kn_discount(n1_3, n2_3)
        dn2 = _kn_discount(n1_2, n2_2)
        l_n1pp2 = llog2_py(max(len(cc2), 1), frac_bits)

        def lp_kn(u: str, v: str, t: str) -> int:
            base1 = llog2_py(max(n1cw.get(t, 0), 1), frac_bits) - l_n1pp2
            if (u, v, t) in c3:
                return llog2_py(
                    c3[(u, v, t)] * KN_DDEN - dn3, frac_bits
                ) - llog2_py(c3ctx[(u, v)] * KN_DDEN, frac_bits)
            lvl2 = None
            if (v, t) in cc2:
                lvl2 = llog2_py(
                    cc2[(v, t)] * KN_DDEN - dn2, frac_bits
                ) - llog2_py(cc2ctx[v] * KN_DDEN, frac_bits)
            elif v in cc2ctx:
                lvl2 = (
                    llog2_py(n1vcc[v] * dn2, frac_bits)
                    - llog2_py(cc2ctx[v] * KN_DDEN, frac_bits)
                    + base1
                )
            if (u, v) in c3ctx:
                esc3 = llog2_py(n1uv[(u, v)] * dn3, frac_bits) - llog2_py(
                    c3ctx[(u, v)] * KN_DDEN, frac_bits
                )
                # (u,v) seen guarantees v seen at the middle order
                return esc3 + lvl2
            return lvl2 if lvl2 is not None else base1

        lp_fn = lp_kn
    elif smoothing == "laplace":
        def lp_laplace(u: str, v: str, t: str) -> int:
            if (u, v, t) in c3:
                return llog2_py(c3[(u, v, t)], frac_bits) - llog2_py(
                    c3ctx[(u, v)], frac_bits
                )
            if (v, t) in c2:
                return (
                    llog2_py(c2[(v, t)], frac_bits)
                    - llog2_py(c1[v], frac_bits)
                    - backoff_bits_bi * scale
                )
            return (
                llog2_py(cu.get(t, 0) + 1, frac_bits)
                - denom
                - backoff_bits_uni * scale
            )

        lp_fn = lp_laplace
    else:
        raise ValueError(f"unknown smoothing {smoothing!r} (laplace|kn)")

    out: dict[int, tuple[int, int, float | None]] = {}
    for d, ws in toks.items():
        nll = 0
        n = 0
        u, v = BOS, BOS
        for w in ws:
            t = m(w)
            nll -= lp_fn(u, v, t)
            n += 1
            u, v = v, t
        out[d] = (n, nll, _r4(nll / (n * float(scale))) if n else None)
    return out


def trigram_perplexity_sql(
    min_count: int = 2,
    backoff_bits_bi: int = 4,
    backoff_bits_uni: int = 8,
    frac_bits: int = FRAC_BITS,
    table: str = "documents",
    smoothing: str = "laplace",
    ref_filter: str | None = None,
) -> str:
    """DuckDB replay of :func:`trigram_perplexity` — two lag windows,
    three count tables, the tri→bi→uni escape chain in llog2
    arithmetic. ``smoothing="kn"``/``ref_filter`` as in
    :func:`bigram_perplexity_sql` (the KN replay derives every
    lower-order table from the c3 TYPE CTE, continuation counts
    included, and recomputes both quantized discounts in SQL)."""
    scale = 1 << frac_bits
    ref_where = f"WHERE {ref_filter}" if ref_filter else ""

    def trans_cte(src: str) -> str:
        return f"""
    SELECT w.doc_id, w.pos,
           CASE WHEN v.word IS NOT NULL THEN w.word ELSE '{UNK}' END AS token,
           COALESCE(
               lag(CASE WHEN v.word IS NOT NULL THEN w.word ELSE '{UNK}' END)
                   OVER (PARTITION BY w.doc_id ORDER BY w.pos),
               '{BOS}') AS prev,
           COALESCE(
               lag(CASE WHEN v.word IS NOT NULL THEN w.word ELSE '{UNK}' END, 2)
                   OVER (PARTITION BY w.doc_id ORDER BY w.pos),
               '{BOS}') AS prev2
    FROM {src} w LEFT JOIN vocab v ON w.word = v.word"""

    head = f"""
WITH words_all AS (
    SELECT t.doc_id, r.i + 1 AS pos, t.w[r.i + 1] AS word
    FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '{_WS_SQL}'), x -> x <> '') AS w
        FROM {table}
    ) t, unnest(range(len(t.w))) AS r(i)
), ref_words AS (
    SELECT * FROM words_all {ref_where}
), wc AS (
    SELECT word, COUNT(*) AS cnt FROM ref_words GROUP BY 1
), vocab AS (
    SELECT word FROM wc WHERE cnt >= {min_count}
), rtrans AS ({trans_cte('ref_words')}
), trans AS ({trans_cte('words_all')}
), c3 AS (
    SELECT prev2, prev, token, COUNT(*) AS c3 FROM rtrans GROUP BY 1, 2, 3
)"""
    tail = f""", agg AS (
    SELECT doc_id, COUNT(*) AS n_trans, -SUM(lp) AS nll_fp FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_trans, 0) AS BIGINT) AS n_trans,
       CAST(COALESCE(a.nll_fp, 0) AS BIGINT) AS nll_fp,
       CASE WHEN a.n_trans > 0
            THEN ROUND(a.nll_fp / (a.n_trans * {float(scale)}), 4)
       END AS ppl_bits
FROM (SELECT DISTINCT doc_id FROM {table}) d
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""
    if smoothing == "kn":
        base1 = f"({llog2_sql('GREATEST(COALESCE(u1.n1cw, 0), 1)', frac_bits)} - {llog2_sql('d.n1pp2', frac_bits)})"
        esc3 = f"({llog2_sql('(x3.n1uv * d.dn3)', frac_bits)} - {llog2_sql(f'(x3.c3ctx * {KN_DDEN})', frac_bits)})"
        hit2 = f"({llog2_sql(f'(b2.cc2 * {KN_DDEN} - d.dn2)', frac_bits)} - {llog2_sql(f'(x2.cc2ctx * {KN_DDEN})', frac_bits)})"
        esc2 = f"({llog2_sql('(x2.n1vcc * d.dn2)', frac_bits)} - {llog2_sql(f'(x2.cc2ctx * {KN_DDEN})', frac_bits)})"
        return f"""{head}, ctx3 AS (
    SELECT prev2, prev, CAST(SUM(c3) AS BIGINT) AS c3ctx, COUNT(*) AS n1uv
    FROM c3 GROUP BY 1, 2
), cc2 AS (
    SELECT prev, token, COUNT(*) AS cc2 FROM c3 GROUP BY 1, 2
), ctx2 AS (
    SELECT prev, CAST(SUM(cc2) AS BIGINT) AS cc2ctx, COUNT(*) AS n1vcc
    FROM cc2 GROUP BY 1
), cont1 AS (
    SELECT token, COUNT(*) AS n1cw FROM cc2 GROUP BY 1
), disc3 AS (
    SELECT COUNT(*) FILTER (WHERE c3 = 1) AS n1,
           COUNT(*) FILTER (WHERE c3 = 2) AS n2
    FROM c3
), disc2 AS (
    SELECT GREATEST(COUNT(*), 1) AS n1pp2,
           COUNT(*) FILTER (WHERE cc2 = 1) AS n1,
           COUNT(*) FILTER (WHERE cc2 = 2) AS n2
    FROM cc2
), dnum AS (
    SELECT (SELECT {_KN_DNUM_SQL} FROM disc3) AS dn3,
           (SELECT {_KN_DNUM_SQL} FROM disc2) AS dn2,
           (SELECT n1pp2 FROM disc2) AS n1pp2
), scored AS (
    SELECT t.doc_id,
           CASE WHEN t3.c3 IS NOT NULL
                THEN {llog2_sql(f'(t3.c3 * {KN_DDEN} - d.dn3)', frac_bits)}
                     - {llog2_sql(f'(x3.c3ctx * {KN_DDEN})', frac_bits)}
                WHEN x3.c3ctx IS NOT NULL AND b2.cc2 IS NOT NULL
                THEN {esc3} + {hit2}
                WHEN x3.c3ctx IS NOT NULL
                THEN {esc3} + {esc2} + {base1}
                WHEN b2.cc2 IS NOT NULL
                THEN {hit2}
                WHEN x2.cc2ctx IS NOT NULL
                THEN {esc2} + {base1}
                ELSE {base1}
           END AS lp
    FROM trans t
    LEFT JOIN c3 t3 ON t.prev2 = t3.prev2 AND t.prev = t3.prev AND t.token = t3.token
    LEFT JOIN ctx3 x3 ON t.prev2 = x3.prev2 AND t.prev = x3.prev
    LEFT JOIN cc2 b2 ON t.prev = b2.prev AND t.token = b2.token
    LEFT JOIN ctx2 x2 ON t.prev = x2.prev
    LEFT JOIN cont1 u1 ON t.token = u1.token
    CROSS JOIN dnum d
){tail}"""
    if smoothing != "laplace":
        raise ValueError(f"unknown smoothing {smoothing!r} (laplace|kn)")
    return f"""{head}, c3ctx AS (
    SELECT prev2, prev, SUM(c3) AS c3ctx FROM c3 GROUP BY 1, 2
), c2 AS (
    SELECT prev, token, COUNT(*) AS c2 FROM rtrans GROUP BY 1, 2
), c1 AS (
    SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY 1
), cu AS (
    SELECT CASE WHEN v.word IS NOT NULL THEN wc.word ELSE '{UNK}' END AS token,
           SUM(cnt) AS cu
    FROM wc LEFT JOIN vocab v ON wc.word = v.word GROUP BY 1
), tot AS (
    SELECT COALESCE(SUM(cnt), 0) + (SELECT COUNT(*) FROM vocab) + 1 AS upv FROM wc
), scored AS (
    SELECT t.doc_id,
           CASE WHEN t3.c3 IS NOT NULL
                THEN {llog2_sql('t3.c3', frac_bits)} - {llog2_sql('x3.c3ctx', frac_bits)}
                WHEN b.c2 IS NOT NULL
                THEN {llog2_sql('b.c2', frac_bits)} - {llog2_sql('x.c1', frac_bits)}
                     - {backoff_bits_bi * scale}
                ELSE {llog2_sql('(COALESCE(u.cu, 0) + 1)', frac_bits)}
                     - {llog2_sql('tot.upv', frac_bits)}
                     - {backoff_bits_uni * scale}
           END AS lp
    FROM trans t
    LEFT JOIN c3 t3 ON t.prev2 = t3.prev2 AND t.prev = t3.prev AND t.token = t3.token
    LEFT JOIN c3ctx x3 ON t.prev2 = x3.prev2 AND t.prev = x3.prev
    LEFT JOIN c2 b ON t.prev = b.prev AND t.token = b.token
    LEFT JOIN c1 x ON t.prev = x.prev
    LEFT JOIN cu u ON t.token = u.token
    CROSS JOIN tot
){tail}"""


# ---------------------------------------------------------------- trigram fit / score
def trigram_lm_fit(
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    materialize: str | MaterializeFn | bool | None = None,
) -> dict:
    """Order-3 mirror of :func:`bigram_lm_fit` (r17 — the r16
    verdict's item 3: before this, the trigram LM existed only as
    the one-shot form, so a foreachBatch consumer couldn't use
    order 3). laplace: every table :func:`trigram_perplexity` builds
    (vocab, c3/c3ctx/c2/c1/cu + denom_fp); kn: the flat
    ``ngram_kn.kn_lm_fit(order=3)`` model. :func:`trigram_lm_score`
    over the model is pytest-pinned EQUAL to the one-shot form."""
    return _lm_fit(ref, 3, smoothing, text_col, id_col, min_count,
                   frac_bits, materialize)


def trigram_lm_score(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff_bits_bi: int = 4,
    backoff_bits_uni: int = 8,
) -> DataFrame:
    """Score a corpus against a :func:`trigram_lm_fit` model — the
    one-shot :func:`trigram_perplexity` math with the reference
    counts read instead of recomputed (pytest-pinned equal)."""
    return _lm_score(docs, model, 3, text_col, id_col,
                     backoff_bits_bi, backoff_bits_uni)


# ---------------------------------------------------------------- model persistence
def lm_score(docs: DataFrame, model: dict, **kw) -> DataFrame:
    """Model-dispatching score: every Kneser-Ney model (any order,
    ``impl="kn_generic"``) goes to ``ngram_kn.kn_lm_score``, with
    the Laplace-only ``backoff_bits*`` keywords dropped; Laplace
    models go to :func:`trigram_lm_score` or :func:`bigram_lm_score`
    by their recorded order (models saved before r17 lack it and are
    bigram by construction)."""
    if model.get("smoothing", "laplace") == "kn":
        for k in ("backoff_bits", "backoff_bits_bi", "backoff_bits_uni"):
            kw.pop(k, None)
        return _kn_lm_score(docs, model, **kw)
    if model.get("order", 2) == 3:
        return trigram_lm_score(docs, model, **kw)
    return bigram_lm_score(docs, model, **kw)


def lm_save(model: dict, path: str) -> None:
    """Persist a fit model: every DataFrame table as parquet under
    ``path``/<name>, scalars + order + smoothing in meta.json — the
    deployable artifact a foreachBatch consumer reloads once
    (``lm_load``) and scores every micro-batch against."""
    import os

    from ..sources.io import write_json_atomic

    os.makedirs(path, exist_ok=True)
    meta = {}
    for k, v in model.items():
        if isinstance(v, DataFrame):
            v.write.mode("overwrite").parquet(os.path.join(path, k))
        else:
            meta[k] = v
    write_json_atomic(os.path.join(path, "meta.json"), meta)


def lm_load(spark, path: str) -> dict:
    """Reload an :func:`lm_save` artifact into a model dict."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        model: dict = json.load(fh)
    for name in os.listdir(path):
        sub = os.path.join(path, name)
        if os.path.isdir(sub):
            model[name] = spark.read.parquet(sub)
    return model
