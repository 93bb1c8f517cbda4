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
The ``*_py`` twins and ``*_sql`` replays below are the Laplace
references only: one order-2/3 twin body (``_laplace_py``) and one
DuckDB generator (``_laplace_sql``) behind the bigram and trigram
names, on the same tokenizer, history and rounding scaffolding the
Kneser-Ney references in ngram_kn.py (``kn_perplexity_py`` /
``kn_perplexity_sql``, every order 2..5) are built on.

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
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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
    materialize: bool | None = None,
) -> DataFrame:
    """Train the bigram backoff LM on ``ref`` (default: ``docs``
    itself — the self-scored corpus form the oracle replays) and
    score every document: (doc_id, n_trans, nll_fp, ppl_bits).

    ``smoothing``: ``"laplace"`` is the fixed-escape Laplace-unigram
    backoff above; ``"kn"`` is absolute-discount Kneser-Ney (the
    CCNet/KenLM smoothing family), computed by
    ``ngram_kn.kn_perplexity(order=2)`` (its module docstring has the
    formulas) — ``backoff_bits`` is unused there. Laplace replays in
    DuckDB as ``bigram_perplexity_sql``, Kneser-Ney as
    ``ngram_kn.kn_perplexity_sql(order=2)``.

    ``nll_fp`` is the exact fixed-point negative log2-likelihood
    (BIGINT — the hash-stable column); ``ppl_bits`` = bits/token,
    the human-facing knob a deployment thresholds on (CCNet buckets
    head/middle/tail on exactly this number).

    Branch points are pinned per ``materialize`` (see
    llm_ops.materialize): the distinct-word table feeds the vocab,
    the unigram fold AND the totals collect, and the mapped
    transition table feeds both the bigram counts and
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
def _r4(v: float) -> float:
    """``ppl_bits`` rounding of the pure-Python twins: HALF-UP to 4
    places, matching Spark's BigDecimal round and DuckDB's ROUND.
    Python's built-in round() is banker's and diverges at exact ties
    like 598016/(4·65536) = 2.28125 (found by the r16 fuzz session,
    not by the fixture tests: nll/2^F quotients hit .xxxx5 exactly).
    Decimal(repr(v)), not Decimal(v): Spark's Round on DOUBLE goes
    through BigDecimal.valueOf (Double.toString — the SHORTEST
    round-trip representation), so a non-dyadic tie like
    366592/(5·2^16) = 1.11875 (stored as 1.11874999...) rounds from
    "1.11875" → 1.1188 in both engines; the exact binary value would
    round down (the r17 ref-split find)."""
    return float(Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _twin_vocab(texts: dict[int, str], ref_texts: dict[int, str] | None,
                min_count: int):
    """(toks, ref_toks, wc, fold) of a pure-Python twin: the tokens of
    the scored docs and of the training docs (default: the scored
    docs), the training word counts, and the <unk> fold of words
    below ``min_count``."""
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

    def fold(w: str) -> str:
        return w if w in vocab else UNK

    return toks, ref_toks, wc, fold


def _hist_py(ws: list[str], fold, order: int):
    """(history, token) per position of one document: the history is
    the ``order − 1`` previous folded tokens, nearest first, <s>
    before the document start — the twin side of :func:`_trans_of`."""
    hist = (BOS,) * (order - 1)
    for w in ws:
        t = fold(w)
        yield hist, t
        hist = (t,) + hist[:-1]


def _twin_scores(toks: dict[int, list[str]], fold, order: int, lp,
                 frac_bits: int) -> dict[int, tuple[int, int, float | None]]:
    """{doc_id: (n_trans, nll_fp, ppl_bits)} from a per-transition
    ``lp(history, token)`` — the twin side of :func:`_doc_scores`."""
    scale = float(1 << frac_bits)
    out: dict[int, tuple[int, int, float | None]] = {}
    for d, ws in toks.items():
        nll = -sum(lp(h, t) for h, t in _hist_py(ws, fold, order))
        n = len(ws)
        out[d] = (n, nll, _r4(nll / (n * scale)) if n else None)
    return out


def _laplace_py(texts: dict[int, str], order: int, min_count: int,
                backoff_bits_bi: int, backoff_bits_uni: int, frac_bits: int,
                ref_texts: dict[int, str] | None):
    """The pure-Python Laplace reference at order 2 or 3, written
    independently of :func:`_laplace_fit`/:func:`_laplace_score`:
    the highest-order hit (an order-2 hit under an order-3 model pays
    ``backoff_bits_bi``), else the Laplace unigram minus
    ``backoff_bits_uni``."""
    scale = 1 << frac_bits
    toks, ref_toks, wc, fold = _twin_vocab(texts, ref_texts, min_count)
    # cnt[k]: (context of k−1 tokens, token) → count; ctx[k]: context totals
    cnt: dict[int, dict] = {k: {} for k in range(2, order + 1)}
    ctx: dict[int, dict] = {k: {} for k in range(2, order + 1)}
    for ws in ref_toks.values():
        for h, t in _hist_py(ws, fold, order):
            for k in cnt:
                c = h[: k - 1]
                cnt[k][(c, t)] = cnt[k].get((c, t), 0) + 1
                ctx[k][c] = ctx[k].get(c, 0) + 1
    cu: dict[str, int] = {}
    for w, c in wc.items():
        cu[fold(w)] = cu.get(fold(w), 0) + c
    n_vocab = sum(1 for c in wc.values() if c >= min_count)
    denom = llog2_py(sum(wc.values()) + n_vocab + 1, frac_bits)

    def lp(h: tuple[str, ...], t: str) -> int:
        for k in range(order, 1, -1):
            c = cnt[k].get((h[: k - 1], t))
            if c is not None:
                pen = 0 if k == order else backoff_bits_bi * scale
                return (llog2_py(c, frac_bits)
                        - llog2_py(ctx[k][h[: k - 1]], frac_bits) - pen)
        return (llog2_py(cu.get(t, 0) + 1, frac_bits) - denom
                - backoff_bits_uni * scale)

    return _twin_scores(toks, fold, order, lp, frac_bits)


def bigram_perplexity_py(
    texts: dict[int, str],
    min_count: int = 2,
    backoff_bits: int = 4,
    frac_bits: int = FRAC_BITS,
    ref_texts: dict[int, str] | None = None,
) -> dict[int, tuple[int, int, float | None]]:
    """Independent pure-Python twin of the Laplace
    :func:`bigram_perplexity` (trained on ``ref_texts``, default the
    scored ``texts``): {doc_id: (n_trans, nll_fp, ppl_bits)} — the
    parity reference the pytest checks Spark and DuckDB against."""
    return _laplace_py(texts, 2, min_count, 0, backoff_bits, frac_bits, ref_texts)


def trigram_perplexity_py(
    texts: dict[int, str],
    min_count: int = 2,
    backoff_bits_bi: int = 4,
    backoff_bits_uni: int = 8,
    frac_bits: int = FRAC_BITS,
    ref_texts: dict[int, str] | None = None,
) -> dict[int, tuple[int, int, float | None]]:
    """Pure-Python twin of the Laplace :func:`trigram_perplexity`."""
    return _laplace_py(texts, 3, min_count, backoff_bits_bi, backoff_bits_uni,
                       frac_bits, ref_texts)


# ---------------------------------------------------------------- SQL replay
def _sql_head(table: str, min_count: int, ref_filter: str | None,
              lags: list[str]) -> str:
    """The DuckDB replays' CTE head: ``words_all`` (1-based positions
    of the lowercase whitespace tokens of ``table``) → ``ref_words``
    (the training docs, ``ref_filter``) → ``wc`` → ``vocab`` →
    ``rtrans``/``trans``, the vocab-folded training/scoring
    transitions with one lag column per name in ``lags`` (nearest
    first, <s> before the document start) — the SQL side of
    :func:`_trans_of`. Returns an open ``WITH`` list; callers append
    ``, name AS (...)`` CTEs and end with :func:`_sql_tail`."""
    ref_where = f"WHERE {ref_filter}" if ref_filter else ""
    tok = f"CASE WHEN v.word IS NOT NULL THEN w.word ELSE '{UNK}' END"
    lag_cols = "".join(
        f",\n           COALESCE(lag({tok}, {i}) OVER "
        f"(PARTITION BY w.doc_id ORDER BY w.pos), '{BOS}') AS {p}"
        for i, p in enumerate(lags, start=1)
    )

    def trans(src: str) -> str:
        return (
            f"\n    SELECT w.doc_id, w.pos, {tok} AS token{lag_cols}"
            f"\n    FROM {src} w LEFT JOIN vocab v ON w.word = v.word"
        )

    return f"""
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
), rtrans AS ({trans('ref_words')}
), trans AS ({trans('words_all')}
)"""


def _sql_tail(table: str, frac_bits: int) -> str:
    """The DuckDB replays' tail over a ``scored (doc_id, lp)`` CTE:
    (doc_id, n_trans, nll_fp, ppl_bits), one row per distinct doc of
    ``table`` — the SQL side of :func:`_doc_scores`."""
    return f""", agg AS (
    SELECT doc_id, COUNT(*) AS n_trans, -SUM(lp) AS nll_fp FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_trans, 0) AS BIGINT) AS n_trans,
       CAST(COALESCE(a.nll_fp, 0) AS BIGINT) AS nll_fp,
       CASE WHEN a.n_trans > 0
            THEN ROUND(a.nll_fp / (a.n_trans * {float(1 << frac_bits)}), 4)
       END AS ppl_bits
FROM (SELECT DISTINCT doc_id FROM {table}) d
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def _laplace_sql(order: int, min_count: int, backoff_bits_bi: int,
                 backoff_bits_uni: int, frac_bits: int, table: str,
                 ref_filter: str | None) -> str:
    """DuckDB replay of the Laplace model at order 2 or 3: per order
    k the (context, token) count CTE ``cnt{k}`` and its context
    totals ``ctx{k}``, the folded unigram table ``cu``, the U+V
    total, and the escape CASE of :func:`_laplace_py`."""
    scale = 1 << frac_bits
    lags = _LAGS[: order - 1]
    parts = [_sql_head(table, min_count, ref_filter, lags)]
    cases, joins = [], []
    for k in range(order, 1, -1):
        cols = lags[: k - 1]
        parts.append(f""", cnt{k} AS (
    SELECT {', '.join(cols)}, token, COUNT(*) AS c{k}
    FROM rtrans GROUP BY {', '.join(str(i) for i in range(1, k + 1))}
), ctx{k} AS (
    SELECT {', '.join(cols)}, SUM(c{k}) AS ctx{k}
    FROM cnt{k} GROUP BY {', '.join(str(i) for i in range(1, k))}
)""")
        pen = "" if k == order else f" - {backoff_bits_bi * scale}"
        cases.append(
            f"WHEN b{k}.c{k} IS NOT NULL THEN {llog2_sql(f'b{k}.c{k}', frac_bits)}"
            f" - {llog2_sql(f'x{k}.ctx{k}', frac_bits)}{pen}"
        )
        on_x = [f"t.{c} = x{k}.{c}" for c in cols]
        on_b = [f"t.{c} = b{k}.{c}" for c in cols] + [f"t.token = b{k}.token"]
        joins.append(f"    LEFT JOIN cnt{k} b{k} ON {' AND '.join(on_b)}")
        joins.append(f"    LEFT JOIN ctx{k} x{k} ON {' AND '.join(on_x)}")
    case = "\n                ".join(cases)
    join_sql = "\n".join(joins)
    parts.append(f""", cu AS (
    SELECT CASE WHEN v.word IS NOT NULL THEN wc.word ELSE '{UNK}' END AS token,
           SUM(cnt) AS cu
    FROM wc LEFT JOIN vocab v ON wc.word = v.word GROUP BY 1
), tot AS (
    SELECT COALESCE(SUM(cnt), 0) + (SELECT COUNT(*) FROM vocab) + 1 AS upv FROM wc
), scored AS (
    SELECT t.doc_id,
           CASE {case}
                ELSE {llog2_sql('(COALESCE(u.cu, 0) + 1)', frac_bits)}
                     - {llog2_sql('tot.upv', frac_bits)}
                     - {backoff_bits_uni * scale}
           END AS lp
    FROM trans t
{join_sql}
    LEFT JOIN cu u ON t.token = u.token
    CROSS JOIN tot
)""")
    return "".join(parts) + _sql_tail(table, frac_bits)


def bigram_perplexity_sql(
    min_count: int = 2,
    backoff_bits: int = 4,
    frac_bits: int = FRAC_BITS,
    table: str = "documents",
    ref_filter: str | None = None,
) -> str:
    """DuckDB replay of the Laplace :func:`bigram_perplexity` — the
    suite oracle text. Same vocab fold, same transition window, same
    llog2 fixed-point arithmetic (llog2_sql), same rounding.

    ``ref_filter`` (r17): a doc-level predicate selecting the
    TRAINING subset (the ref-scored form — counts from the filtered
    docs, every doc scored), so the replay exercises the unseen-
    bigram/unseen-context branches the self-scored form never hits."""
    return _laplace_sql(2, min_count, 0, backoff_bits, frac_bits, table, ref_filter)


def trigram_perplexity_sql(
    min_count: int = 2,
    backoff_bits_bi: int = 4,
    backoff_bits_uni: int = 8,
    frac_bits: int = FRAC_BITS,
    table: str = "documents",
    ref_filter: str | None = None,
) -> str:
    """DuckDB replay of the Laplace :func:`trigram_perplexity` — two
    lag windows, three count tables, the tri→bi→uni escape chain in
    llog2 arithmetic; ``ref_filter`` as in
    :func:`bigram_perplexity_sql`."""
    return _laplace_sql(3, min_count, backoff_bits_bi, backoff_bits_uni,
                        frac_bits, table, ref_filter)


# ---------------------------------------------------------------- fit / score
def bigram_lm_fit(
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    materialize: bool | None = None,
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
    materialize: bool | None = None,
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


# ---------------------------------------------------------------- trigram fit / score
def trigram_lm_fit(
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    smoothing: str = "laplace",
    materialize: bool | None = None,
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
