"""Generalized-order Kneser-Ney perplexity — CCNet's PUBLISHED
configuration (Wenzek et al. 2020 filter: a 5-gram KenLM) at any
order 2..5, fully SQL-replayable.

This is the package's ONE home of Kneser-Ney arithmetic: the Spark
engine (llm_ops/ngram_lm.py's bigram/trigram ``smoothing="kn"``
front-ends route here with ``order=2|3``) and its two references,
the pure-Python twin ``kn_perplexity_py`` and the DuckDB replay
``kn_perplexity_sql``. Quantized Ney discount (``_kn_discount``,
D/256 — the int64-exactness argument in the KN_DDEN note),
backoff-form escape weights, and TRUE continuation counts at every
lower order — each level's table is derived from the TYPE table one
order up, so the corpus is touched exactly once no matter the order:

    cK   (w | u_1..u_{K-1})       raw K-gram counts
    cc_k (w | u_{K-k+1}..u_{K-1}) = |{distinct next-higher context}|
                                    for k = K-1 .. 2
    base = continuation-unigram N1+(·,w) / N1pp over cc_2 types

Escape chain (backoff form): with k* the highest order whose n-gram
is a hit (0 = the continuation-unigram base),

    lp = hit(k*) + Σ_{j > k*, context_j seen} esc_j
    hit_K  = llog2(cK·256 − D_K)  − llog2(ctx_K·256)
    hit_k  = llog2(cc_k·256 − D_k) − llog2(ccctx_k·256)   (k < K)
    esc_j  = llog2(N1+_j·D_j)      − llog2(ctx_j·256)
    base   = llog2(max(N1cw, 1))   − llog2(N1pp)

(an unseen context contributes NO escape). At order 2 that reads,
with c1 = c(v) the context total:

    c(v,w) > 0:       lp = llog2(c2·256 − D) − llog2(c1·256)
    c(v) > 0, miss:   lp = llog2(D·N1+(v,·)) − llog2(c1·256)
                           + llog2(N1+(·,w)) − llog2(N1pp)
    v unseen:         lp = llog2(N1+(·,w)) − llog2(N1pp)

N1+(·,w) is the continuation-unigram count — KN's signature: a word
seen in many contexts is a plausible NOVEL continuation even when
the specific bigram is unseen.

Every count table sits at n-gram-type altitude. Scoring joins
(r18 shape): at each order k ≥ 3 the transitions join the CONTEXT
table once — a key-bucketed SMJ at 100 TB — and read the kept
per-token count from a token→count map riding on the context row
(fan-out = the context's continuation count, bounded for multi-word
contexts), so the per-order (context,token) hit join is folded away;
the k = 2 hit join stays a separate key-bucketed SMJ (a bigram
vocabulary's hot contexts have vocab-sized fan-out and its type
table must not broadcast), and the order-2 context/continuation
tables broadcast. All discount scalars + the bigram type total
arrive in ONE driver action (a union of per-order count-of-count
aggregates over the checkpointed type tables).

Count-threshold pruning (r17 wave 3 — KenLM's ``--prune``, the knob
that makes a 5-gram model DEPLOYABLE at 100 TB: an unpruned 5-gram
type table over a web crawl is itself crawl-sized; pruned at count
≥2–3 it shrinks by the singleton mass, which Good-Turing says is
most of it): ``prune={k: min_count_to_keep}``. KenLM order of
operations is preserved — discounts, continuation counts and
context totals all come from the FULL type tables ("adjusted counts
before pruning"), then k-grams below the threshold are dropped from
the HIT join only, and each context's escape weight absorbs the
dropped probability mass EXACTLY:

    esc_num_k(v) = (c(v) − Σ_kept c(v,w))·256 + n_kept(v)·D_k

which degenerates to the unpruned ``N1+(v,·)·D_k`` when everything
is kept (Σ_kept = c(v), n_kept = N1+), and to the full mass
``c(v)·256`` (escape weight 1, log 0) when a context loses every
continuation. Per-context mass conservation — Σ_kept(c·256 − D) +
esc_num = c(v)·256 — holds as an integer identity at every order,
pinned by a Fraction-arithmetic pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize as _materialize
from .ngram_lm import (
    _doc_scores,
    _hist_py,
    _lm_transitions,
    _sql_head,
    _sql_tail,
    _trans_of,
    _twin_scores,
    _twin_vocab,
    _vocab_of,
    _word_rows,
)
from .quality_model import FRAC_BITS, llog2, llog2_py, llog2_sql

MAX_ORDER = 5

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


def _norm_prune(prune: dict[int, int] | None, order: int) -> dict[int, int]:
    """{order: min count to KEEP} with 1 (keep everything) as the
    default at every order; validates keys/values."""
    out = {k: 1 for k in range(2, order + 1)}
    for k, v in (prune or {}).items():
        if k not in out:
            raise ValueError(f"prune order {k} outside 2..{order}")
        if int(v) < 1:
            raise ValueError(f"prune[{k}] must be >= 1, got {v}")
        out[k] = int(v)
    return out


def _build_tables(trans_train: DataFrame, order: int, frac_bits: int,
                  materialize, prune: dict[int, int] | None = None) -> dict:
    """All per-order count/context/continuation tables + discount
    scalars from ONE pass over the training transitions. With
    ``prune``, discounts/continuations/context totals still come
    from the FULL type tables (the KenLM order of operations); the
    scoring-side ``kept`` tables are threshold-filtered and the
    context tables gain the exact kept-mass columns the escape
    weight renormalizes with (module docstring)."""
    pr = _norm_prune(prune, order)
    pcols = [f"p{i}" for i in range(1, order)]
    counts: dict[int, DataFrame] = {}
    counts[order] = _materialize(
        trans_train.groupBy(*pcols[: order - 1], "token").agg(
            F.count(F.lit(1)).alias(f"c{order}")
        ),
        materialize,
    )
    for k in range(order - 1, 1, -1):
        counts[k] = _materialize(
            counts[k + 1]
            .groupBy(*pcols[: k - 1], "token")
            .agg(F.count(F.lit(1)).alias(f"c{k}")),
            materialize,
        )
    ctxs: dict[int, DataFrame] = {}
    for k in range(2, order + 1):
        kept_cond = F.col(f"c{k}") >= pr[k]
        aggs = [
            F.sum(f"c{k}").alias(f"ctx{k}"),
            F.count(F.lit(1)).alias(f"n1_{k}"),
        ]
        if pr[k] > 1:
            aggs += [
                F.sum(kept_cond.cast("long")).alias(f"kept{k}"),
                F.coalesce(
                    F.sum(F.when(kept_cond, F.col(f"c{k}"))), F.lit(0)
                ).alias(f"keptc{k}"),
            ]
        if k >= 3:
            # r18: the scoring join at order k >= 3 reads the KEPT
            # per-token count from a token→count map riding on the
            # context row — one context-keyed join per order instead
            # of the (context,token) hit join PLUS the context join
            # (guide §2.4: two operations keyed the same way share
            # one exchange; here they share one JOIN). collect_list
            # skips the NULLs the prune filter leaves, so the map
            # holds exactly the threshold-kept entries. Map fan-out
            # is the context's continuation count — bounded at k >= 3
            # (multi-word contexts); the k = 2 table (the full bigram
            # vocabulary, with its vocab-sized hot-context fan-out)
            # deliberately keeps the separate key-bucketed hit join.
            entry = F.struct(F.col("token"), F.col(f"c{k}"))
            if pr[k] > 1:
                entry = F.when(kept_cond, entry)
            aggs.append(
                F.map_from_entries(F.collect_list(entry)).alias(f"_m{k}")
            )
        ctxs[k] = counts[k].groupBy(*pcols[: k - 1]).agg(*aggs)
    kept: dict[int, DataFrame] = {
        k: (counts[k].filter(F.col(f"c{k}") >= pr[k]) if pr[k] > 1 else counts[k])
        for k in range(2, order + 1)
    }
    cont1 = counts[2].groupBy("token").agg(F.count(F.lit(1)).alias("n1cw"))
    # ONE action for every discount scalar and the bigram type total
    # (r18 — was: one collect per order plus a count, five sequential
    # driver round-trips at order 5; the inputs are all checkpointed
    # type tables, so the union is a cheap scan of each)
    stats = None
    for k in range(2, order + 1):
        s = counts[k].agg(
            F.lit(k).alias("k"),
            F.coalesce(
                F.sum((F.col(f"c{k}") == 1).cast("long")), F.lit(0)
            ).alias("n1"),
            F.coalesce(
                F.sum((F.col(f"c{k}") == 2).cast("long")), F.lit(0)
            ).alias("n2"),
            F.count(F.lit(1)).alias("ntypes"),
        )
        stats = s if stats is None else stats.unionByName(s)
    srows = {int(r["k"]): r for r in stats.collect()}
    dn: dict[int, int] = {
        k: _kn_discount(int(srows[k]["n1"]), int(srows[k]["n2"]))
        for k in range(2, order + 1)
    }
    n1pp = int(srows[2]["ntypes"])
    return {
        "counts": counts,
        "kept": kept,
        "prune": pr,
        "ctxs": ctxs,
        "cont1": cont1,
        "dn": dn,
        "l_n1pp": llog2_py(max(n1pp, 1), frac_bits),
    }


def _score_trans(docs: DataFrame, trans_score: DataFrame, tables: dict,
                 order: int, frac_bits: int, id_col: str) -> DataFrame:
    """Join the scoring transitions against the model tables and
    aggregate to the (doc_id, n_trans, nll_fp, ppl_bits) shape."""
    pcols = [f"p{i}" for i in range(1, order)]
    kept, ctxs = tables["kept"], tables["ctxs"]
    pr = tables.get("prune") or {k: 1 for k in range(2, order + 1)}
    dn, l_n1pp = tables["dn"], tables["l_n1pp"]
    j = trans_score
    for k in range(order, 1, -1):
        ctx_df = ctxs[k]
        if k <= 2:
            ctx_df = F.broadcast(ctx_df)
        if k >= 3:
            # r18: one context-keyed join per order — the kept count
            # comes from the token→count map on the context row
            # (NULL on a pruned/unseen continuation, exactly the old
            # hit-join miss). The k = 2 hit join stays key-bucketed:
            # its map form would put the whole bigram vocabulary on
            # vocab-sized context rows, which must not broadcast or
            # fan out at 100 TB.
            j = j.join(ctx_df, pcols[: k - 1], "left").withColumn(
                f"c{k}", F.element_at(F.col(f"_m{k}"), F.col("token"))
            )
        else:
            j = j.join(kept[k], pcols[: k - 1] + ["token"], "left")
            j = j.join(ctx_df, pcols[: k - 1], "left")
    j = j.join(F.broadcast(tables["cont1"]), ["token"], "left")

    base1 = (
        llog2(F.greatest(F.coalesce(F.col("n1cw"), F.lit(0)), F.lit(1)), frac_bits)
        - F.lit(l_n1pp)
    )

    def hit(k: int):
        return llog2(F.col(f"c{k}") * KN_DDEN - F.lit(dn[k]), frac_bits) - llog2(
            F.col(f"ctx{k}") * KN_DDEN, frac_bits
        )

    def esc_if_seen(k: int):
        if pr[k] > 1:
            num = (F.col(f"ctx{k}") - F.col(f"keptc{k}")) * KN_DDEN + F.col(
                f"kept{k}"
            ) * F.lit(dn[k])
        else:
            num = F.col(f"n1_{k}") * F.lit(dn[k])
        return F.when(
            F.col(f"ctx{k}").isNotNull(),
            llog2(num, frac_bits)
            - llog2(F.col(f"ctx{k}") * KN_DDEN, frac_bits),
        ).otherwise(F.lit(0))

    lp = None
    esc_above = F.lit(0)
    for k in range(order, 1, -1):
        cond = F.col(f"c{k}").isNotNull()
        expr = esc_above + hit(k)
        lp = F.when(cond, expr) if lp is None else lp.when(cond, expr)
        esc_above = esc_above + esc_if_seen(k)
    lp = lp.otherwise(esc_above + base1)

    return _doc_scores(docs, j.select("doc_id", lp.alias("lp")), id_col, frac_bits)


def kn_perplexity(
    docs: DataFrame,
    ref: DataFrame | None = None,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    materialize: bool | None = None,
    prune: dict[int, int] | None = None,
) -> DataFrame:
    """Order-``order`` Kneser-Ney perplexity: train on ``ref``
    (default: self-scored) and score every doc —
    (doc_id, n_trans, nll_fp, ppl_bits), the ngram_lm output shape.
    ``order=5`` is the published CCNet configuration; ``prune``
    ({order: min count to keep}) is KenLM's count-threshold pruning
    with exact escape-mass renormalization (module docstring)."""
    if not 2 <= order <= MAX_ORDER:
        raise ValueError(f"order must be 2..{MAX_ORDER}, got {order}")
    pcols = [f"p{i}" for i in range(1, order)]
    _, _, trans_train, trans_score = _lm_transitions(
        docs, ref, text_col, id_col, min_count, pcols, materialize
    )
    tables = _build_tables(trans_train, order, frac_bits, materialize, prune)
    return _score_trans(docs, trans_score, tables, order, frac_bits, id_col)


def kn_lm_fit(
    ref: DataFrame,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    materialize: bool | None = None,
    prune: dict[int, int] | None = None,
) -> dict:
    """Fit-once form of :func:`kn_perplexity` at any order — the
    deployable CCNet shape at the published depth. Returns a FLAT
    model dict (``impl="kn_generic"``) compatible with
    ngram_lm.lm_save / lm_load / lm_score dispatch, so a
    foreachBatch consumer can persist an order-5 model and score
    every micro-batch against it. With ``prune`` the persisted
    ``cnt{k}`` tables are the THRESHOLD-FILTERED ones — the whole
    point of pruning: the model that ships (and broadcasts) drops
    the singleton mass while the escape weights keep the
    distribution exactly normalized."""
    if not 2 <= order <= MAX_ORDER:
        raise ValueError(f"order must be 2..{MAX_ORDER}, got {order}")
    words = _word_rows(ref, text_col, id_col)
    _, vocab = _vocab_of(words, min_count, materialize)
    pcols = [f"p{i}" for i in range(1, order)]
    tables = _build_tables(
        _trans_of(words, vocab, pcols), order, frac_bits, materialize, prune
    )
    model: dict = {
        "impl": "kn_generic",
        "order": order,
        "smoothing": "kn",
        "frac_bits": frac_bits,
        "l_n1pp": tables["l_n1pp"],
        "vocab": vocab,
        "cont1": tables["cont1"],
    }
    for k in range(2, order + 1):
        model[f"cnt{k}"] = tables["kept"][k]
        model[f"ctx{k}"] = tables["ctxs"][k]
        model[f"dn{k}"] = tables["dn"][k]
        model[f"pr{k}"] = tables["prune"][k]
    return model


def kn_lm_score(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a corpus against a :func:`kn_lm_fit` model — pinned
    EXACTLY equal to the one-shot ref-trained :func:`kn_perplexity`
    by pytest."""
    order = int(model["order"])
    frac_bits = int(model["frac_bits"])
    pcols = [f"p{i}" for i in range(1, order)]
    tables = {
        # cnt{k} is already threshold-filtered by kn_lm_fit; the
        # pr{k} flags only select the escape-numerator form.
        "kept": {k: model[f"cnt{k}"] for k in range(2, order + 1)},
        "prune": {
            k: int(model.get(f"pr{k}", 1)) for k in range(2, order + 1)
        },
        "ctxs": {k: model[f"ctx{k}"] for k in range(2, order + 1)},
        "cont1": model["cont1"],
        "dn": {k: int(model[f"dn{k}"]) for k in range(2, order + 1)},
        "l_n1pp": int(model["l_n1pp"]),
    }
    trans = _trans_of(
        _word_rows(docs, text_col, id_col), model["vocab"], pcols
    )
    return _score_trans(docs, trans, tables, order, frac_bits, id_col)


# ---------------------------------------------------------------- python twin
def kn_perplexity_py(
    texts: dict[int, str],
    order: int = 5,
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    ref_texts: dict[int, str] | None = None,
    prune: dict[int, int] | None = None,
) -> dict[int, tuple[int, int, float | None]]:
    """Independent pure-python twin of :func:`kn_perplexity` — the
    Kneser-Ney reference at every order, self-scored or trained on
    ``ref_texts``."""
    if not 2 <= order <= MAX_ORDER:
        raise ValueError(f"order must be 2..{MAX_ORDER}, got {order}")
    pr = _norm_prune(prune, order)
    toks, ref_toks, _, fold = _twin_vocab(texts, ref_texts, min_count)

    # counts[k]: key = (context tuple p1..p{k-1} nearest-first, token)
    counts: dict[int, dict] = {order: {}}
    for ws in ref_toks.values():
        for key in _hist_py(ws, fold, order):
            counts[order][key] = counts[order].get(key, 0) + 1
    for k in range(order - 1, 1, -1):
        nxt: dict = {}
        for (ctx, t) in counts[k + 1]:
            key = (ctx[: k - 1], t)
            nxt[key] = nxt.get(key, 0) + 1
        counts[k] = nxt
    ctx_tot: dict[int, dict] = {}
    n1_: dict[int, dict] = {}
    kept_n: dict[int, dict] = {}
    kept_c: dict[int, dict] = {}
    for k in range(2, order + 1):
        ct: dict = {}
        n1: dict = {}
        kn: dict = {}
        kc: dict = {}
        for (ctx, _t), c in counts[k].items():
            ct[ctx] = ct.get(ctx, 0) + c
            n1[ctx] = n1.get(ctx, 0) + 1
            if c >= pr[k]:
                kn[ctx] = kn.get(ctx, 0) + 1
                kc[ctx] = kc.get(ctx, 0) + c
        ctx_tot[k], n1_[k] = ct, n1
        kept_n[k], kept_c[k] = kn, kc
    n1cw: dict[str, int] = {}
    for (_ctx, t) in counts[2]:
        n1cw[t] = n1cw.get(t, 0) + 1
    dn = {}
    for k in range(2, order + 1):
        n1 = sum(1 for c in counts[k].values() if c == 1)
        n2 = sum(1 for c in counts[k].values() if c == 2)
        dn[k] = _kn_discount(n1, n2)
    l_n1pp = llog2_py(max(len(counts[2]), 1), frac_bits)

    def lp_fn(hist: tuple[str, ...], t: str) -> int:
        acc = 0
        for k in range(order, 1, -1):
            ctx = hist[: k - 1]
            c = counts[k].get((ctx, t))
            if c is not None and c >= pr[k]:
                return acc + (
                    llog2_py(c * KN_DDEN - dn[k], frac_bits)
                    - llog2_py(ctx_tot[k][ctx] * KN_DDEN, frac_bits)
                )
            if ctx in ctx_tot[k]:
                if pr[k] > 1:
                    esc_num = (
                        ctx_tot[k][ctx] - kept_c[k].get(ctx, 0)
                    ) * KN_DDEN + kept_n[k].get(ctx, 0) * dn[k]
                else:
                    esc_num = n1_[k][ctx] * dn[k]
                acc += llog2_py(esc_num, frac_bits) - llog2_py(
                    ctx_tot[k][ctx] * KN_DDEN, frac_bits
                )
        return acc + llog2_py(max(n1cw.get(t, 0), 1), frac_bits) - l_n1pp

    return _twin_scores(toks, fold, order, lp_fn, frac_bits)


# ---------------------------------------------------------------- SQL replay
def kn_perplexity_sql(
    order: int = 5,
    min_count: int = 2,
    frac_bits: int = FRAC_BITS,
    table: str = "documents",
    ref_filter: str | None = None,
    prune: dict[int, int] | None = None,
) -> str:
    """DuckDB replay of :func:`kn_perplexity` at any order 2..5 —
    generated CTE chain: K-1 lag windows, the K-gram type table, the
    derived continuation/context/discount tables per order, and the
    escape-accumulating CASE. With ``prune`` the hit joins read the
    threshold-filtered kcnt{k} CTEs and the escape numerator is the
    exact kept-mass renormalization (module docstring)."""
    if not 2 <= order <= MAX_ORDER:
        raise ValueError(f"order must be 2..{MAX_ORDER}, got {order}")
    pr = _norm_prune(prune, order)
    pcols = [f"p{i}" for i in range(1, order)]
    parts = [_sql_head(table, min_count, ref_filter, pcols), f""", cnt{order} AS (
    SELECT {', '.join(pcols[:order - 1])}, token, COUNT(*) AS c{order}
    FROM rtrans GROUP BY {', '.join(str(i) for i in range(1, order + 1))}
)"""]
    for k in range(order - 1, 1, -1):
        cols = pcols[: k - 1]
        parts.append(f""", cnt{k} AS (
    SELECT {', '.join(cols)}, token, COUNT(*) AS c{k}
    FROM cnt{k + 1} GROUP BY {', '.join(str(i) for i in range(1, k + 1))}
)""")
    for k in range(2, order + 1):
        cols = pcols[: k - 1]
        kept_cols = ""
        if pr[k] > 1:
            kept_cols = (
                f",\n           COUNT(*) FILTER (WHERE c{k} >= {pr[k]}) AS kept{k},"
                f"\n           CAST(COALESCE(SUM(c{k}) FILTER (WHERE c{k} >= {pr[k]}), 0)"
                f" AS BIGINT) AS keptc{k}"
            )
        parts.append(f""", ctx{k} AS (
    SELECT {', '.join(cols)}, CAST(SUM(c{k}) AS BIGINT) AS ctx{k}, COUNT(*) AS n1_{k}{kept_cols}
    FROM cnt{k} GROUP BY {', '.join(str(i) for i in range(1, k))}
)""")
    for k in range(2, order + 1):
        if pr[k] > 1:
            parts.append(f""", kcnt{k} AS (
    SELECT * FROM cnt{k} WHERE c{k} >= {pr[k]}
)""")
    parts.append(""", cont1 AS (
    SELECT token, COUNT(*) AS n1cw FROM cnt2 GROUP BY 1
)""")
    for k in range(2, order + 1):
        parts.append(f""", disc{k} AS (
    SELECT COUNT(*) FILTER (WHERE c{k} = 1) AS n1,
           COUNT(*) FILTER (WHERE c{k} = 2) AS n2
    FROM cnt{k}
)""")
    dn_fields = ",\n           ".join(
        f"(SELECT {_KN_DNUM_SQL} FROM disc{k}) AS dn{k}"
        for k in range(2, order + 1)
    )
    parts.append(f""", dnum AS (
    SELECT {dn_fields},
           (SELECT GREATEST(COUNT(*), 1) FROM cnt2) AS n1pp
)""")

    # the scoring joins: alias b{k} for counts, x{k} for contexts
    joins = []
    for k in range(order, 1, -1):
        on_b = " AND ".join(
            [f"t.{c} = b{k}.{c}" for c in pcols[: k - 1]] + [f"t.token = b{k}.token"]
        )
        on_x = " AND ".join(f"t.{c} = x{k}.{c}" for c in pcols[: k - 1])
        hit_src = f"kcnt{k}" if pr[k] > 1 else f"cnt{k}"
        joins.append(f"    LEFT JOIN {hit_src} b{k} ON {on_b}")
        joins.append(f"    LEFT JOIN ctx{k} x{k} ON {on_x}")
    joins.append("    LEFT JOIN cont1 u1 ON t.token = u1.token")
    joins.append("    CROSS JOIN dnum d")

    base1 = (
        f"({llog2_sql('GREATEST(COALESCE(u1.n1cw, 0), 1)', frac_bits)}"
        f" - {llog2_sql('d.n1pp', frac_bits)})"
    )

    def hit(k: int) -> str:
        return (
            f"({llog2_sql(f'(b{k}.c{k} * {KN_DDEN} - d.dn{k})', frac_bits)}"
            f" - {llog2_sql(f'(x{k}.ctx{k} * {KN_DDEN})', frac_bits)})"
        )

    def esc_if(k: int) -> str:
        if pr[k] > 1:
            num = (
                f"((x{k}.ctx{k} - x{k}.keptc{k}) * {KN_DDEN}"
                f" + x{k}.kept{k} * d.dn{k})"
            )
        else:
            num = f"(x{k}.n1_{k} * d.dn{k})"
        return (
            f"(CASE WHEN x{k}.ctx{k} IS NOT NULL THEN "
            f"{llog2_sql(num, frac_bits)}"
            f" - {llog2_sql(f'(x{k}.ctx{k} * {KN_DDEN})', frac_bits)}"
            f" ELSE 0 END)"
        )

    branches = []
    esc_above = "0"
    for k in range(order, 1, -1):
        branches.append(
            f"WHEN b{k}.c{k} IS NOT NULL THEN ({esc_above}) + {hit(k)}"
        )
        esc_above = f"{esc_above} + {esc_if(k)}"
    case = (
        "CASE " + "\n                ".join(branches)
        + f"\n                ELSE ({esc_above}) + {base1}\n           END"
    )
    parts.append(f""", scored AS (
    SELECT t.doc_id,
           {case} AS lp
    FROM trans t
{chr(10).join(joins)}
)""")
    return "".join(parts) + _sql_tail(table, frac_bits)
