"""Generalized-order Kneser-Ney (llm_ops/ngram_kn.py, r17): the
CCNet-published 5-gram configuration, three-engine-exact (Spark,
pure-Python twin, DuckDB replay) at every order 2..5."""
import duckdb
import pandas as pd
import pytest

from gcp_dataengineering_spark.llm_ops import ngram_kn as NK

TEXTS = {
    1: "the cat sat on the mat",
    2: "the cat sat on the cat and the dog sat too",
    3: "san francisco is in california and san francisco is foggy",
    4: "",
    5: "the the the the the",
    6: "cat",
    7: "a nice day and a nice cat and a nice dog",
    8: "the dog sat on the mat the dog sat on the mat",
    9: "nice francisco nice day the cat sat on the dog",
    10: "zq1 vx2 zq1 vx2 zq1",
    11: "on the mat the cat sat quietly and the dog sat on the mat too",
}


def _rows(df):
    return {
        r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
        for r in df.collect()
    }


def test_kn_generic_cross_validates_and_extends_to_order5(spark):
    """(a) At every order 2..5 — 2 and 3 included, the orders
    ngram_lm's smoothing="kn" front-ends route here with — the Spark
    engine == the pure-Python twin == the DuckDB replay exactly,
    self-scored and ref-split; (b) the order guard rejects 1 and 6."""
    df = spark.createDataFrame(list(TEXTS.items()), "doc_id long, text string")
    ref = df.filter("doc_id <= 8")
    rt = {k: v for k, v in TEXTS.items() if k <= 8}
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(TEXTS), "text": list(TEXTS.values())}),
    )

    for o in (2, 3, 4, 5):
        for ref_, rt_, rf in ((None, None, None), (ref, rt, "doc_id <= 8")):
            exp = NK.kn_perplexity_py(TEXTS, order=o, ref_texts=rt_)
            got = _rows(NK.kn_perplexity(df, ref=ref_, order=o))
            assert got == exp, (o, rf)
            sql = NK.kn_perplexity_sql(order=o, ref_filter=rf)
            duck = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
            assert duck == exp, (o, rf)

    with pytest.raises(ValueError, match="order"):
        NK.kn_perplexity(df, order=1)
    with pytest.raises(ValueError, match="order"):
        NK.kn_perplexity_py(TEXTS, order=6)
    with pytest.raises(ValueError, match="order"):
        NK.kn_perplexity_sql(order=6)


def test_kn_order5_ordering_and_rare_context(spark):
    """The order-5 KN keeps the published behaviors: reference-
    trained ordering (memorized < novel-fluent < gibberish) and the
    continuation-count rare-context separation the bigram fixture
    pins ("nice day" vs "nice francisco")."""
    fluent = "the quick brown fox jumps over the lazy dog"
    ref_rows = [(1000 + i, fluent) for i in range(12)] + [
        (2000, "san francisco"), (2001, "san francisco"),
        (2002, "san francisco"), (2003, "one day"),
        (2004, "another day"), (2005, "every day"),
        (2006, "nice weather nice weather"),
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    probes = {
        1: fluent,                                   # memorized
        2: "the quick brown dog jumps over the lazy fox",  # novel-fluent
        3: "zq1 vx9 qq3 zz7 pp2 xx4",                # gibberish
        101: "nice day",
        102: "nice francisco",
    }
    docs = spark.createDataFrame(list(probes.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r["ppl_bits"]
        for r in NK.kn_perplexity(docs, ref=ref, order=5, min_count=1).collect()
    }
    assert got[1] < got[2] < got[3]
    assert got[101] < got[102]
    # twin agrees on every probe
    rt = {k: v for k, v in dict(ref_rows).items()}
    exp = NK.kn_perplexity_py(probes, order=5, min_count=1, ref_texts=rt)
    assert {k: v[2] for k, v in exp.items()} == got


def test_kn_generic_fit_score_and_persistence(spark, tmp_path):
    """r17 wave 2: the generalized-order fit/score split — an
    order-5 (and order-4) kn_lm_fit model scores EXACTLY like the
    one-shot ref-trained kn_perplexity; the flat model survives an
    lm_save/lm_load parquet round trip; and ngram_lm.lm_score
    dispatches kn_generic models (the streaming gate's load path)."""
    from gcp_dataengineering_spark.llm_ops.ngram_kn import (
        kn_lm_fit,
        kn_lm_score,
        kn_perplexity,
    )
    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        lm_load,
        lm_save,
        lm_score,
    )

    df = spark.createDataFrame(list(TEXTS.items()), "doc_id long, text string")
    ref = df.filter("doc_id <= 8")

    for o in (4, 5):
        m = kn_lm_fit(ref, order=o)
        assert _rows(kn_lm_score(df, m)) == _rows(
            kn_perplexity(df, ref=ref, order=o)
        ), o

    m5 = kn_lm_fit(ref, order=5)
    path = str(tmp_path / "kn5")
    lm_save(m5, path)
    reloaded = lm_load(spark, path)
    assert reloaded["impl"] == "kn_generic" and reloaded["order"] == 5
    exp = _rows(kn_perplexity(df, ref=ref, order=5))
    assert _rows(kn_lm_score(df, reloaded)) == exp
    # the dispatching entry point the streaming gate uses
    assert _rows(lm_score(df, reloaded)) == exp

def test_kn_prune_three_engine_parity_and_guards(spark):
    """r17 wave 3 — KenLM-style count-threshold pruning: at order 4
    with prune {3: 2, 4: 2} (ref-split so unseen branches score real
    rows) Spark == twin == DuckDB exactly; prune={} is a no-op; the
    guards reject out-of-range orders and thresholds < 1."""
    df = spark.createDataFrame(list(TEXTS.items()), "doc_id long, text string")
    ref = df.filter("doc_id <= 8")
    rt = {k: v for k, v in TEXTS.items() if k <= 8}
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(TEXTS), "text": list(TEXTS.values())}),
    )
    prune = {3: 2, 4: 2}
    exp = NK.kn_perplexity_py(TEXTS, order=4, ref_texts=rt, prune=prune)
    got = _rows(NK.kn_perplexity(df, ref=ref, order=4, prune=prune))
    assert got == exp
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            NK.kn_perplexity_sql(order=4, ref_filter="doc_id <= 8", prune=prune)
        ).fetchall()
    }
    assert duck == exp
    # pruning actually changed something (the thresholds bite)
    assert exp != NK.kn_perplexity_py(TEXTS, order=4, ref_texts=rt)
    # and a no-op prune is bit-identical to the default
    assert NK.kn_perplexity_py(TEXTS, order=4, ref_texts=rt, prune={}) == \
        NK.kn_perplexity_py(TEXTS, order=4, ref_texts=rt)

    # order-2 pruning drives the all-continuations-pruned branch
    # (escape weight 1, log 0): singleton-only contexts exist in the
    # ref split, so some context keeps NOTHING at prune {2: 2}
    p2 = {2: 2}
    exp2 = NK.kn_perplexity_py(TEXTS, order=2, ref_texts=rt, prune=p2)
    assert _rows(NK.kn_perplexity(df, ref=ref, order=2, prune=p2)) == exp2
    duck2 = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            NK.kn_perplexity_sql(order=2, ref_filter="doc_id <= 8", prune=p2)
        ).fetchall()
    }
    assert duck2 == exp2

    with pytest.raises(ValueError, match="prune order"):
        NK.kn_perplexity_py(TEXTS, order=3, prune={4: 2})
    with pytest.raises(ValueError, match="prune\\[3\\]"):
        NK.kn_perplexity_py(TEXTS, order=3, prune={3: 0})
    with pytest.raises(ValueError, match="prune order"):
        NK.kn_perplexity_sql(order=2, prune={1: 2})


def test_kn_prune_mass_conservation_exact():
    """The pruned escape numerator is an EXACT renormalization: for
    every seen context at every order, Sum_kept(c*256 - D) + esc_num
    == ctx_total*256 as an integer identity (Fraction arithmetic —
    the per-context distribution still sums to 1), and it degenerates
    to n1*D when nothing is pruned. Also proves the planted fixture
    drives both special branches (a context with everything kept and
    a context with nothing kept)."""
    from fractions import Fraction

    from gcp_dataengineering_spark.llm_ops.ngram_kn import KN_DDEN, _kn_discount
    from gcp_dataengineering_spark.llm_ops.ngram_lm import BOS, UNK, _tokens_py

    rt = {k: v for k, v in TEXTS.items() if k <= 8}
    order, prune = 3, {2: 2, 3: 2}
    # independent re-derivation of the count tables
    wc = {}
    toks = {d: _tokens_py(t) for d, t in rt.items()}
    for ws in toks.values():
        for w in ws:
            wc[w] = wc.get(w, 0) + 1
    vocab = {w for w, c in wc.items() if c >= 2}
    counts = {order: {}}
    for ws in toks.values():
        hist = [BOS] * (order - 1)
        for w in ws:
            t = w if w in vocab else UNK
            key = (tuple(hist), t)
            counts[order][key] = counts[order].get(key, 0) + 1
            hist = [t] + hist[: order - 2]
    for k in range(order - 1, 1, -1):
        nxt = {}
        for (ctx, t) in counts[k + 1]:
            nxt[(ctx[: k - 1], t)] = nxt.get((ctx[: k - 1], t), 0) + 1
        counts[k] = nxt

    saw_all_kept = saw_none_kept = False
    for k in (2, 3):
        n1 = sum(1 for c in counts[k].values() if c == 1)
        n2 = sum(1 for c in counts[k].values() if c == 2)
        D = _kn_discount(n1, n2)
        by_ctx = {}
        for (ctx, _t), c in counts[k].items():
            by_ctx.setdefault(ctx, []).append(c)
        for ctx, cs in by_ctx.items():
            tot = sum(cs)
            kept = [c for c in cs if c >= prune[k]]
            esc_num = (tot - sum(kept)) * KN_DDEN + len(kept) * D
            hit_mass = sum(c * KN_DDEN - D for c in kept)
            assert hit_mass + esc_num == tot * KN_DDEN, (k, ctx)
            # the probability mass literally sums to 1
            assert (
                sum(Fraction(c * KN_DDEN - D, tot * KN_DDEN) for c in kept)
                + Fraction(esc_num, tot * KN_DDEN)
                == 1
            )
            if len(kept) == len(cs):
                saw_all_kept = True
                assert esc_num == len(cs) * D  # degenerates to n1*D
            if not kept:
                saw_none_kept = True
                assert esc_num == tot * KN_DDEN  # escape weight 1
    assert saw_all_kept and saw_none_kept


def test_kn_prune_fit_model_smaller_and_exact(spark, tmp_path):
    """The deployable win: kn_lm_fit(prune=...) persists THRESHOLD-
    FILTERED count tables (strictly fewer rows at every pruned
    order), scores EXACTLY like the one-shot pruned kn_perplexity,
    and the pr{k} flags survive the lm_save/lm_load parquet round
    trip (ngram_lm.lm_score dispatch included)."""
    from gcp_dataengineering_spark.llm_ops.ngram_kn import (
        kn_lm_fit,
        kn_lm_score,
        kn_perplexity,
    )
    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        lm_load,
        lm_save,
        lm_score,
    )

    df = spark.createDataFrame(list(TEXTS.items()), "doc_id long, text string")
    ref = df.filter("doc_id <= 8")
    prune = {3: 2, 4: 2}
    m_full = kn_lm_fit(ref, order=4)
    m_pr = kn_lm_fit(ref, order=4, prune=prune)
    for k in (3, 4):
        assert m_pr[f"cnt{k}"].count() < m_full[f"cnt{k}"].count(), k
        assert m_pr[f"pr{k}"] == 2
    assert m_pr["pr2"] == 1

    exp = _rows(kn_perplexity(df, ref=ref, order=4, prune=prune))
    assert _rows(kn_lm_score(df, m_pr)) == exp

    path = str(tmp_path / "kn4p")
    lm_save(m_pr, path)
    reloaded = lm_load(spark, path)
    assert reloaded["pr4"] == 2 and reloaded["pr2"] == 1
    assert _rows(kn_lm_score(df, reloaded)) == exp
    assert _rows(lm_score(df, reloaded)) == exp
