"""Extended falsification session, round 17 wave 3 — adversarial fuzz
over the wave's new surfaces (no Spark: twin-vs-DuckDB and pure-python
legs). Output is the receipt."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

t0 = time.time()
rng = np.random.default_rng(20260816)
checks = 0

# ---------- 1. pruned generalized KN: twin vs DuckDB over random
# corpora at random orders 2..5, random prune configs (incl. no-op
# thresholds, heavy thresholds that empty whole contexts) and
# ref-split vs self-scored
from gcp_dataengineering_spark.llm_ops import ngram_kn as NK

WORDS = ["the", "cat", "dog", "sat", "ran", "on", "mat", "a", "nice",
         "day", "san", "francisco", "of", "to", "zq1", "vx2", "qp3"]

fails = 0
for trial in range(150):
    n_docs = int(rng.integers(3, 12))
    texts = {}
    for d in range(n_docs):
        n_tok = int(rng.integers(0, 16))
        texts[d] = " ".join(rng.choice(WORDS, size=n_tok))
    if trial % 9 == 0 and texts:
        k = next(iter(texts))
        texts[k] = texts[k].replace(" ", "\xa0", 1) + "\x0bword"
    order = int(rng.integers(2, 6))
    mc = int(rng.integers(1, 3))
    prune = {
        k: int(rng.integers(1, 4))
        for k in range(2, order + 1)
        if rng.random() < 0.7
    }
    split = rng.random() < 0.5
    ref_filter = "doc_id % 2 = 0" if split else None
    ref_texts = {d: t for d, t in texts.items() if d % 2 == 0} if split else None
    if split and not ref_texts:
        continue
    exp = NK.kn_perplexity_py(
        texts, order=order, min_count=mc, ref_texts=ref_texts, prune=prune
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
    )
    sql = NK.kn_perplexity_sql(
        order=order, min_count=mc, ref_filter=ref_filter, prune=prune
    )
    got = {int(r[0]): (int(r[1]), int(r[2]), r[3]) for r in con.sql(sql).fetchall()}
    checks += len(texts)
    if got != exp:
        fails += 1
        print(f"PRUNED-KN MISMATCH trial={trial} order={order} prune={prune}")
        for d in texts:
            if got.get(d) != exp[d]:
                print("  doc", d, repr(texts[d]), "duck", got.get(d), "twin", exp[d])
print(f"[1] pruned-KN twin-vs-duckdb: 150 corpora, {checks} doc checks, {fails} fails")
assert fails == 0

# ---------- 2. mass conservation as a property over random count
# tables (beyond the fixture pytest): for random (counts, prune, D)
# the renormalized escape numerator closes each context exactly
from fractions import Fraction

from gcp_dataengineering_spark.llm_ops.ngram_kn import KN_DDEN, _kn_discount

mc_checks = 0
for trial in range(2000):
    n_types = int(rng.integers(1, 12))
    cs = [int(rng.integers(1, 6)) for _ in range(n_types)]
    p = int(rng.integers(1, 5))
    n1 = sum(1 for c in cs if c == 1)
    n2 = sum(1 for c in cs if c == 2)
    D = _kn_discount(n1, n2)
    tot = sum(cs)
    kept = [c for c in cs if c >= p]
    esc_num = (tot - sum(kept)) * KN_DDEN + len(kept) * D
    assert esc_num >= 1
    assert sum(c * KN_DDEN - D for c in kept) + esc_num == tot * KN_DDEN
    assert (
        sum(Fraction(c * KN_DDEN - D, tot * KN_DDEN) for c in kept)
        + Fraction(esc_num, tot * KN_DDEN)
        == 1
    )
    mc_checks += 3
checks += mc_checks
print(f"[2] escape-mass conservation: 2000 random contexts, {mc_checks} checks, 0 fails")

# ---------- 3. perplexity_buckets: DuckDB replay vs an INDEPENDENT
# brute-force python tercile (sort all docs, walk keys as whole
# groups) over random score tables with ties, nulls, tiny languages
from gcp_dataengineering_spark.llm_ops.ngram_lm import perplexity_buckets_sql


def brute_buckets(rows):
    # rows: (doc_id, lang, ppl) — independent reference: sort within
    # lang, assign whole tied-key groups by where the group begins
    out = {}
    by_lang = {}
    for d, lang, p in rows:
        if p is None:
            out[d] = None
        else:
            by_lang.setdefault(lang, []).append((round(p * 10000), d))
    for lang, items in by_lang.items():
        items.sort()
        tot = len(items)
        i = 0
        while i < len(items):
            j = i
            while j < len(items) and items[j][0] == items[i][0]:
                j += 1
            if i * 3 < tot:
                b = "head"
            elif i * 3 < 2 * tot:
                b = "middle"
            else:
                b = "tail"
            for _k, d in items[i:j]:
                out[d] = b
            i = j
    return out


bk_checks = 0
bk_fails = 0
for trial in range(300):
    n = int(rng.integers(1, 60))
    langs = ["en", "fr", "zh"][: int(rng.integers(1, 4))]
    rows = []
    for d in range(n):
        lang = str(rng.choice(langs))
        if rng.random() < 0.08:
            p = None
        else:
            # coarse grid to force ties
            p = round(float(rng.integers(0, 12)) / 2 + 0.0001 * int(rng.integers(0, 3)), 4)
        rows.append((d, lang, p))
    con = duckdb.connect()
    con.register("sc", pd.DataFrame(rows, columns=["doc_id", "lang", "ppl_bits"]))
    got = {
        int(r[0]): r[3]
        for r in con.sql(perplexity_buckets_sql("SELECT * FROM sc")).fetchall()
    }
    exp = brute_buckets(rows)
    bk_checks += n
    if got != exp:
        bk_fails += 1
        print(f"BUCKETS MISMATCH trial={trial}")
        for d in sorted(exp):
            if got.get(d) != exp[d]:
                print("  doc", d, rows[d], "duck", got.get(d), "brute", exp[d])
checks += bk_checks
print(f"[3] perplexity_buckets duckdb-vs-brute: 300 tables, {bk_checks} doc checks, {bk_fails} fails")
assert bk_fails == 0

print(f"TOTAL: {checks} checks, 0 failures, {time.time() - t0:.0f}s")
