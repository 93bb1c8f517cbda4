"""Behavioral tests for llm_ops beyond the oracle checks: planted
near-duplicates must actually be FOUND (the oracles prove engine
parity; these prove the operators do their job)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gcp_dataengineering_spark.llm_ops.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash16,
)
from gcp_dataengineering_spark.llm_ops.multimodal import (
    attach_binary_payload,
    decode_media_meta,
    frame_sample_plan,
)
from gcp_dataengineering_spark.llm_ops.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from gcp_dataengineering_spark.llm_ops.text import lang_id, quality_features


BASE = "the quick brown fox jumps over the lazy dog again and again " * 5


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different words about spark query engines and shuffles " * 5),
        (4, "the quick brown fox jumps over the lazy dog AGAIN " + BASE),  # near dup
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_finds_planted_dup(docs):
    out = {r["keep_id"]: r["n_dups"] for r in dedup_exact(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert sum(out.values()) == 6


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert (0, 4) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(docs):
    # 8 bands of 1 row: candidate on ANY matching minhash component —
    # the right banding for high-recall near-dup at j >= ~0.5
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_dedup_pairs(docs, num_hashes=8, bands=8).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs share all bands
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.25  # near dup found
    # (true j = 0.6; the 8-component estimate is coarse by design)
    assert not any(3 in p and 5 in p for p in pairs)


def test_resolve_dup_groups(spark):
    from gcp_dataengineering_spark.llm_ops.dedup import resolve_dup_groups

    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 0-1-2, pair 4-5, isolates 3 and 6
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["group_id"] for r in resolve_dup_groups(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}


def test_resolve_dup_groups_long_chain_twohop_vs_propagate(spark):
    """100 TB insurance: a pathological chain component (diameter 120,
    far beyond max_iter=25) converges under pointer doubling in
    O(log d) rounds — one-hop propagation would need 120."""
    from gcp_dataengineering_spark.llm_ops.dedup import resolve_dup_groups

    n = 121  # path 0-1-2-...-120: diameter 120 >> 25
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["group_id"]
        for r in resolve_dup_groups(ids, pairs, max_iter=25).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_resolve_dup_groups_algorithms_agree(spark):
    """Min-id labels on a mixed graph: a 4-chain, a 3-chain with a
    gap in its ids, a pair, and untouched isolates."""
    from gcp_dataengineering_spark.llm_ops.dedup import resolve_dup_groups

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 7), (7, 9), (10, 11)],
        "id_a long, id_b long",
    )
    got = {r["doc_id"]: r["group_id"]
           for r in resolve_dup_groups(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 6, 7: 5,
                   8: 8, 9: 5, 10: 10, 11: 10}


def test_resolve_dup_groups_untouched_and_stray_endpoints(spark):
    """r18 edge-restricted iteration: ids with no incident edge rejoin
    as (id, id) after the loop, pair endpoints absent from `ids` are
    neither emitted nor allowed to bridge components (the historical
    contract), and an empty pair set is the identity labeling."""
    from gcp_dataengineering_spark.llm_ops.dedup import resolve_dup_groups

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    # 99 is a stray endpoint: (1, 99) and (99, 4) must NOT merge 1 and 4
    pairs = spark.createDataFrame(
        [(1, 99), (99, 4), (2, 3)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["group_id"] for r in resolve_dup_groups(ids, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 4, 5: 5}

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    got2 = {
        r["doc_id"]: r["group_id"]
        for r in resolve_dup_groups(ids, empty_pairs).collect()
    }
    assert got2 == {i: i for i in range(6)}


def test_simhash_near_dups_close_in_hamming(docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash16(docs).collect()}
    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")
    assert ham(h[0], h[1]) == 0
    assert ham(h[0], h[2]) <= 4
    assert ham(h[0], h[3]) >= 5


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk_bruteforce(df, df.filter(F.col("vec_id") < 3), k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos"]))
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(3):
        order = [i for i in np.argsort(-sims[q]) if i != q][:4]
        got_ids = [nid for _, nid, _ in sorted(got[q])]
        assert got_ids == [int(i) for i in order]
        for (rank, nid, cos) in sorted(got[q]):
            assert math.isclose(cos, float(sims[q, nid]), abs_tol=2e-4)


def test_lsh_topk_subset_of_bucket(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(200, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    # 4-bit buckets (16 buckets / 200 vecs → ~12 per bucket); the
    # 8-bit default is sized for larger corpora
    dims = [0, 8, 16, 24]
    out = cosine_topk_lsh(df, df.filter(F.col("vec_id") < 5), k=3, bucket_dims=dims)
    rows = out.collect()
    assert len(rows) > 0
    # neighbors must share the sign pattern on the bucket dims
    for r in rows:
        q, n = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        assert all((q[d] >= 0) == (n[d] >= 0) for d in dims)


def test_pandas_topk_equals_expression_topk(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    from gcp_dataengineering_spark.llm_ops.similarity import cosine_topk_pandas

    a = sorted(map(tuple, cosine_topk_bruteforce(emb, q, k=4).collect()))
    b = sorted(map(tuple, cosine_topk_pandas(emb, q, k=4).collect()))
    assert a == b


def test_ivf_recall_vs_bruteforce(spark):
    from gcp_dataengineering_spark.llm_ops.similarity import cosine_topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {}
    for r in cosine_topk_bruteforce(emb, q, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in cosine_topk_ivf(emb, q, k=5, n_clusters=8, nprobe=3).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact[qid] & approx.get(qid, set())) / len(exact[qid]) for qid in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a to house"),
            (2, "el perro de la casa que y gato"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", lang_id("text").alias("p")).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[3]["stopword_ratio"] == 0.0
    assert 0 <= q[1]["punct_ratio"] < 0.05


def test_multimodal_stub_and_fake(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "defg")], "doc_id long, text string")
    media = attach_binary_payload(df, "text", "doc_id")
    assert dict(media.dtypes)["payload"] == "binary"
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_media_meta(media, fake=False).collect()
    meta = {r["media_id"]: r for r in decode_media_meta(media, fake=True).collect()}
    assert meta[1]["n_bytes"] == 3 and meta[2]["n_bytes"] == 4
    assert meta[1]["header_byte"] == ord("a")
    frames = frame_sample_plan(media, every_n=2).collect()
    assert {(r["media_id"], r["frame_idx"]) for r in frames} >= {(1, 0), (2, 0), (2, 1)}


def test_hash_split_stable_and_exhaustive(spark):
    """hash_split is deterministic, content-stable (a doc's split is
    unchanged when the corpus grows), and covers every row."""
    from gcp_dataengineering_spark.llm_ops.corpus import hash_split

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert set(s1.values()) == {"train", "val", "test"}
    # roughly 80/10/10
    n = len(s1)
    train = sum(1 for v in s1.values() if v == "train")
    assert 0.7 * n < train < 0.9 * n
    # growing the corpus never moves an old document
    bigger = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s2 = {r["doc_id"]: r["split"] for r in hash_split(bigger).collect()}
    assert all(s2[k] == v for k, v in s1.items())


def test_shard_by_token_budget_fills_sequentially(spark):
    """Shards are contiguous in order_col and no shard except the
    last (per partition value) is under-filled by more than one doc's
    tokens."""
    import pyspark.sql.functions as F

    from gcp_dataengineering_spark.llm_ops.corpus import shard_by_token_budget

    rows = [(i, "en", "tok " * 50) for i in range(40)]  # 50 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sh = shard_by_token_budget(docs, budget_tokens=200)
    got = sh.select("doc_id", "shard_id").collect()
    # 50 tokens/doc, 200/shard -> 4 docs per shard, in doc_id order
    assert all(r["shard_id"] == r["doc_id"] // 4 for r in got)
    totals = sh.groupBy("shard_id").agg(F.sum("n_tokens").alias("t")).collect()
    assert all(r["t"] == 200 for r in totals)


def test_shard_straggler_guard_bounds_partitions(spark):
    """max_partition_rows fans a single-language corpus out into
    bounded window partitions: every (lang, _shard_bucket) group stays
    ~<= the bound (hash buckets wobble, so allow 2x), tokens are
    conserved, and shard ids are the greedy fill within each bucket."""
    import pyspark.sql.functions as F

    from gcp_dataengineering_spark.llm_ops.corpus import shard_by_token_budget

    rows = [(i, "en", "tok " * 10) for i in range(400)]  # one language only
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sh = shard_by_token_budget(docs, budget_tokens=50, max_partition_rows=50)
    per_bucket = sh.groupBy("lang", "_shard_bucket").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    assert len(per_bucket) >= 4  # 400/50 = 8 buckets planned; hash spread
    assert all(r["n"] <= 2 * 50 for r in per_bucket)
    assert sh.count() == 400  # no row lost or duplicated by the sizing join
    # greedy fill holds within each bucket: 10 tokens/doc, 50/shard ->
    # every non-final shard in a bucket has exactly 5 docs
    fills = sh.groupBy("lang", "_shard_bucket", "shard_id").agg(
        F.count(F.lit(1)).alias("docs"),
        F.max("shard_id").alias("sid"),
    ).collect()
    max_sid = {}
    for r in fills:
        key = (r["lang"], r["_shard_bucket"])
        max_sid[key] = max(max_sid.get(key, -1), r["shard_id"])
    for r in fills:
        if r["shard_id"] < max_sid[(r["lang"], r["_shard_bucket"])]:
            assert r["docs"] == 5
    with pytest.raises(ValueError, match="max_partition_rows"):
        shard_by_token_budget(docs, budget_tokens=50, max_partition_rows=0)
    # default path unchanged: no _shard_bucket column
    assert "_shard_bucket" not in shard_by_token_budget(docs, budget_tokens=50).columns
    # NULL partition values survive the sizing join (eqNullSafe): a
    # lang-less doc must not be silently dropped from the shard plan
    with_null = spark.createDataFrame(
        [(i, None if i < 10 else "en", "tok " * 10) for i in range(100)],
        "doc_id long, lang string, text string",
    )
    guarded = shard_by_token_budget(with_null, budget_tokens=50, max_partition_rows=20)
    assert guarded.count() == 100
    assert guarded.filter(F.col("lang").isNull()).count() == 10


def test_apply_dedup_keepers_one_per_group(spark):
    from gcp_dataengineering_spark.llm_ops.corpus import apply_dedup_keepers

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    groups = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)], "doc_id long, group_id long"
    )
    kept = sorted(r["doc_id"] for r in apply_dedup_keepers(docs, groups).collect())
    assert kept == [0, 3, 5]


def test_apply_dedup_keepers_partial_labels_keep_unlabeled(spark):
    """A document absent from the labels table (pairs-derived labels,
    not seeded with all ids) is its own keeper — it must NOT be
    silently dropped."""
    from gcp_dataengineering_spark.llm_ops.corpus import apply_dedup_keepers

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    # only docs 0-2 appear in any near-dup pair; 3-5 are unlabeled uniques
    groups = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "doc_id long, group_id long"
    )
    kept = apply_dedup_keepers(docs, groups)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 4, 5]
    # schema is unchanged (no group_id leaking into the corpus)
    assert kept.columns == docs.columns


def test_hash_split_validates_percents(spark):
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.corpus import hash_split

    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        hash_split(docs, train_pct=95, val_pct=10)
    with _pytest.raises(ValueError):
        hash_split(docs, train_pct=-1, val_pct=5)
    # == 100 is the documented deliberately-empty-test case
    splits = {r["split"] for r in hash_split(docs, train_pct=90, val_pct=10).collect()}
    assert "test" not in splits


def test_shingle_rows_matches_python_reference(spark):
    """Property check of the O(L) shingle rewrite against a pure
    Python reference: distinct word 3-grams per document, across
    generated word-list shapes (empty, short, repeated words)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gcp_dataengineering_spark.llm_ops.dedup import shingle_rows

    word = st.text(alphabet="abcd", min_size=1, max_size=3)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.lists(word, min_size=0, max_size=12), min_size=1, max_size=6))
    def check(docs_words):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["shingle"])
            for r in shingle_rows(df, spread=False).collect()
        }
        expect = set()
        for i, ws in enumerate(docs_words):
            toks = [w.lower() for w in ws if w]
            for j in range(len(toks) - 2):
                expect.add((i, " ".join(toks[j : j + 3])))
        assert got == expect

    check()


def test_lsh_candidate_pairs_agrees_with_minhash_pairs(docs):
    """The standalone banding operator must produce the same
    candidate set (and shared-band counts) as the fused
    minhash_dedup_pairs path over the same signatures."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, num_hashes=8)
    stand = {
        (r["id_a"], r["id_b"]): r["shared_bands"]
        for r in lsh_candidate_pairs(sigs, num_hashes=8, bands=4).collect()
    }
    fused = {
        (r["id_a"], r["id_b"]): r["shared_bands"]
        for r in minhash_dedup_pairs(docs, num_hashes=8, bands=4).collect()
    }
    assert stand == fused and len(stand) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(sigs, num_hashes=8, bands=3)


def test_containment_catches_subset_duplication(spark):
    """A short doc fully embedded in a long doc: Jaccard is tiny but
    containment is 1.0 — only the containment measure flags it."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(0, short), (1, filler + " " + short + " " + filler)],
        "doc_id long, text string",
    )
    cont = {(r["id_a"], r["id_b"]): r for r in ngram_containment_pairs(docs).collect()}
    assert (0, 1) in cont
    assert cont[(0, 1)]["containment"] == 1.0
    assert cont[(0, 1)]["jaccard"] < 0.05
    jac = ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the subset dup


# ---------------------------------------------------------------- materialization
@pytest.mark.parametrize("strategy", ["localCheckpoint", "checkpoint", "parquet", "none"])
def test_materialize_strategies_equivalent(spark, docs, tmp_path, strategy):
    """Every materialization strategy (single-JVM localCheckpoint,
    reliable checkpoint, parquet spill, none) yields identical
    near-dup pairs, LSH candidates, and CC groups — the strategy is a
    durability/deployment knob, never a semantics knob."""
    from gcp_dataengineering_spark.llm_ops.dedup import resolve_dup_groups

    if strategy == "checkpoint":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        strat = "checkpoint"
    elif strategy == "parquet":
        strat = f"parquet:{tmp_path}/spill"
    elif strategy == "none":
        strat = False
    else:
        strat = "localCheckpoint"

    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.1, materialize=strat)
    got_pairs = {(r["id_a"], r["id_b"]): round(r["jaccard"], 4) for r in pairs.collect()}
    got_mh = {
        (r["id_a"], r["id_b"]): r["shared_bands"]
        for r in minhash_dedup_pairs(docs, materialize=strat).collect()
    }
    got_groups = {
        r["doc_id"]: r["group_id"]
        for r in resolve_dup_groups(docs, pairs, materialize=strat).collect()
    }

    exp_pairs = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 4)
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.1).collect()
    }
    exp_mh = {
        (r["id_a"], r["id_b"]): r["shared_bands"]
        for r in minhash_dedup_pairs(docs).collect()
    }
    exp_groups = {
        r["doc_id"]: r["group_id"]
        for r in resolve_dup_groups(
            docs, ngram_jaccard_pairs(docs, min_jaccard=0.1)
        ).collect()
    }
    assert got_pairs == exp_pairs and len(got_pairs) > 0
    assert got_mh == exp_mh and len(got_mh) > 0
    assert got_groups == exp_groups


def test_materializer_module_default_scoped(spark, docs, tmp_path):
    """set_materializer / the materializer context manager swap the
    module-wide default; operators with no explicit materialize=
    follow it."""
    from gcp_dataengineering_spark.llm_ops import materialize as M

    with M.materializer(f"parquet:{tmp_path}/modspill"):
        assert M.get_materializer()(docs).count() == docs.count()
        out = {r["keep_id"] for r in dedup_exact(docs).collect()}
    assert M.get_materializer() is M.local_checkpoint
    assert len(out) == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown materialize strategy"):
        M.set_materializer("bogus")
    assert M.get_materializer() is M.local_checkpoint


def test_reliable_checkpoint_guard_without_dir():
    """reliable_checkpoint's missing-checkpoint-dir guard, exercised
    via a unit-level stub so it holds regardless of whether an earlier
    test set a checkpoint dir on the shared session (the round-3
    version raised its own fallback RuntimeError whose message ALSO
    matched the pattern — vacuous either way)."""
    from gcp_dataengineering_spark.llm_ops import materialize as M

    class _FakeSC:
        def __init__(self, ckpt_dir):
            self._d = ckpt_dir

        def getCheckpointDir(self):
            return self._d

    class _FakeDF:
        def __init__(self, ckpt_dir):
            self.sparkSession = type(
                "S", (), {"sparkContext": _FakeSC(ckpt_dir)}
            )()
            self.checkpointed = False

        def checkpoint(self, eager=True):
            self.checkpointed = True
            return self

    with pytest.raises(RuntimeError, match="requires a checkpoint dir"):
        M.reliable_checkpoint(_FakeDF(None))

    ok = _FakeDF("/durable/ckpt")
    assert M.reliable_checkpoint(ok) is ok and ok.checkpointed


def test_parquet_spill_cleanup_and_context_manager(spark, docs, tmp_path):
    """ParquetSpill registers every spill table and cleanup() (or the
    parquet_spill_dir context exit) removes them — the round-3
    strategy leaked one mat-*.parquet dir per materialize call."""
    import os

    from gcp_dataengineering_spark.llm_ops import materialize as M

    d = str(tmp_path / "spill_explicit")
    spill = M.parquet_spill(d)
    out1 = spill(docs.limit(3))
    out2 = spill(docs.limit(2))
    assert out1.count() == 3 and out2.count() == 2
    assert len(spill.paths) == 2
    assert sorted(os.listdir(d)) == sorted(os.path.basename(p) for p in spill.paths)
    assert spill.cleanup() == 2
    assert os.listdir(d) == [] and spill.paths == []
    assert spill.cleanup() == 0  # idempotent

    d2 = str(tmp_path / "spill_scoped")
    with M.parquet_spill_dir(d2) as scoped:
        assert M.get_materializer() is scoped
        # ngram_jaccard_pairs materializes its shingle table through
        # the module default -> at least one spill table appears
        pairs = {
            (r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()
        }
        assert (0, 1) in pairs
        assert len(scoped.paths) >= 1
        assert sorted(os.listdir(d2)) == sorted(os.path.basename(p) for p in scoped.paths)
    assert M.get_materializer() is M.local_checkpoint
    assert os.listdir(d2) == []


def test_durable_strategies_full_dedup_pipeline(spark, tmp_path):
    """The COMPOSED dedup pipeline (jaccard pairs → CC groups →
    keepers → per-lang rollup) — what a cluster user actually runs —
    under each durable materialization strategy, end-to-end at
    sf0.01, must equal the localCheckpoint result exactly. The
    per-operator equivalence test covers operators in isolation; this
    covers the composition, where a strategy bug would compound
    across the chain."""
    from gcp_dataengineering_spark.llm_ops import materialize as M
    from gcp_dataengineering_spark.suite.llm import q_dedup_pipeline

    sf_dir = "/root/testdata/sf0.01"

    def run():
        return {
            r["lang"]: (r["n_kept"], r["kept_tokens"])
            for r in q_dedup_pipeline(spark, sf_dir).collect()
        }

    baseline = run()
    assert baseline and sum(v[0] for v in baseline.values()) > 0

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    with M.materializer("checkpoint"):
        assert run() == baseline

    with M.parquet_spill_dir(str(tmp_path / "spill")) as spill:
        assert run() == baseline
        assert len(spill.paths) >= 3  # shingles + edges + >=1 CC round
    import os

    assert os.listdir(str(tmp_path / "spill")) == []


def test_spread_guard_skips_well_partitioned_input(spark, tmp_path):
    """shingle_rows(spread=True) must NOT round-robin an input that
    already has >= defaultParallelism partitions (a 100 TB table read
    as thousands of splits would otherwise pay a full-text shuffle);
    it MUST spread a single-partition input."""
    from gcp_dataengineering_spark.llm_ops.dedup import shingle_rows

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "many.parquet")
    spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i}") for i in range(4 * par)],
        "doc_id long, text string",
    ).repartition(2 * par).write.parquet(path)
    wide = spark.read.parquet(path)
    assert wide.rdd.getNumPartitions() >= par
    plan = shingle_rows(wide)._jdf.queryExecution().optimizedPlan().toString()
    assert "RoundRobinPartitioning" not in plan and "Repartition" not in plan

    narrow = spark.read.parquet(path).coalesce(1)
    plan2 = shingle_rows(narrow)._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan2 or "RoundRobinPartitioning" in plan2


def test_image_header_parser_real_formats(spark):
    """parse_image_header reads true dimensions out of spec-valid
    PNG/JPEG/GIF bytes and degrades safely on garbage/truncation;
    decode_image_headers runs it over Arrow batches end-to-end."""
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        decode_image_headers,
        parse_image_header,
        synth_image_payload,
        synth_image_corpus,
    )

    for i in [0, 1, 2, 16, 299, 300, 12345]:
        mt, payload = synth_image_payload(i)
        fmt, w, h = parse_image_header(payload)
        assert (w, h) == (i % 300 + 16, (i * 7) % 200 + 16)
        assert {"image/png": "png", "image/jpeg": "jpeg", "image/gif": "gif"}[mt] == fmt

    assert parse_image_header(None) == (None, None, None)
    assert parse_image_header(b"") == (None, None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\x08nope") == (None, None, None)
    assert parse_image_header(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)  # no SOF
    assert parse_image_header(b"GIF89a\x05") == (None, None, None)  # truncated
    assert parse_image_header(b"random garbage") == (None, None, None)

    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    out = {r["media_id"]: r for r in decode_image_headers(synth_image_corpus(ids)).collect()}
    assert len(out) == 30
    for i, r in out.items():
        assert r["width"] == i % 300 + 16 and r["height"] == (i * 7) % 200 + 16
        # r17 animation visibility: closed-form frame count for gifs,
        # NULL frames/loop for every other format
        if i % 3 == 2:
            nf = (i // 3) % 3 + 1
            assert r["n_frames"] == nf
            assert r["loop_count"] == (i % 5 if nf > 1 else None)
        else:
            assert r["n_frames"] is None and r["loop_count"] is None


def test_gif_animation_info_walk_and_quarantine():
    """r17 (verdict item 7): gif_animation_info counts frames through
    real encoder output and hand-built animations, reads the NETSCAPE
    loop extension (0 = forever kept as 0), skips local color tables
    and frame data correctly, and quarantines truncation/garbage —
    the first-frame pixel-decode contract untouched."""
    import struct as _struct

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import (
        gif_animation_info,
        gif_decode,
        gif_encode,
    )

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    idx = np.tile(np.arange(6, dtype=np.uint8), (4, 1))
    still = gif_encode(idx, pal)
    assert gif_animation_info(still) == (1, None)

    # hand-built 3-frame animation with a NETSCAPE loop of 2 and a
    # per-frame LOCAL color table + graphics-control extensions
    screen = _struct.pack("<HH", 6, 4) + b"\x00\x00\x00"
    netscape = b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + _struct.pack("<H", 2) + b"\x00"
    gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # graphics control per frame
    lct = bytes(range(6)) * 1  # 2-entry local table (3 bytes * 2)
    frame_local = (b"\x2c" + _struct.pack("<HHHH", 0, 0, 6, 4) + b"\x80"
                   + lct + b"\x02" + b"\x01\x00" + b"\x00")
    frame_plain = (b"\x2c" + _struct.pack("<HHHH", 0, 0, 6, 4) + b"\x00"
                   + b"\x02" + b"\x01\x00" + b"\x00")
    anim = (b"GIF89a" + screen + netscape
            + gce + frame_plain + gce + frame_local + gce + frame_plain + b"\x3b")
    assert gif_animation_info(anim) == (3, 2)
    # loop 0 = forever is reported as 0, not None
    anim0 = anim.replace(_struct.pack("<H", 2), _struct.pack("<H", 0), 1)
    assert gif_animation_info(anim0) == (3, 0)

    # quarantine: garbage, truncations anywhere, empty
    assert gif_animation_info(b"not a gif") == (None, None)
    assert gif_animation_info(None) == (None, None)
    for cut in range(0, len(anim)):
        nf, loop = gif_animation_info(anim[:cut])  # never raises
        assert nf is None or nf <= 3
    # pixel-decode contract unchanged: the real still decodes
    dec = gif_decode(still)
    assert dec is not None and (dec[0], dec[1]) == (6, 4)


def test_repetition_features_flags_looping_text(spark):
    """A keyword-stuffed doc scores high on every repetition signal;
    diverse text scores low; degenerate docs (empty / 1-2 words) get
    0.0 fractions instead of nulls or crashes."""
    from gcp_dataengineering_spark.llm_ops.text import repetition_features

    looped = "buy cheap pills " * 40
    diverse = " ".join(f"w{i}" for i in range(120))
    rows = [(0, looped), (1, diverse), (2, ""), (3, "one"), (4, "one two"), (5, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[5]["n_words"] == 0 and got[5]["dup_word_frac"] == 0.0  # NULL text, not -1

    assert got[0]["n_words"] == 120
    assert got[0]["dup_word_frac"] == round(1 - 3 / 120, 4)
    # 'cheap pills'/'pills buy'/'buy cheap' each ~40/119 of bigrams
    assert got[0]["top_bigram_frac"] > 0.3
    assert got[0]["top_trigram_frac"] > 0.3

    assert got[1]["dup_word_frac"] == 0.0
    assert got[1]["top_bigram_frac"] == round(1 / 119, 4)

    assert got[2]["n_words"] == 0 and got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.0 and got[2]["top_trigram_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 0.0  # 1 word: no bigrams
    assert got[4]["top_bigram_frac"] == 1.0 and got[4]["top_trigram_frac"] == 0.0


def test_decontamination_flags_and_removes_leaked_docs(spark):
    """A train doc embedding an eval doc's exact phrasing is flagged
    (with correct gram/eval-doc counts) and removed by decontaminate;
    clean train docs survive; the stop-gram cap drops boilerplate-only
    hits."""
    from gcp_dataengineering_spark.llm_ops.decontam import (
        contamination_hits,
        decontaminate,
    )

    eval_rows = [
        (100, "the capital of france is paris obviously"),
        (101, "two plus two equals four in base ten"),
    ]
    train_rows = [
        (0, "filler text then the capital of france is paris obviously end"),  # leaked 100
        (1, "totally unrelated prose about spark shuffles and joins"),
        (2, "two plus two equals four in base ten copied verbatim"),           # leaked 101
        (3, "short clean doc"),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")

    hits = {r["doc_id"]: r for r in contamination_hits(train, ev, n=5).collect()}
    assert set(hits) == {0, 2}
    assert hits[0]["n_eval_docs"] == 1 and hits[0]["n_shared_grams"] == 3  # 7-word overlap -> 3 5-grams
    assert hits[2]["n_eval_docs"] == 1 and hits[2]["n_shared_grams"] == 4  # 8-word overlap -> 4 5-grams

    kept = sorted(r["doc_id"] for r in decontaminate(train, ev, n=5).collect())
    assert kept == [1, 3]

    # min_shared raises the bar: requiring >=4 shared grams clears doc 0
    strict = {r["doc_id"] for r in contamination_hits(train, ev, n=5, min_shared=4).collect()}
    assert strict == {2}

    # stop-gram cap: a gram present in BOTH eval docs is boilerplate;
    # with max_gram_freq=1 a train doc sharing only that gram is clean
    ev2 = spark.createDataFrame(
        [(200, "standard header line alpha beta gamma delta"),
         (201, "standard header line alpha beta epsilon zeta")],
        "doc_id long, text string",
    )
    tr2 = spark.createDataFrame(
        [(10, "prefix standard header line alpha beta suffix")],
        "doc_id long, text string",
    )
    assert contamination_hits(tr2, ev2, n=5).count() == 1
    assert contamination_hits(tr2, ev2, n=5, max_gram_freq=1).count() == 0


def test_pack_sequences_invariants(spark):
    """Fixed-length packing: every window except the partition's last
    is exactly full; a document's chunks partition its tokens
    contiguously; zero-token docs vanish; a doc longer than seq_len
    splits across multiple windows."""
    from gcp_dataengineering_spark.llm_ops.corpus import pack_sequences

    def words(n):
        return " ".join(f"t{j}" for j in range(n))

    rows = [(0, "en", words(7)), (1, "en", words(25)), (2, "en", ""),
            (3, "en", words(10)), (4, "en", words(3))]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = pack_sequences(docs, seq_len=10).collect()
    assert {r["doc_id"] for r in out} == {0, 1, 3, 4}  # empty doc 2 gone

    per_doc = {}
    per_seq = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_tokens_in_seq"]
    # stream = 7 + 25 + 10 + 3 = 45 tokens -> windows 0..3 full, 4 holds 5
    assert per_seq == {0: 10, 1: 10, 2: 10, 3: 10, 4: 5}
    # doc 1 (25 tokens, starts at offset 7) spans windows 0-3
    d1 = sorted(per_doc[1], key=lambda r: r["seq_id"])
    assert [(r["seq_id"], r["seq_offset"], r["doc_offset"], r["n_tokens_in_seq"]) for r in d1] == [
        (0, 7, 0, 3), (1, 0, 3, 10), (2, 0, 13, 10), (3, 0, 23, 2),
    ]
    for doc_id, chunks in per_doc.items():
        chunks = sorted(chunks, key=lambda r: r["doc_offset"])
        total = sum(r["n_tokens_in_seq"] for r in chunks)
        n_tok = {0: 7, 1: 25, 3: 10, 4: 3}[doc_id]
        assert total == n_tok
        off = 0
        for c in chunks:
            assert c["doc_offset"] == off
            off += c["n_tokens_in_seq"]
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(docs, seq_len=0)


def test_scrub_pii_redacts_and_counts(spark):
    from gcp_dataengineering_spark.llm_ops.text import scrub_pii

    rows = [
        (0, "mail alice.smith+x@corp.example.org and bob@ex.io today"),
        (1, "call 555-123-4567 or 555.987.6543 from 192.168.0.1"),
        (2, "no pii here at all"),
        (3, "edge 1.2.3.4 10.20.30.40 end"),
        (4, "reach me at 555-123-4567@mail.com ok"),  # phone-shaped local part
        # round-5 widened phone shapes
        (5, "call (555) 123-4567 or (555)987-6543 now"),
        (6, "dial +1 555-123-4567 or +1-(555) 987 6543 thanks"),
        (7, "space sep 555 123 4567 works"),
        (8, "bare 5551234567 run stays, year 123 4567 stays"),
        # round-6 widened classes
        (9, "txt +1(555) 123-4567 now"),  # glued +1( — the ADVICE recall gap
        (10, "my ssn is 123-45-6789 thanks"),
        # round-7 review finding: phone glued to an email local-part —
        # leftmost-first gives the phone the overlap, and the orphan
        # @domain tail must STILL be redacted (as an email)
        (13, "reach (555) 123-4567@mail.com ok"),
        (11, "card 4111-1111-1111-1111 or 4111 1111 1111 1111 or 4111.1111.1111.1111"),
        (12, "bare 123456789 and 4111111111111111 stay; 1234-5678-9012 stays"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert (got[0]["n_emails"], got[0]["n_phones"], got[0]["n_ipv4"]) == (2, 0, 0)
    assert got[0]["text_clean"] == "mail <EMAIL> and <EMAIL> today"
    assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_ipv4"]) == (0, 2, 1)
    assert got[1]["text_clean"] == "call <PHONE> or <PHONE> from <IPV4>"
    assert got[2]["text_clean"] == "no pii here at all"
    assert got[3]["n_ipv4"] == 2
    assert got[3]["text_clean"] == "edge <IPV4> <IPV4> end"
    # counts agree with the redactions actually applied: the whole
    # token is one email, NOT also a phone (counts are sequential)
    assert (got[4]["n_emails"], got[4]["n_phones"], got[4]["n_ipv4"]) == (1, 0, 0)
    assert got[4]["text_clean"] == "reach me at <EMAIL> ok"
    # widened shapes: parenthesized area code, +1 prefix, space seps
    assert got[5]["n_phones"] == 2
    assert got[5]["text_clean"] == "call <PHONE> or <PHONE> now"
    assert got[6]["n_phones"] == 2
    assert got[6]["text_clean"] == "dial <PHONE> or <PHONE> thanks"
    assert got[7]["n_phones"] == 1
    assert got[7]["text_clean"] == "space sep <PHONE> works"
    # unseparated 10-digit runs and 3+4 fragments are NOT phones
    assert got[8]["n_phones"] == 0
    assert got[8]["text_clean"] == "bare 5551234567 run stays, year 123 4567 stays"
    # '+1(' with no separator redacts WHOLE (no stray '+1' residue)
    assert got[9]["n_phones"] == 1
    assert got[9]["text_clean"] == "txt <PHONE> now"
    # SSN: strict ddd-dd-dddd
    assert got[10]["n_ssn"] == 1
    assert got[10]["text_clean"] == "my ssn is <SSN> thanks"
    # card: 4x4 digits with dash/space/dot separators, each shape whole
    assert (got[11]["n_cards"], got[11]["n_phones"], got[11]["n_ssn"]) == (3, 0, 0)
    assert got[11]["text_clean"] == "card <CARD> or <CARD> or <CARD>"
    # unseparated digit runs and 3-group fragments are NOT ssn/cards
    assert (got[12]["n_ssn"], got[12]["n_cards"], got[12]["n_phones"]) == (0, 0, 0)
    assert got[12]["text_clean"] == "bare 123456789 and 4111111111111111 stay; 1234-5678-9012 stays"
    # overlapping phone/email starts: the earlier-starting phone wins
    # the overlap, the stranded @domain tail redacts as an email —
    # nothing PII-shaped survives into the clean text
    assert (got[13]["n_phones"], got[13]["n_emails"]) == (1, 1)
    assert got[13]["text_clean"] == "reach <PHONE><EMAIL> ok"


def test_remove_boilerplate_strips_frequent_segments(spark):
    """Segments above the doc-frequency threshold vanish from every
    document; rare segments and intra-doc structure (order, empty
    lines) survive; fully-boilerplate docs come back empty, not
    dropped; validation raises."""
    from gcp_dataengineering_spark.llm_ops.corpus import remove_boilerplate

    footer = "subscribe to our newsletter"
    rows = [
        (0, f"alpha beta\n{footer}\nunique zero"),
        (1, f"{footer}\ngamma delta"),
        (2, f"epsilon\n\nzeta\n{footer}"),   # empty line preserved
        (3, footer),                          # only boilerplate -> ''
        (4, "no chrome here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           remove_boilerplate(docs, max_doc_frac=0.5, min_docs=2).collect()}
    assert out == {
        0: "alpha beta\nunique zero",
        1: "gamma delta",
        2: "epsilon\n\nzeta",
        3: "",
        4: "no chrome here at all",
    }

    # below min_docs, even a 100%-frequency segment in a tiny corpus
    # survives (two docs, min_docs=3)
    two = spark.createDataFrame(rows[:2], "doc_id long, text string")
    kept = {r.doc_id: r.text for r in
            remove_boilerplate(two, max_doc_frac=0.5, min_docs=3).collect()}
    assert footer in kept[0] and footer in kept[1]

    # regex-metacharacter separator: split must treat sep literally
    # (review finding: '|' as a regex alternation exploded every
    # character) — round-trips exactly
    pdocs = spark.createDataFrame(
        [(0, f"alpha|{footer}|zed"), (1, f"{footer}|beta")],
        "doc_id long, text string",
    )
    pout = {r.doc_id: r.text for r in
            remove_boilerplate(pdocs, sep="|", max_doc_frac=0.5, min_docs=2).collect()}
    assert pout == {0: "alpha|zed", 1: "beta"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sep"):
        remove_boilerplate(docs, sep="")
    with _pytest.raises(ValueError, match="max_doc_frac"):
        remove_boilerplate(docs, max_doc_frac=0.0)
    with _pytest.raises(ValueError, match="internals"):
        remove_boilerplate(docs.withColumn("_bp_id", F.lit(1)))


def test_remove_boilerplate_plan_shape(spark):
    """Scale receipt: the corpus re-enters through a BROADCAST anti
    join (the frequent set is tiny by construction — at most
    1/max_doc_frac members), never a SortMergeJoin on segments, and
    the whole op carries no cartesian."""
    from gcp_dataengineering_spark.llm_ops.corpus import remove_boilerplate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = remove_boilerplate(
        docs.selectExpr("doc_id", "concat(text, '\\nfooter line') AS text"),
        max_doc_frac=0.05,
    )
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    seg_joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert not seg_joins, seg_joins
    assert "CartesianProduct" not in plan


def test_stratified_sample_stable_and_proportional(spark):
    """Membership is a pure function of (salt, id): the sample of a
    grown corpus extends the sample of the smaller one row-for-row;
    per-stratum rates land near the configured fractions; an
    unlisted stratum is dropped; fraction validation raises."""
    from gcp_dataengineering_spark.llm_ops.corpus import stratified_sample

    rows = [(i, "en" if i % 3 else "zh") for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    fr = {"en": 0.5}
    small = {r["doc_id"] for r in stratified_sample(docs.filter(F.col("doc_id") < 300), fr).collect()}
    big = {r["doc_id"] for r in stratified_sample(docs, fr).collect()}
    assert small == {i for i in big if i < 300}  # content-stable growth
    n_en = sum(1 for i, l in rows if l == "en")
    assert abs(len(big) / n_en - 0.5) < 0.1  # ~half of en kept
    assert not any(i % 3 == 0 for i in big)  # zh unlisted -> dropped
    flat = {r["doc_id"] for r in stratified_sample(docs, 0.25).collect()}
    assert abs(len(flat) / 600 - 0.25) < 0.1
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(docs, {"en": 1.5})
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(docs, -0.1)


def test_av_header_parser_real_formats(spark):
    """parse_av_header reads true sample_rate/channels/duration and
    dimensions out of spec-valid WAV/MP4 container bytes and degrades
    safely on garbage/truncation; decode_av_headers runs it over
    Arrow batches end-to-end."""
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        decode_av_headers,
        parse_av_header,
        synth_av_corpus,
        synth_av_payload,
    )

    for i in [0, 1, 2, 3, 4, 16, 99, 4999, 5000, 12345]:
        mt, payload = synth_av_payload(i)
        fmt, sr, ch, dur, w, h, codec = parse_av_header(payload)
        if i % 2 == 0:
            exp_sr = 8000 + (i % 5) * 4000
            assert mt == "audio/wav" and fmt == "wav"
            assert sr == exp_sr and ch == (2 if i % 4 == 0 else 1)
            assert dur == (i % 100 + 50) * 1000 // exp_sr
            assert (w, h) == (None, None)
            assert codec == "pcm"
        else:
            assert mt == "video/mp4" and fmt == "mp4"
            assert (sr, ch) == (None, None)
            assert dur == i % 5000 + 100
            assert (w, h) == (i % 640 + 16, (i * 3) % 480 + 16)
            assert codec == ("avc1", "hev1", "mp4a", "vp09")[(i // 2) % 4]

    assert parse_av_header(None) == (None,) * 7
    assert parse_av_header(b"") == (None,) * 7
    assert parse_av_header(b"RIFFxxxxWAVE") == ("wav",) + (None,) * 6
    assert parse_av_header(b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00") == (
        "mp4",) + (None,) * 6
    assert parse_av_header(b"random garbage bytes here") == (None,) * 7

    # r17 stsd truncation fuzz: cutting the payload anywhere must
    # never raise, and a torn moov degrades codec (with the other
    # inner fields) to None rather than misreading bytes
    _, full = synth_av_payload(7)
    for cut in range(12, len(full)):
        fmt, *_rest = parse_av_header(full[:cut])  # must not raise
    fmt, sr, ch, dur, w, h, codec = parse_av_header(full[: len(full) - 20])
    assert fmt == "mp4" and codec is None
    # a well-formed moov whose stsd entry carries a non-ascii fourcc
    # degrades codec alone (None), keeping the layout fields
    bad = bytearray(full)
    off = full.rfind(b"stsd") + 16  # [size][stsd][verflags][count][esize][4cc]
    bad[off : off + 4] = b"\x00\x01\x02\x03"
    fmt, sr, ch, dur, w, h, codec = parse_av_header(bytes(bad))
    assert fmt == "mp4" and codec is None
    assert (w, h) == (7 % 640 + 16, (7 * 3) % 480 + 16)

    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    out = {r["media_id"]: r for r in decode_av_headers(synth_av_corpus(ids)).collect()}
    assert len(out) == 30
    for i, r in out.items():
        if i % 2 == 0:
            assert r["sample_rate"] == 8000 + (i % 5) * 4000
            assert r["n_bytes"] == 44 + (i % 100 + 50) * (2 if i % 4 == 0 else 1) * 2
            assert r["codec"] == "pcm"
        else:
            assert (r["width"], r["height"]) == (i % 640 + 16, (i * 3) % 480 + 16)
            assert r["n_bytes"] == 288
            assert r["codec"] == ("avc1", "hev1", "mp4a", "vp09")[(i // 2) % 4]


def test_gaussian_lsh_recall_bound(spark):
    """Multi-table gaussian-hyperplane LSH (the suite's default
    bucketing) must reach recall >= 0.8 against brute-force top-3 on
    the fixture corpus — the property the axis-aligned variant could
    not pin."""
    from gcp_dataengineering_spark.suite.llm import LSH_TABLES

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact, approx = {}, {}
    for r in cosine_topk_bruteforce(emb, q, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in cosine_topk_lsh(emb, q, k=3, planes_q=LSH_TABLES).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact[qid] & approx.get(qid, set())) / len(exact[qid]) for qid in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_gaussian_bucket_matches_inline_hof_reference(spark):
    """r18 regression pin: an unrolled indexed-sum rewrite of
    gaussian_bucket was measured (13× slower — projection collapse
    re-ran the vq-defining HOF per element reference) and reverted.
    Pin gaussian_bucket's buckets to an inline HOF reference on the
    fixture vectors plus a NULL vector so any future reformulation
    must stay bit-identical."""
    from gcp_dataengineering_spark.llm_ops.similarity import (
        gaussian_bucket,
        gaussian_planes_q,
        quantize_fixed,
    )

    planes = gaussian_planes_q(8, 64, seed=11)

    def hof_bucket(vq_col):
        arr = lambda pq: "array(" + ", ".join(f"{q}L" for q in pq) + ")"  # noqa: E731
        bits = []
        for i, pq in enumerate(planes):
            dot = (
                f"aggregate(zip_with({vq_col}, {arr(pq)}, "
                "(a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            bits.append(
                f"(CASE WHEN {dot} >= 0 THEN CAST({2**i} AS BIGINT) "
                "ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr(" + ".join(bits))

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", quantize_fixed(F.col("embedding")).alias("_vq"))
        .unionByName(
            spark.sql(
                "SELECT CAST(-1 AS BIGINT) vec_id, "
                "CAST(NULL AS ARRAY<BIGINT>) _vq"
            )
        )
    )
    rows = emb.select(
        "vec_id",
        gaussian_bucket("_vq", planes).alias("new"),
        hof_bucket("_vq").alias("old"),
    ).collect()
    assert rows and all(r["new"] == r["old"] for r in rows)


def test_gaussian_neardup_lsh_recall_of_blocked(spark):
    """Blocking embedding near-dup on gaussian sign buckets must
    retain every planted high-cosine pair that shares a bucket AND
    find at least one of the label-blocked ground-truth pairs."""
    from gcp_dataengineering_spark.llm_ops.similarity import (
        embedding_near_dup_pairs,
        gaussian_bucket,
        quantize_fixed,
    )
    from gcp_dataengineering_spark.suite.llm import NEARDUP_PLANES

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    b = emb.withColumn("_vq", quantize_fixed(F.col("embedding"))).withColumn(
        "_bucket", gaussian_bucket("_vq", NEARDUP_PLANES)
    ).drop("_vq")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(b, threshold=0.4, block_col="_bucket").collect()
    }
    # bucketed pairs are a subset of the label-blocked truth's cosine
    # criterion; at least some truth pairs must survive the blocking
    assert got, "gaussian blocking lost every near-dup pair"


def test_neardup_allpairs_requires_explicit_optin(spark):
    """block_col=None is an O(n²) crossJoin: it must RAISE unless the
    caller opts in with allow_crossjoin=True (round-6 scale guard) —
    and opted-in it must agree with itself under blocking by a
    constant column (same pair space)."""
    from gcp_dataengineering_spark.llm_ops.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    with pytest.raises(ValueError, match="crossJoin"):
        embedding_near_dup_pairs(emb, threshold=0.4, block_col=None)
    allp = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.4, block_col=None, allow_crossjoin=True
        ).collect()
    }
    one_block = emb.withColumn("_one", F.lit(1))
    blocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            one_block, threshold=0.4, block_col="_one"
        ).collect()
    }
    assert allp == blocked


def test_ngram_capped_equals_uncapped_when_cap_inactive(docs):
    """dedup_ngram was demoted from the driver-oracle registry in
    round 5 (subsumed by the oracle-gated dedup_ngram_capped); this
    proves the subsumption: a cap above the corpus's max shingle
    document-frequency is a no-op, so capped == uncapped exactly."""
    key = lambda r: (r["id_a"], r["id_b"])
    uncapped = {key(r): (r["common"], r["jaccard"])
                for r in ngram_jaccard_pairs(docs, min_jaccard=0.1).collect()}
    capped = {key(r): (r["common"], r["jaccard"])
              for r in ngram_jaccard_pairs(
                  docs, min_jaccard=0.1, max_shingle_freq=10**9).collect()}
    assert len(uncapped) > 0
    assert capped == uncapped


def test_pack_sequences_straggler_guard_bounds_partitions(spark):
    """max_partition_rows fans a single-language corpus out into
    bounded prefix-sum partitions: every (lang, _pack_bucket) group
    stays ~<= the bound (hash buckets wobble, allow 2x), tokens are
    conserved, and the packing invariants hold PER BUCKET — every
    window except each bucket's last is exactly full, and a doc's
    chunks partition its tokens contiguously."""
    from gcp_dataengineering_spark.llm_ops.corpus import pack_sequences

    rows = [(i, "en", " ".join(f"t{j}" for j in range(7))) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = pack_sequences(docs, seq_len=10, max_partition_rows=50).collect()

    per_bucket_docs = {}
    for r in out:
        per_bucket_docs.setdefault(r["_pack_bucket"], set()).add(r["doc_id"])
    assert len(per_bucket_docs) >= 4  # 400/50 = 8 buckets planned; hash spread
    assert all(len(d) <= 2 * 50 for d in per_bucket_docs.values())
    assert {d for ds in per_bucket_docs.values() for d in ds} == set(range(400))

    # per-bucket invariants: full windows except the bucket's last
    seq_fill = {}
    for r in out:
        k = (r["_pack_bucket"], r["seq_id"])
        seq_fill[k] = seq_fill.get(k, 0) + r["n_tokens_in_seq"]
    last_seq = {}
    for (b, s) in seq_fill:
        last_seq[b] = max(last_seq.get(b, -1), s)
    for (b, s), fill in seq_fill.items():
        if s < last_seq[b]:
            assert fill == 10, f"bucket {b} seq {s} under-filled: {fill}"
    # token conservation + contiguous chunks per doc
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert sum(f for f in seq_fill.values()) == 400 * 7
    for doc_id, chunks in per_doc.items():
        chunks = sorted(chunks, key=lambda r: r["doc_offset"])
        assert sum(c["n_tokens_in_seq"] for c in chunks) == 7
        off = 0
        for c in chunks:
            assert c["doc_offset"] == off
            off += c["n_tokens_in_seq"]
    # default path unchanged: no _pack_bucket column
    assert "_pack_bucket" not in pack_sequences(docs, seq_len=10).columns
    with pytest.raises(ValueError, match="max_partition_rows"):
        pack_sequences(docs, seq_len=10, max_partition_rows=0)


def test_lang_id_accuracy_on_fixture_corpus(spark):
    """Honesty gate for the two-stage lang_id (r12: script router +
    stopword vote; r18: 46 stopword + 15 new script languages = 61
    total with ja/zh). Measured capability on clean prose: 100%
    across every language in the fixture — including the formerly
    carved-out da/no/sv set, whose r18 distinctive stopword tails
    (af/ud/mig vs av/ut/meg vs bara/mellan) break the old
    shared-inventory ties. Gibberish and tokenless text still fall
    through to 'und'."""
    sentences = {
        "en": [
            "this is the house that we have built and they are proud of it",
            "when you are not sure what to do you should ask for help from a friend",
            "the weather was cold and the children were playing in the park",
            "it is a truth that they have known for a long time",
        ],
        "es": [
            "el perro y el gato viven en la casa de mi abuela con su familia",
            "los libros que me diste son para una amiga y sus hermanos",
            "no es facil como parece pero lo vamos a intentar ya",
            "las ciudades del sur son conocidas por su comida y al final el viaje",
        ],
        "fr": [
            "le chien et le chat vivent dans la maison de ma grand mere",
            "les livres que tu m as donnes sont pour une amie et ses parents",
            "il ne faut pas juger un livre sur sa couverture mais sur le contenu",
            "nous allons au marche pour acheter du pain et des fruits ce matin",
        ],
        "de": [
            "der hund und die katze wohnen in dem haus mit einem garten",
            "das ist nicht das erste mal dass wir von diesem problem gehort haben",
            "die kinder spielen auf der strasse und es wird bald dunkel werden",
            "er hat sich ein neues auto aus deutschland gekauft und ist damit gefahren",
        ],
        "pt": [
            "o cachorro e o gato moram na casa da minha avo com os primos",
            "os livros que me deste sao para uma amiga e seus irmaos",
            "nao e facil como parece mas vamos tentar mais uma vez",
            "as cidades do sul sao conhecidas por sua comida e pelo clima",
        ],
        "it": [
            "il cane e il gatto vivono nella casa di mia nonna con la famiglia",
            "i libri che mi hai dato sono per una amica e per i suoi genitori",
            "non e facile come sembra ma anche questo si puo fare",
            "la citta del sud sono conosciute per il cibo e per il clima",
        ],
        "nl": [
            "de hond en de kat wonen in het huis van mijn oma met de familie",
            "de boeken die je me gaf zijn voor een vriendin en haar ouders",
            "het is niet zo makkelijk als het lijkt maar we gaan het proberen",
            "wij gaan naar de markt om brood en fruit te kopen vandaag",
        ],
        # r12 Latin-script additions (2 sentences each)
        "da": [
            "og jeg tror ikke at det er saa svaert som han siger men vi faar se",
            "han har ikke set hvad der skete med mig og min familie i byen",
        ],
        "sv": [
            "och jag vet inte vad som hände men det är inte så lätt som du tror",
            "hon hade ett hus på landet och det var för stort för en familj",
        ],
        "no": [
            "jeg vet ikke hva som skjedde men det er ikke så lett som du tror",
            "han skal til byen med de andre og så er det ikke mer å si",
        ],
        "fi": [
            "en tiedä mitä tapahtui mutta se ei ole niin helppoa kuin luulet",
            "hän oli myös sitä mieltä että tämä on vain yksi asia joka pitää tehdä",
        ],
        "pl": [
            "nie wiem co się stało ale to nie jest tak proste jak myślisz",
            "był to dzień w którym wszystko się zmieniło dla nas i dla niego",
        ],
        "cs": [
            "nevím co se stalo ale není to tak jednoduché jak si myslíš že je",
            "byl to den kdy se všechno změnilo pro nás a pro něj už navždy",
        ],
        "ro": [
            "și nu este ușor cum pare dar o să încercăm din nou pentru că trebuie",
            "cărțile pe care mi le-ai dat sunt pentru o prietenă și pentru ai ei",
        ],
        "hu": [
            "nem tudom mi történt de ez nem olyan egyszerű mint ahogy gondolod",
            "az volt a nap amikor minden megváltozott és már csak ez maradt meg",
        ],
        "tr": [
            "ne olduğunu bilmiyorum ama bu senin düşündüğün kadar kolay değil",
            "o gün her şey değişti ve artık bir daha geri dönüş yok gibi",
        ],
        "id": [
            "saya tidak tahu apa yang terjadi tetapi ini tidak semudah yang kamu kira",
            "buku yang kamu berikan itu untuk teman saya dan untuk orang tuanya",
        ],
        "vi": [
            "tôi không biết chuyện gì đã xảy ra nhưng nó không dễ như bạn nghĩ",
            "những cuốn sách mà bạn đã cho là để cho một người bạn của tôi",
        ],
        # Cyrillic: resolved by the stopword vote, not a hard map
        "ru": [
            "я не знаю что случилось но это не так просто как ты думаешь",
            "он сказал что они были у нас в доме и мы не знали об этом",
        ],
        "uk": [
            "я не знаю що сталося але це не так просто як ти думаєш",
            "він сказав що вони були у нас в домі і ми не знали про це",
        ],
        # script-routed languages (hard maps + the han/kana rule)
        "zh": ["这是一个中文句子没有任何拉丁功能词在里面可以测试"],
        "ja": ["これは日本語のテスト文でありもっと多くの文字が必要です"],
        "ko": ["이것은 한국어 테스트 문장이며 더 많은 글자가 필요합니다"],
        "ar": ["هذا نص عربي للاختبار ويحتوي على كلمات كثيرة للمراجعة"],
        "he": ["זהו טקסט בעברית לבדיקה והוא מכיל מילים רבות לבדיקה"],
        "el": ["αυτό είναι ένα ελληνικό κείμενο για δοκιμή με πολλές λέξεις"],
        "hi": ["यह परीक्षण के लिए एक हिंदी वाक्य है जिसमें कई शब्द हैं"],
        "th": ["นี่คือประโยคภาษาไทยสำหรับการทดสอบที่มีคำมากมาย"],
        # r18 Latin-script additions (2 sentences each)
        "ca": [
            "els llibres que em vas donar són per a una amiga i els seus pares",
            "això també és per als nens que hi ha a la casa del seu avi",
        ],
        "af": [
            "die boeke wat jy vir my gegee het is nie vir haar nie maar vir ons",
            "hy het gesê dat hulle baie bly was om die huis aan ons te wys",
        ],
        "et": [
            "ma ei tea mis juhtus aga see ei ole nii lihtne kui sa arvad",
            "ta oli ka seda meelt et see on üks asi mida tuleb teha",
        ],
        "lt": [
            "aš nežinau kas atsitiko bet tai nėra taip paprasta kaip manai",
            "jis buvo labai laimingas nes jau žinojo apie savo namus ir mus",
        ],
        "lv": [
            "es nezinu kas notika bet tas nav tik vienkārši kā tu domā",
            "viņš bija arī ļoti priecīgs par savu māju un par mums visiem",
        ],
        "sk": [
            "neviem čo sa stalo ale nie je to také jednoduché ako si myslíš",
            "bol to deň keď sa všetko zmenilo pre nás aj pre jeho rodinu",
        ],
        "sl": [
            "ne vem kaj se je zgodilo pa tudi ni tako preprosto kot misliš",
            "to je bil dan ko se je še vse spremenilo za nas in za njega",
        ],
        "hr": [
            "ne znam što se dogodilo ali nije tako jednostavno kao što misliš",
            "bio je to dan kada se sve već promijenilo za nas i za njega",
        ],
        "sq": [
            "nuk e di se çfarë ndodhi por nuk është aq e lehtë sa mendon ti",
            "ai tha se ata ishin në shtëpinë tonë dhe ne nuk e dinim këtë",
        ],
        "is": [
            "ég veit ekki hvað gerðist en það er ekki svo auðvelt sem þú heldur",
            "hann sagði að þau hafa verið í húsinu með því að við vissum ekki",
        ],
        "eu": [
            "ez dakit zer gertatu zen baina ez da hain erraza zuk uste duzun bezala",
            "hark esan zuen haiek gure etxean izan zirela eta guk ez genekien hori",
        ],
        "sw": [
            "sijui nini kilitokea lakini si rahisi kama unavyofikiri wewe",
            "alisema kuwa walikuwa katika nyumba yetu na hatukujua hata kidogo",
        ],
        "tl": [
            "hindi ko alam kung ano ang nangyari pero hindi ito madali para sa akin",
            "sinabi niya na sila ay nasa bahay namin at hindi namin alam ito",
        ],
        "az": [
            "mən bilmirəm nə oldu amma bu sənin düşündüyün kimi asan deyil",
            "o dedi ki onlar bizim evdə idilər və biz bunu bilmirdik heç",
        ],
        # r18 Cyrillic additions
        "bg": [
            "не знам какво се случи но това не е толкова просто както мислиш",
            "той каза че те са били при нас и ние не знаехме за това",
        ],
        "sr": [
            "не знам шта се догодило али није тако једноставно као што мислиш",
            "био је то дан кад се све већ променило за нас и за њега",
        ],
        "be": [
            "я не ведаю што здарылася але гэта не так проста як ты думаеш",
            "ён сказаў што яны былі ў нас і мы не ведалі пра гэта",
        ],
        "kk": [
            "мен не болғанын білмеймін бірақ бұл сен ойлағандай оңай емес",
            "ол біздің үйде болғандары туралы айтты және біз оны білмедік",
        ],
        # r18 wave-2 Latin additions
        "cy": [
            "mae hyn wedi bod yn dda iawn ond roedd y plant hefyd wrth eu bodd",
            "pan fydd hi yn dod adref mae ei mam yn cael te gan y teulu",
        ],
        "ga": [
            "bhí sé ag obair agus níl a fhios agam cad atá le déanamh anois",
            "nach raibh siad anseo mar a bhí an plean agus beidh sin go maith",
        ],
        "mt": [
            "dan kien meta hija kienet hemm u huwa kien qed jistenna fejn kien hemm ukoll",
            "din hija għal kulħadd iżda se jkun hemm biex naraw jew le minn fuq",
        ],
        "fo": [
            "hetta er ikki so gott men tey hava verið har og tað er eisini rætt",
            "hann og hon vóru við til at hjálpa sum altíð millum teirra uttan iva",
        ],
        # r18 wave-2 Cyrillic additions
        "mk": [
            "не знам што се случи но тоа не е толку едноставно како што мислиш и ќе видиме",
            "тој рече дека ќе дојде ама оваа работа нема да се заврши само така",
        ],
        "mn": [
            "энэ бол их сайхан юм гэж би байнга боддог бөгөөд тэр ч бас үнэн байсан юм",
            "хүн бүх зүйлийг мэдэх боломжгүй тухай мөн өөр үед ярьж байсан гэдэг",
        ],
        "ky": [
            "бул жакшы эмес деп мен айттым бирок алар дагы келишти жана ошол жерде болду",
            "эгер сен келбесең анда биз өз ишибизди жөнүндө сүйлөшүп кийин бүтүрөбүз же жок",
        ],
        "tg": [
            "ман намедонам ки чӣ шуд аммо ин барои мо он қадар осон нест ва ҳар кас инро медонад",
            "ӯ гуфт ки онҳо дар хонаи мо буданд ва мо инро намедонистем то имрӯз",
        ],
        # r18 script-routed additions (hard maps, one sentence each)
        "bn": ["এটি পরীক্ষার জন্য একটি বাংলা বাক্য যাতে অনেক শব্দ আছে"],
        "pa": ["ਇਹ ਜਾਂਚ ਲਈ ਇੱਕ ਪੰਜਾਬੀ ਵਾਕ ਹੈ ਜਿਸ ਵਿੱਚ ਬਹੁਤ ਸ਼ਬਦ ਹਨ"],
        "gu": ["આ પરીક્ષણ માટે એક ગુજરાતી વાક્ય છે જેમાં ઘણા શબ્દો છે"],
        "or": ["ଏହା ପରୀକ୍ଷା ପାଇଁ ଏକ ଓଡ଼ିଆ ବାକ୍ୟ ଯେଉଁଥିରେ ଅନେକ ଶବ୍ଦ ଅଛି"],
        "ta": ["இது சோதனைக்கான ஒரு தமிழ் வாக்கியம் இதில் பல சொற்கள் உள்ளன"],
        "te": ["ఇది పరీక్ష కోసం ఒక తెలుగు వాక్యం ఇందులో చాలా పదాలు ఉన్నాయి"],
        "kn": ["ಇದು ಪರೀಕ್ಷೆಗಾಗಿ ಒಂದು ಕನ್ನಡ ವಾಕ್ಯ ಇದರಲ್ಲಿ ಹಲವು ಪದಗಳಿವೆ"],
        "ml": ["ഇത് പരീക്ഷണത്തിനുള്ള ഒരു മലയാളം വാക്യമാണ് ഇതിൽ ധാരാളം വാക്കുകൾ ഉണ്ട്"],
        "si": ["මෙය පරීක්ෂණය සඳහා සිංහල වාක්‍යයක් වන අතර බොහෝ වචන ඇත"],
        "my": ["ဤသည်မှာ စမ်းသပ်ရန်အတွက် မြန်မာစာကြောင်းတစ်ကြောင်းဖြစ်သည်"],
        "km": ["នេះគឺជាប្រយោគខ្មែរសម្រាប់ការធ្វើតេស្តដែលមានពាក្យច្រើន"],
        "lo": ["ນີ້ແມ່ນປະໂຫຍກພາສາລາວສໍາລັບການທົດສອບທີ່ມີຄໍາຫຼາຍ"],
        "ka": ["ეს არის ქართული წინადადება ტესტისთვის რომელშიც ბევრი სიტყვაა"],
        "hy": ["սա հայերեն նախադասություն է փորձարկման համար շատ բառերով"],
        "am": ["ይህ ለሙከራ የአማርኛ ዓረፍተ ነገር ነው ብዙ ቃላት አሉት"],
    }
    rows = [(lang, s) for lang, sents in sentences.items() for s in sents]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = df.select("lang", "text", lang_id("text").alias("pred")).collect()
    wrong = [(r["lang"], r["pred"], r["text"][:30]) for r in got if r["lang"] != r["pred"]]
    # r18: the da/no/sv carve-out is CLOSED on clean prose — the
    # distinctive stopword tails break the old shared-inventory
    # ties, so the fixture now demands 100% across all 61 languages
    assert not wrong, f"lang_id misfires: {wrong}"
    # gibberish / stopword-free latin still falls through to default
    other = spark.createDataFrame(
        [(1, "xyzzy plugh qwerty"), (2, ""), (3, "12345 67890")],
        "doc_id long, text string",
    )
    assert all(
        r["p"] == "und"
        for r in other.select(lang_id("text").alias("p")).collect()
    )
    # the pre-r12 fallthrough case now routes by script: space-
    # segmented Chinese is zh, not und
    zh = spark.createDataFrame(
        [(1, "这 是 一 个 中文 句子 没有 任何 拉丁 功能 词")], "i long, text string"
    )
    assert zh.select(lang_id("text").alias("p")).collect()[0]["p"] == "zh"


def test_new_languages_route_per_language_budgets(spark):
    """r18 (r17 verdict item 3, the 'done' clause): languages new to
    the r18 router — stopword-voted (sw, tl, bg) and script-routed
    (bn, ka) — flow through the per-language budget operators
    correctly: lang_id tags them, perplexity_buckets cuts terciles
    WITHIN each new language (2/2/2 on six distinct scores per
    language, no cross-language bleed), and dsir_resample with
    part_cols=('lang',) enforces the keep fraction per language."""
    from pyspark.sql import functions as F

    from gcp_dataengineering_spark.llm_ops.dsir import dsir_resample
    from gcp_dataengineering_spark.llm_ops.ngram_lm import perplexity_buckets
    from gcp_dataengineering_spark.llm_ops.text import lang_id

    base = {
        "sw": "sijui nini kilitokea lakini si rahisi kama unavyofikiri wewe",
        "tl": "hindi ko alam kung ano ang nangyari pero hindi ito madali",
        "bg": "не знам какво се случи но това не е толкова просто както мислиш",
        "bn": "এটি পরীক্ষার জন্য একটি বাংলা বাক্য যাতে অনেক শব্দ আছে",
        "ka": "ეს არის ქართული წინადადება ტესტისთვის რომელშიც ბევრი სიტყვაა",
    }
    rows = []
    did = 0
    for want, text in base.items():
        for k in range(6):
            rows.append((did, f"{text} {k}", want, float(k + 1)))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, want string, ppl_bits double"
    )
    tagged = df.withColumn("lang", lang_id("text"))
    mis = tagged.filter(F.col("lang") != F.col("want")).collect()
    assert not mis, [(r["want"], r["lang"]) for r in mis]

    bucketed = perplexity_buckets(tagged, part_cols=("lang",))
    per = {
        (r["lang"], r["bucket"]): r["n"]
        for r in bucketed.groupBy("lang", "bucket").agg(
            F.count("*").alias("n")
        ).collect()
    }
    for lang in base:
        assert per[(lang, "head")] == 2, (lang, per)
        assert per[(lang, "middle")] == 2
        assert per[(lang, "tail")] == 2
    # head really is the lowest-score third within each language
    heads = bucketed.filter(F.col("bucket") == "head").select(
        "lang", "ppl_bits"
    ).collect()
    assert all(r["ppl_bits"] <= 2.0 for r in heads)

    picked = dsir_resample(
        tagged.withColumn("dsir_logw", (F.col("ppl_bits") * 1000).cast("long")),
        keep_num=1,
        keep_den=3,
        gumbel=False,
        part_cols=("lang",),
    )
    kept = picked.filter(F.col("selected")).groupBy("lang").agg(
        F.count("*").alias("n"), F.min("dsir_logw").alias("lo")
    ).collect()
    assert {r["lang"]: r["n"] for r in kept} == {l: 2 for l in base}
    # highest-weight-first within the language, not globally
    assert all(r["lo"] == 5000 for r in kept)


def test_detect_script_semantics(spark):
    """r12 script detection: dominant-block argmax with the
    documented tie-break (SCRIPT_RANGES order), kana/han interplay,
    NULL/empty → 'unknown'."""
    from gcp_dataengineering_spark.llm_ops.text import detect_script, lang_id

    cases = [
        (1, "plain latin text here", "latin"),
        (2, "краткий русский текст", "cyrillic"),
        (3, "ελληνικό κείμενο εδώ", "greek"),
        (4, "نص عربي هنا", "arabic"),
        (5, "טקסט עברי", "hebrew"),
        (6, "हिंदी पाठ यहाँ", "devanagari"),
        (7, "中文文本在这里", "han"),
        (8, "ひらがなとカタカナ", "kana"),
        (9, "한국어 텍스트", "hangul"),
        (10, "ข้อความภาษาไทย", "thai"),
        (11, "", "unknown"),
        (12, None, "unknown"),
        (13, "12345 .,!?", "unknown"),
        # mixed: majority wins; short latin filler loses to the
        # longer native-script body
        (14, "ab 这是一个相当长的中文句子测试", "han"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "i long, text string"
    )
    got = {r.i: r.s for r in df.select("i", detect_script("text").alias("s")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)
    # han + any kana → ja; pure han → zh (the documented rule)
    jazh = spark.createDataFrame(
        [(1, "漢字が多い文章でもかなが少しあれば日本語"), (2, "纯中文内容没有假名")],
        "i long, text string",
    )
    p = {r.i: r.p for r in jazh.select("i", lang_id("text").alias("p")).collect()}
    assert p == {1: "ja", 2: "zh"}


def test_script_counts_spark_duckdb_parity(spark):
    """script_counts (Spark) == script_counts_sql (DuckDB) on
    multi-script soups — both engines count code points over the
    same BMP ranges (the script_detect oracle key rides on this)."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.text import (
        SCRIPT_RANGES,
        script_counts,
        script_counts_sql,
    )

    texts = [
        "mixed латиница and ελληνικά with 中文 and かな and 한국 and ไทย",
        "", None, "العربية עברית हिंदी", "a×b÷c",  # supplement-range edge
        "𝔘nicode astral 𝕏 chars stay uncounted",  # astral: outside BMP ranges
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    cols = script_counts("t")
    got = {
        r.i: tuple(r[f"n_{k}"] for k in SCRIPT_RANGES)
        for r in df.select(
            "i", *[c.alias(f"n_{k}") for k, c in cols.items()]
        ).collect()
    }
    con = duckdb.connect()
    sqls = script_counts_sql("t")
    sel = ", ".join(f"{v} AS n_{k}" for k, v in sqls.items())
    for i, t in enumerate(texts):
        want = con.execute(f"SELECT {sel} FROM (SELECT ? AS t)", [t]).fetchone()
        assert got[i] == tuple(want), (t, got[i], want)


def test_parquet_spill_dir_scopes_explicit_same_dir_strategy(spark, docs, tmp_path):
    """A call site inside a parquet_spill_dir block that passes an
    EXPLICIT materialize='parquet:<same dir>' coerces through the
    module registry; the context must reclaim those spills too on
    exit, honoring its 'all mat-*.parquet under <dir> are gone'
    contract (previously the context held a private instance and the
    registry instance's spills leaked)."""
    import os

    from gcp_dataengineering_spark.llm_ops import materialize as M

    d = str(tmp_path / "spill_shared")
    with M.parquet_spill_dir(d) as scoped:
        pairs = ngram_jaccard_pairs(
            docs, min_jaccard=0.3, materialize=f"parquet:{d}"
        )
        assert (0, 1) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert len(scoped.paths) >= 1
        # the explicit string coerced to the SAME registry instance
        assert M.parquet_spill(d) is scoped
    assert os.listdir(d) == []


def test_shuffle_plan_deterministic_and_duckdb_replayable(spark):
    """Deterministic training-order shuffle: the (bucket, pos) plan
    must replay byte-identically in DuckDB (same md5 arithmetic, same
    row_number tiebreak) — the engine-portability property every
    other corpus op in this repo carries — and be stable across
    re-runs with no RNG."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.corpus import shuffle_plan

    rows = [(i, f"doc {i}") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["shuffle_bucket"], r["pos_in_bucket"])
        for r in shuffle_plan(docs, buckets=8).collect()
    }
    again = {
        r["doc_id"]: (r["shuffle_bucket"], r["pos_in_bucket"])
        for r in shuffle_plan(docs, buckets=8).collect()
    }
    assert got == again  # no RNG anywhere
    oracle = {
        int(d): (int(b), int(p))
        for d, b, p in duckdb.sql(
            """
            SELECT doc_id,
                   ('0x' || substring(md5('shuffle' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS b,
                   row_number() OVER (
                       PARTITION BY ('0x' || substring(md5('shuffle' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
                       ORDER BY ('0x' || substring(md5('shuffle-order' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
                   ) AS p
            FROM range(200) t(doc_id)
            """
        ).fetchall()
    }
    assert got == oracle
    # every bucket's positions are 1..n_bucket with no gaps
    by_bucket = {}
    for b, p in got.values():
        by_bucket.setdefault(b, []).append(p)
    for b, ps in by_bucket.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    with pytest.raises(ValueError, match="buckets"):
        shuffle_plan(docs, buckets=0)


def test_vocab_topk_counts_and_tiebreak_duckdb(spark):
    """Top-k vocabulary census must match a DuckDB replay exactly,
    including the deterministic count-desc/token-asc tiebreak, and
    its plan must be TakeOrderedAndProject (per-partition top-k merge,
    never a global sort)."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.text import vocab_topk

    rows = [
        (0, "apple banana apple Cherry cherry"),
        (1, "banana! apple, date;date"),
        (2, "elderberry fig fig"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = vocab_topk(docs, k=4)
    got = [(r["token"], r["n_occurrences"]) for r in out.collect()]
    oracle = duckdb.sql(
        """
        WITH t AS (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '[^a-zA-Z0-9]+'),
                x -> x <> '')) AS token
            FROM (VALUES ('apple banana apple Cherry cherry'),
                         ('banana! apple, date;date'),
                         ('elderberry fig fig')) v(text)
        )
        SELECT token, CAST(COUNT(*) AS BIGINT) FROM t
        GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 4
        """
    ).fetchall()
    assert got == [(t, int(n)) for t, n in oracle]
    assert got[0] == ("apple", 3)  # 3 apples; cherry folded by lower()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    with pytest.raises(ValueError, match="k"):
        vocab_topk(docs, k=0)


def test_mixture_fractions_closed_form(spark):
    """Domain-mixture weighting: the binding domain keeps 1.0 and the
    rest downsample to the target token shares (closed form:
    en=1000/es=500/de=250 tokens, targets 2:1:1 -> C=1000, fracs
    0.5/0.5/1.0). Composes with stratified_sample for the scan-speed
    apply."""
    from gcp_dataengineering_spark.llm_ops.corpus import (
        mixture_fractions,
        stratified_sample,
    )

    def doc(n):
        return " ".join("w" for _ in range(n))

    rows = (
        [(i, "en", doc(100)) for i in range(10)]        # 1000 tokens
        + [(100 + i, "es", doc(100)) for i in range(5)]  # 500
        + [(200 + i, "de", doc(50)) for i in range(5)]   # 250
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    fr = mixture_fractions(docs, {"en": 0.5, "es": 0.25, "de": 0.25})
    assert fr == {"en": 0.5, "es": 0.5, "de": 1.0}
    sampled = stratified_sample(docs, fr, "lang")
    kept = {r["lang"]: r["n"] for r in
            sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert kept.get("de") == 5  # binding domain keeps everything
    # untargeted domains drop; bad targets raise
    fr2 = mixture_fractions(docs, {"en": 1.0})
    assert fr2 == {"en": 1.0}
    with pytest.raises(ValueError, match="no tokens"):
        mixture_fractions(docs, {"xx": 1.0})
    with pytest.raises(ValueError, match="positive total"):
        mixture_fractions(docs, {"en": 0.0})
    # a ZERO-weight domain absent from the corpus is dropped (0.0),
    # not an error — the docstring's w=0 contract (round-6 ADVICE fix)
    fr3 = mixture_fractions(docs, {"en": 1.0, "xx": 0.0})
    assert fr3 == {"en": 1.0, "xx": 0.0}
    # negative weights are rejected up front, not silently zeroed
    with pytest.raises(ValueError, match="negative"):
        mixture_fractions(docs, {"en": 1.0, "es": -0.5})


# ---------------------------------------------------------------- incremental dedup
def _inc_fixture(spark):
    """Corpus/batch split of the real documents fixture with PLANTED
    duplicates: two batch docs copy corpus text (cross dups), two
    batch docs copy each other (in-batch dup). Corpus ids < batch ids
    so min-id keeper semantics are decidable."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 400)
    novel = docs.filter(F.col("doc_id") >= 400)
    cross_dups = corpus.filter(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    in_batch_dup = novel.filter(F.col("doc_id") == 400).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    batch = novel.unionByName(cross_dups).unionByName(in_batch_dup)
    return corpus, batch


def test_dedup_exact_incremental_equals_full_recompute(spark):
    """Batch-vs-corpus exact dedup == full recompute on the union:
    the survivors of the incremental path are exactly the union's
    min-id keepers that live in the batch (corpus never re-paired)."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        dedup_exact,
        dedup_exact_incremental,
    )

    corpus, batch = _inc_fixture(spark)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    inc_ids = {
        r["doc_id"]
        for r in dedup_exact_incremental(batch, dedup_exact(corpus)).select("doc_id").collect()
    }
    union_keepers = {
        r["keep_id"] for r in dedup_exact(corpus.unionByName(batch)).collect()
    }
    assert inc_ids == {k for k in union_keepers if k in batch_ids}
    # the planted cross dups lost to their corpus originals, and only
    # one of the in-batch dup pair survived
    assert 1000 not in inc_ids and 1001 not in inc_ids
    assert (400 in inc_ids) and (2400 not in inc_ids)


def test_lsh_incremental_pairs_equal_full_recompute(spark):
    """Incremental LSH candidates (batch-vs-index + batch-internal)
    == every pair of the full-union LSH that touches a batch doc,
    with identical shared_bands counts."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_band_rows,
        minhash_signatures,
    )

    corpus, batch = _inc_fixture(spark)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    inc = {
        (r["id_a"], r["id_b"], r["shared_bands"])
        for r in lsh_incremental_pairs(batch, minhash_band_rows(corpus)).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["shared_bands"])
        for r in lsh_candidate_pairs(
            minhash_signatures(corpus.unionByName(batch))
        ).collect()
        if r["id_a"] in batch_ids or r["id_b"] in batch_ids
    }
    assert inc == full
    # the planted exact copies must surface: cross (0,1000), (1,1001)
    # and in-batch (400,2400), each sharing all 4 bands
    assert (0, 1000, 4) in inc and (1, 1001, 4) in inc and (400, 2400, 4) in inc


def test_minhash_band_rows_stored_format(spark):
    """The persisted band-index format is pinned literally: a stored
    fuzzy-dedup index holds these '<b>:|m…|m…' strings, so a change
    to the hash family or the band key must fail here instead of
    silently matching nothing against every index already on disk."""
    from gcp_dataengineering_spark.llm_ops.dedup import minhash_band_rows

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a stitch in time saves nine")],
        "doc_id long, text string",
    )
    assert sorted((r["doc_id"], r["band"]) for r in minhash_band_rows(df).collect()) == [
        (1, "0:|462396972075844051|48330871754406781"),
        (1, "1:|42762693337511181|12117859528345174"),
        (1, "2:|48546796728955568|69842020109924769"),
        (1, "3:|245387614786998582|84828313633556018"),
        (2, "0:|17881057932258896|207829265827806723"),
        (2, "1:|471679383716653537|601941332375668675"),
        (2, "2:|47402714132719780|346160696341791110"),
        (2, "3:|124029956824066621|387569480279853788"),
    ]


def test_lsh_incremental_bucketed_index_no_corpus_reshuffle(spark):
    """The 100 TB ingest shape: with the corpus band index stored
    band-bucketed (write_bucketed), candidate generation reuses the
    bucket partitioning — the executed plan shuffles ONLY batch band
    rows (the cross join's batch side and both sides of the
    batch-internal self-join); a plain-parquet index is the control
    and adds the one corpus-side Exchange on the band key."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        lsh_incremental_pairs,
        minhash_band_rows,
    )
    from gcp_dataengineering_spark.sources.io import write_bucketed

    corpus, batch = _inc_fixture(spark)
    bands = minhash_band_rows(corpus)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(bands, "corpus_band_index", "band", num_buckets=8, sort_col="band")
        indexed = spark.table("corpus_band_index")
        plan_idx = (
            lsh_incremental_pairs(batch, indexed)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan_idx
        assert plan_idx.count("Exchange hashpartitioning(band#") == 3, plan_idx
        # control: the same index as plain parquet shuffles both sides
        plain = bands  # unbucketed lineage stands in for a plain reload
        plan_plain = (
            lsh_incremental_pairs(batch, plain)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan_plain.count("Exchange hashpartitioning(band#") == 4, plan_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS corpus_band_index")


# ---------------------------------------------------------------- persisted IVF index
def test_persisted_ivf_index_reuse_no_corpus_exchange(spark):
    """The 'index built once, used by every query batch' lifecycle:
    persist_ivf_index → cosine_topk_ivf_from_tables must return
    byte-identical results to the one-shot in-memory composition,
    and the reloaded-index search plan must contain NO corpus-side
    exchange (no id-join, no cluster shuffle, no sort-merge) — the
    only exchange is the per-query rank over the candidate set."""
    from gcp_dataengineering_spark.llm_ops.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_from_tables,
        persist_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    try:
        posting_t, centroids_t = persist_ivf_index(emb, "ivf_test", n_clusters=8)
        stored = cosine_topk_ivf_from_tables(
            spark, posting_t, centroids_t, queries, k=5, nprobe=3
        )
        plan = stored._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "Exchange hashpartitioning(cluster" not in plan, plan
        assert "Exchange hashpartitioning(neighbor_id" not in plan, plan
        assert "Exchange hashpartitioning(vec_id" not in plan, plan
        assert "BroadcastHashJoin" in plan
        got = sorted(map(tuple, stored.collect()))
        want = sorted(
            map(tuple, cosine_topk_ivf(emb, queries, k=5, n_clusters=8, nprobe=3).collect())
        )
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_test_posting")
        spark.sql("DROP TABLE IF EXISTS ivf_test_centroids")


# ---------------------------------------------------------------- no-split packing
def test_pack_no_split_invariants_and_duckdb_replay(spark):
    """Boundary-respecting greedy packing: every doc lands WHOLE in
    exactly one window, windows never exceed seq_len, first-fit is
    tight (a doc opens a new window only when it truly didn't fit),
    seq ids are dense per group — and the whole plan is replayed
    row-for-row by an external DuckDB recursive CTE on the same
    parquet."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.corpus import pack_sequences_no_split

    L = 128
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pack_sequences_no_split(docs, seq_len=L).collect()
    assert out, "empty packing plan"

    by_group: dict = {}
    for r in out:
        by_group.setdefault(r["lang"], []).append(r)
    for lang, rows in by_group.items():
        rows.sort(key=lambda r: r["doc_id"])
        # one row per doc; chunk never exceeds window; offsets in range
        for r in rows:
            assert 1 <= r["n_tokens_in_seq"] <= L
            assert 0 <= r["seq_offset"] <= L - r["n_tokens_in_seq"]
            assert r["is_overlong"] == (r["n_tokens"] > L)
        # per-window: no overlap, total <= L
        wins: dict = {}
        for r in rows:
            wins.setdefault(r["seq_id"], []).append(r)
        assert sorted(wins) == list(range(len(wins))), "seq ids not dense"
        for seq, members in wins.items():
            members.sort(key=lambda r: r["seq_offset"])
            pos = 0
            for m in members:
                assert m["seq_offset"] == pos, "gap/overlap inside window"
                pos += m["n_tokens_in_seq"]
            assert pos <= L
        # first-fit tightness: doc at offset 0 of window s>0 did not fit
        # the remaining space of window s-1
        fill = {s: sum(m["n_tokens_in_seq"] for m in ms) for s, ms in wins.items()}
        for r in rows:
            if r["seq_id"] > 0 and r["seq_offset"] == 0:
                assert fill[r["seq_id"] - 1] + r["n_tokens_in_seq"] > L

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    oracle = con.sql(f"""
WITH RECURSIVE toks AS (
    SELECT lang, doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
), docs AS (
    SELECT lang, doc_id, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM toks WHERE n_tokens > 0
), packed AS (
    SELECT lang, doc_id, n_tokens, rn,
           CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
           least(n_tokens, {L}) AS t
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.doc_id, d.n_tokens, d.rn,
           CASE WHEN p.seq_offset + p.t + least(d.n_tokens, {L}) <= {L}
                THEN p.seq_id ELSE p.seq_id + 1 END,
           CASE WHEN p.seq_offset + p.t + least(d.n_tokens, {L}) <= {L}
                THEN p.seq_offset + p.t ELSE CAST(0 AS BIGINT) END,
           least(d.n_tokens, {L})
    FROM packed p JOIN docs d ON d.lang = p.lang AND d.rn = p.rn + 1
)
SELECT lang, doc_id, n_tokens, seq_id, seq_offset, t AS n_tokens_in_seq,
       n_tokens > {L} AS is_overlong
FROM packed
""").fetchall()
    want = sorted(map(tuple, oracle))
    got = sorted(
        (r["lang"], r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_offset"],
         r["n_tokens_in_seq"], r["is_overlong"])
        for r in out
    )
    assert got == want

    # overlong handling: 'flag' keeps full length alone in a window;
    # bad mode rejected
    flagged = pack_sequences_no_split(docs, seq_len=10, overlong="flag")
    solo = flagged.filter(F.col("is_overlong")).collect()
    assert solo and all(r["seq_offset"] == 0 and r["n_tokens_in_seq"] == r["n_tokens"] > 10 for r in solo)
    with pytest.raises(ValueError, match="overlong"):
        pack_sequences_no_split(docs, seq_len=10, overlong="drop")


def test_ingest_batch_composed_flow_equals_full_recompute(spark):
    """The composed per-batch ingest (exact anti-join → LSH-vs-index
    taint → batch-internal CC keepers) must keep EXACTLY the batch
    docs that full-corpus LSH + connected components +
    apply_dedup_keepers would keep on the union (corpus ids precede
    batch ids, so corpus-wins == min-id), and return consistent
    fp/band index deltas."""
    from gcp_dataengineering_spark.llm_ops.corpus import apply_dedup_keepers
    from gcp_dataengineering_spark.llm_ops.dedup import (
        dedup_exact,
        ingest_batch,
        lsh_candidate_pairs,
        minhash_band_rows,
        minhash_signatures,
        resolve_dup_groups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 400)
    novel = docs.filter(F.col("doc_id") >= 400)
    # near- (not exact-) copies: perturbed texts keep most shingles
    near_corpus = corpus.filter(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq extra tail")).alias("text"),
    )
    near_internal = novel.filter(F.col("doc_id") == 400).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq other tail")).alias("text"),
    )
    exact_cross = corpus.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 3000).alias("doc_id"), "text"
    )
    batch = (
        novel.unionByName(near_corpus)
        .unionByName(near_internal)
        .unionByName(exact_cross)
    )
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    app, new_fps, new_bands = ingest_batch(
        batch, dedup_exact(corpus), minhash_band_rows(corpus)
    )
    app_ids = {r["doc_id"] for r in app.select("doc_id").collect()}

    union = corpus.unionByName(batch)
    pairs_full = lsh_candidate_pairs(minhash_signatures(union))
    groups = resolve_dup_groups(union.select("doc_id"), pairs_full)
    kept_full = {
        r["doc_id"] for r in apply_dedup_keepers(union, groups).select("doc_id").collect()
    }
    assert app_ids == {i for i in kept_full if i in batch_ids}
    # planted shapes actually fired: exact and near corpus-dups gone,
    # internal near-pair kept only its lower id
    assert 3005 not in app_ids and 1000 not in app_ids and 1001 not in app_ids
    assert 400 in app_ids and 2400 not in app_ids
    # index deltas describe exactly the appendable rows
    assert new_fps.count() == len(app_ids)
    assert {r["doc_id"] for r in new_bands.select("doc_id").distinct().collect()} == app_ids


# ---------------------------------------------------------------- round 6: chunking
def test_chunk_docs_covers_every_token_without_gaps(spark):
    """Concatenating each chunk's NEW tokens (positions past the
    overlap carried from the previous chunk) reconstructs the doc's
    token stream exactly — full coverage, no gaps, no spillover."""
    from gcp_dataengineering_spark.llm_ops.corpus import chunk_docs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ch = chunk_docs(docs, chunk_tokens=32, overlap_tokens=8).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r.doc_id, []).append(r)
    raw = {r.doc_id: r.text.split() for r in docs.collect()}
    assert set(by_doc) == set(raw)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        toks = raw[doc_id]
        rebuilt = []
        for r in rows:
            assert r.start_tok == r.chunk_id * 24
            assert 0 < r.n_chunk_tokens <= 32 or (not toks and r.n_chunk_tokens == 0)
            new_from = 0 if r.chunk_id == 0 else 8
            chunk_toks = toks[r.start_tok : r.start_tok + r.n_chunk_tokens]
            # overlap prefix must equal the tail of what's been built
            assert rebuilt[r.start_tok :] == chunk_toks[:new_from]
            rebuilt.extend(chunk_toks[new_from:])
        assert rebuilt == toks


def test_chunk_docs_edge_cases(spark):
    from gcp_dataengineering_spark.llm_ops.corpus import chunk_docs

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three"), (4, None)],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): r
        for r in chunk_docs(df, chunk_tokens=4, overlap_tokens=1).collect()
    }
    # empty / whitespace-only / null docs each produce ONE empty chunk
    for d in (1, 2, 4):
        assert rows[(d, 0)].n_chunk_tokens == 0 and rows[(d, 0)].chunk_text == ""
    # a doc shorter than one window is a single chunk
    assert rows[(3, 0)].chunk_text == "one two three"
    assert len([k for k in rows if k[0] == 3]) == 1
    with pytest.raises(ValueError):
        chunk_docs(df, chunk_tokens=4, overlap_tokens=4)


def test_chunk_docs_respect_sentences_invariants(spark):
    """r12 sentence-boundary chunking: every non-final window's end
    either sits on a sentence-final token or there was no boundary
    inside the tolerance window; starts stay on the classic stride
    grid (chunk_id/start_tok identical to the classic mode); the
    coverage invariant survives the snap (tolerance ≤ overlap);
    tolerance > overlap and a negative tolerance are rejected. A
    pure-Python twin re-derives every snapped end."""
    import re

    from gcp_dataengineering_spark.llm_ops.corpus import (
        SENTENCE_END_RE,
        chunk_docs,
    )

    # the shared pattern is Java ∩ RE2 ∩ Python — compiles verbatim
    sent_re = re.compile(SENTENCE_END_RE)

    # synthetic punctuated corpus (the parquet fixture's documents
    # are punctuation-free word soup, where the snap can never fire)
    import random

    rng = random.Random(12)
    words = ["alpha", "beta", "gamma", "delta", "word", "text"]

    def doc(i):
        out = []
        for _ in range(rng.randint(0, 120)):
            w = rng.choice(words)
            roll = rng.random()
            if roll < 0.12:
                w += rng.choice([".", "!", "?", '."', ".)", "?'"])
            out.append(w)
        return (i, " ".join(out))

    docs = spark.createDataFrame(
        [doc(i) for i in range(40)] + [(99, "")], "doc_id long, text string"
    )
    chunk, overlap, tol = 32, 8, 8
    snapped = chunk_docs(
        docs, chunk_tokens=chunk, overlap_tokens=overlap,
        respect_sentences=True,
    ).collect()
    classic = chunk_docs(docs, chunk_tokens=chunk, overlap_tokens=overlap).collect()
    assert {(r.doc_id, r.chunk_id, r.start_tok) for r in snapped} == {
        (r.doc_id, r.chunk_id, r.start_tok) for r in classic
    }
    raw = {r.doc_id: r.text.split() for r in docs.collect()}
    stride = chunk - overlap
    n_snaps = 0
    by_doc = {}
    for r in snapped:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        toks = raw[doc_id]
        n = len(toks)
        covered = set()
        for r in rows:
            start = r.chunk_id * stride
            hi = min(start + chunk, n)
            is_last = hi >= n
            # python twin: last sentence-final position in (hi-tol, hi]
            want_end = hi
            if not is_last:
                for p in range(hi, max(hi - tol, 0), -1):
                    if sent_re.search(toks[p - 1]):
                        want_end = p
                        break
            assert r.n_chunk_tokens == want_end - start, (doc_id, r.chunk_id)
            if want_end != hi:
                n_snaps += 1
                assert sent_re.search(toks[want_end - 1])
            assert r.chunk_text == " ".join(toks[start:want_end])
            covered.update(range(start, want_end))
        assert covered == set(range(n)), doc_id  # full coverage survives
    assert n_snaps > 0  # the fixture corpus actually exercises the snap

    with pytest.raises(ValueError, match="sentence_tolerance"):
        chunk_docs(docs, chunk_tokens=32, overlap_tokens=8,
                   respect_sentences=True, sentence_tolerance=9)
    with pytest.raises(ValueError, match=">= 0"):
        chunk_docs(docs, chunk_tokens=32, overlap_tokens=8,
                   respect_sentences=True, sentence_tolerance=-1)
    # tolerance 0 (or overlap 0) degrades to the classic cut exactly
    t0 = chunk_docs(docs, chunk_tokens=32, overlap_tokens=8,
                    respect_sentences=True, sentence_tolerance=0).collect()
    assert {(r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
            for r in t0} == {
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in classic
    }


def test_chunk_docs_no_fully_contained_chunk(spark):
    """A doc whose tail would start inside the final overlap must NOT
    emit a redundant chunk: n = 33, chunk 32/overlap 8 → the 1 token
    past the window fits in chunk 1 (starts at 24), not a chunk 2."""
    from gcp_dataengineering_spark.llm_ops.corpus import chunk_docs

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(33)))], "doc_id long, text string"
    )
    rows = chunk_docs(df, chunk_tokens=32, overlap_tokens=8).collect()
    assert sorted(r.chunk_id for r in rows) == [0, 1]
    last = max(rows, key=lambda r: r.chunk_id)
    assert last.start_tok == 24 and last.n_chunk_tokens == 9


# ---------------------------------------------------------------- round 6: source reputation
def test_source_reputation_filter_integer_verdicts(spark):
    from gcp_dataengineering_spark.llm_ops.corpus import source_reputation_filter

    rows = []
    # srcA: 3/4 pass (75%), srcB: 1/4 (25%), srcC: exactly 2/4 (50%)
    for i, (src, ok) in enumerate(
        [("a", True), ("a", True), ("a", True), ("a", False),
         ("b", True), ("b", False), ("b", False), ("b", False),
         ("c", True), ("c", True), ("c", False), ("c", False),
         ("d", True)]
    ):
        rows.append((i, src, ok))
    df = spark.createDataFrame(rows, "doc_id long, source string, ok boolean")

    kept = source_reputation_filter(df, "ok", min_pass_pct=50)
    srcs = {r.source for r in kept.select("source").distinct().collect()}
    # 50% is inclusive (integer >=): c survives at exactly half
    assert srcs == {"a", "c", "d"}

    kept51 = source_reputation_filter(df, "ok", min_pass_pct=51)
    assert {r.source for r in kept51.select("source").distinct().collect()} == {"a", "d"}

    # min_docs drops the single-doc source regardless of pass rate
    kept_min = source_reputation_filter(df, "ok", min_pass_pct=50, min_docs=2)
    assert {r.source for r in kept_min.select("source").distinct().collect()} == {"a", "c"}

    # row passthrough: surviving sources keep ALL their rows (page-level
    # filtering is a separate step)
    assert kept.filter(F.col("source") == "a").count() == 4


# ---------------------------------------------------------------- round 6: PQ
def test_pq_subvectors_cover_all_dims_even_when_indivisible(spark):
    from gcp_dataengineering_spark.llm_ops.similarity import (
        pq_subvectors,
        quantize_fixed,
    )

    df = spark.createDataFrame(
        [(1, [float(i) / 7 for i in range(10)])],
        "vec_id long, embedding array<float>",
    )
    rows = pq_subvectors(df, m=4).collect()
    assert len(rows) == 4
    lens = {r.sub: len(r.svq) for r in rows}
    # dim 10, m=4 → ds=2; trailing 4 dims all land in the last subspace
    assert lens == {0: 2, 1: 2, 2: 2, 3: 4}
    flat = [v for sub in range(4) for v in dict((r.sub, r.svq) for r in rows)[sub]]
    full = df.select(quantize_fixed(F.col("embedding")).alias("vq")).first().vq
    assert flat == full


def test_pq_codes_complete_and_deterministic(spark):
    from gcp_dataengineering_spark.llm_ops.similarity import pq_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    codes1, cb1 = pq_index(emb, m=4, n_clusters=8, n_iter=2)
    codes2, _ = pq_index(emb, m=4, n_clusters=8, n_iter=2)
    assert codes1.count() == n * 4
    assert codes1.exceptAll(codes2).count() == 0 and codes2.exceptAll(codes1).count() == 0
    cb = cb1.collect()
    assert len(cb) <= 4 * 8
    assert all(len({len(r.cq_arr) for r in cb if r.sub == s}) == 1 for s in range(4))
    with pytest.raises(ValueError):
        pq_index(emb, m=0)


def test_pq_adc_shortlist_beats_random_and_rerank_recovers(spark):
    """The honest PQ claim on near-random synthetic embeddings: the
    ADC shortlist concentrates true neighbors far above chance, and
    exact rerank over the shortlist recovers most of the brute-force
    cosine top-5 while reading vectors for only shortlist × queries
    candidates. (Absolute ADC-top-5 recall is low on unclusterable
    data — that is a property of the data, not the operator, and the
    shortlist+rerank composition is how PQ is deployed anyway.)"""
    from gcp_dataengineering_spark.llm_ops.similarity import (
        cosine_topk_bruteforce,
        pq_index,
        pq_topk_rerank,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    codes, cb = pq_index(emb, m=8, n_clusters=16, n_iter=2)
    rr = pq_topk_rerank(emb, codes, cb, queries, m=8, k=5, shortlist=50).collect()
    got = {}
    for r in rr:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(got[q] & truth[q]) for q in truth) / (5 * len(truth))
    # random 50-of-499 shortlist would keep ~10% of the true top-5;
    # ADC measured ~0.68 — the bar is 4x chance with slack for seed
    # sensitivity, not a tuned number
    assert recall >= 0.40, f"shortlist+rerank recall {recall:.2f}"
    # rerank output is exact cosine over its candidates: every hit it
    # shares with brute force reports the identical rounded cosine
    exact_cos = {(r.query_id, r.neighbor_id): r.cos for r in exact}
    for r in rr:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(r.cos - exact_cos[(r.query_id, r.neighbor_id)]) < 1e-9


# ---------------------------------------------------------------- round 6: plan receipts
def test_round6_operator_plan_shapes(spark):
    """Plan receipts for the round-6 operators (re-verified every
    run): chunking is shuffle-free; the source gate's join back is a
    broadcast left-semi (the corpus never shuffles for the verdict);
    compaction's agg form shuffles ONCE with a map-side partial max;
    PQ ADC search has no sort-merge join and no cartesian product —
    codes meet the lookup table by broadcast."""
    from gcp_dataengineering_spark.llm_ops.corpus import (
        chunk_docs,
        source_reputation_filter,
    )
    from gcp_dataengineering_spark.llm_ops.similarity import pq_index, pq_topk_adc
    from gcp_dataengineering_spark.ops.compaction import latest_by_key_agg

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def planstr(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = planstr(chunk_docs(docs, 32, 8))
    assert "Exchange" not in p and "Join" not in p, p

    flagged = docs.withColumn("ok", F.length("text") >= 100)
    p = planstr(source_reputation_filter(flagged, "ok"))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p, p
    # the corpus-side scan feeds the semi join without an exchange:
    # the only exchange in the plan belongs to the tiny verdict agg
    assert p.count("Exchange hashpartitioning") == 1, p

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = planstr(latest_by_key_agg(ev, ["user_id"], ["event_id"]))
    assert p.count("Exchange hashpartitioning") == 1, p
    # struct-max lowers to SortAggregate (struct isn't a mutable agg
    # buffer), but the scale property holds: a partial_max collapses
    # each task's rows BEFORE the exchange
    assert "partial_max(struct" in p, p
    assert p.index("partial_max") > p.index("Exchange"), p  # partial below exchange in tree

    codes, cb = pq_index(emb, m=4, n_clusters=8, n_iter=1)
    p = planstr(pq_topk_adc(codes, cb, emb.filter(F.col("vec_id") < 5), m=4, k=3))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


# ---------------------------------------------------------------- round 6: source caps
def test_cap_source_tokens_greedy_prefix_and_duckdb_replay(spark):
    """Per-source token cap: kept set is exactly the greedy doc_id
    prefix whose inclusive cumulative sum fits the cap — replayed in
    DuckDB over the real documents table — and a source under the cap
    keeps everything."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.corpus import cap_source_tokens
    from gcp_dataengineering_spark.llm_ops.text import whitespace_token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = docs.withColumn("n_tokens", whitespace_token_count("text").cast("long"))
    capped = cap_source_tokens(d, max_tokens=600)
    got = sorted(r.doc_id for r in capped.select("doc_id").collect())

    want = [
        r[0]
        for r in duckdb.sql("""
            SELECT doc_id FROM (
                SELECT doc_id,
                       SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                           x -> x <> '')))
                           OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
                FROM '/root/testdata/sf0.001/documents.parquet'
            ) WHERE cum <= 600 ORDER BY doc_id
        """).fetchall()
    ]
    assert got == want and 0 < len(got) < docs.count()

    # a generous cap is a no-op
    assert cap_source_tokens(d, max_tokens=10**9).count() == docs.count()


def test_persisted_pq_index_matches_inmemory_and_plan(spark):
    """PQ lifecycle: persist_pq_index → pq_topk_adc_from_tables must
    equal the in-memory composition exactly (the build is
    deterministic, so stored and fresh codes are the same rows), and
    the stored-index search plan must stay broadcast-shaped: no
    sort-merge join, no cartesian product, no exchange of the code
    table before the score aggregation."""
    from gcp_dataengineering_spark.llm_ops.similarity import (
        persist_pq_index,
        pq_index,
        pq_topk_adc,
        pq_topk_adc_from_tables,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    try:
        codes_t, cb_t = persist_pq_index(emb, "pq_test", m=4, n_clusters=8, n_iter=1)
        stored = pq_topk_adc_from_tables(spark, codes_t, cb_t, queries, m=4, k=5)
        plan = stored._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        got = sorted(map(tuple, stored.collect()))
        codes, cb = pq_index(emb, m=4, n_clusters=8, n_iter=1)
        want = sorted(map(tuple, pq_topk_adc(codes, cb, queries, m=4, k=5).collect()))
        assert got == want and len(got) == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS pq_test_codes")
        spark.sql("DROP TABLE IF EXISTS pq_test_codebook")


def test_keep_top_fraction_by_score_duckdb_replay(spark):
    """Adaptive integer-quantile gate: the kept set equals DuckDB's
    replay of the same histogram arithmetic on the real documents
    table, the kept fraction is >= the request, ties at the
    threshold all survive, and min_score floors the cutoff."""
    import duckdb
    import math

    from gcp_dataengineering_spark.llm_ops.corpus import keep_top_fraction_by_score
    from gcp_dataengineering_spark.llm_ops.text import whitespace_token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = docs.withColumn("score", whitespace_token_count("text").cast("long"))
    n = d.count()
    kept = keep_top_fraction_by_score(d, "score", keep_pct=30)
    got = sorted(r.doc_id for r in kept.select("doc_id").collect())

    want = [
        r[0]
        for r in duckdb.sql("""
            WITH s AS (
                SELECT doc_id,
                       len(list_filter(regexp_split_to_array(text, '\\s+'),
                                       x -> x <> '')) AS score
                FROM '/root/testdata/sf0.001/documents.parquet'
            ), h AS (
                SELECT score, COUNT(*) AS cnt FROM s GROUP BY score
            ), c AS (
                SELECT score,
                       SUM(cnt) OVER (ORDER BY score DESC
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(cnt) OVER () AS total
                FROM h
            ), t AS (
                SELECT MAX(score) AS thr FROM c
                WHERE cum >= (total * 30 + 99) // 100
            )
            SELECT doc_id FROM s, t WHERE score >= thr ORDER BY doc_id
        """).fetchall()
    ]
    assert got == want
    assert len(got) >= math.ceil(n * 0.30)
    # every row tied with the threshold survives
    thr = min(r.score for r in kept.select("score").collect())
    assert kept.filter(F.col("score") == thr).count() == d.filter(
        F.col("score") == thr
    ).count()
    # floor overrides a low data-derived cutoff
    floored = keep_top_fraction_by_score(d, "score", keep_pct=100, min_score=10**6)
    assert floored.count() == 0
    with pytest.raises(ValueError):
        keep_top_fraction_by_score(d, "score", keep_pct=0)


# ---------------------------------------------------------------- round 6: vocab apply + LM score
def test_tokens_to_ids_duckdb_replay_and_oov(spark):
    """Id-ification: sequences match a DuckDB replay of the same
    vocab join on the real documents table (order preserved, OOV →
    -1), and empty docs yield empty sequences."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.text import tokens_to_ids, vocab_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = vocab_table(docs, k=20)
    vrows = vocab.collect()
    assert [r.token_id for r in sorted(vrows, key=lambda r: r.token_id)] == list(range(20))

    out = tokens_to_ids(docs, vocab)
    got = {r.doc_id: (list(r.token_ids), r.n_tokens, r.n_oov) for r in out.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v AS SELECT * FROM (VALUES "
        + ", ".join(f"('{r.token}', {r.token_id})" for r in vrows)
        + ") t(token, token_id)"
    )
    want = {
        r[0]: (list(r[1]), r[2], r[3])
        for r in con.execute("""
            WITH t AS (
                SELECT doc_id, r.i AS pos, toks[r.i + 1] AS token
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(lower(text), '[^a-zA-Z0-9]+'),
                                         x -> x <> '') AS toks
                      FROM '/root/testdata/sf0.001/documents.parquet'),
                     unnest(range(len(toks))) AS r(i)
            )
            SELECT doc_id,
                   array_agg(coalesce(token_id, -1) ORDER BY pos) AS ids,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
            FROM t LEFT JOIN v USING (token)
            GROUP BY doc_id
        """).fetchall()
    }
    # DuckDB's group-by drops zero-token docs; Spark's posexplode_outer keeps them
    for d, vals in want.items():
        assert got[d] == vals, (d, got[d], vals)
    for d in set(got) - set(want):
        assert got[d] == ([], 0, 0)

    empty = spark.createDataFrame([(99, "")], "doc_id long, text string")
    r = tokens_to_ids(empty, vocab).collect()[0]
    assert list(r.token_ids) == [] and r.n_tokens == 0 and r.n_oov == 0


def test_unigram_logprob_orders_fluency(spark):
    """The corpus-LM score: a doc of the corpus's most common tokens
    outscores a doc of rare/unseen tokens; values match a numpy
    replay of the Laplace-smoothed unigram model."""
    import math

    from gcp_dataengineering_spark.llm_ops.text import unigram_logprob

    rows = [
        (1, "the the the cat cat"),
        (2, "the cat sat"),
        (3, "zyzzyva qwfp xkcd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}

    # numpy replay
    toks = {d: t.split() for d, t in rows}
    from collections import Counter

    tf = Counter(t for ts in toks.values() for t in ts)
    total, v = sum(tf.values()), len(tf)
    for d, ts in toks.items():
        want = sum(math.log((tf[t] + 1) / (total + v)) for t in ts) / len(ts)
        assert abs(got[d].mean_logprob - want) < 1e-9
        assert got[d].n_tokens == len(ts)
    assert got[1].mean_logprob > got[2].mean_logprob > got[3].mean_logprob


def test_sample_k_per_group_exact_and_stable(spark):
    """Exactly min(k, group size) per group, deterministic across
    runs, stable for survivors when the corpus grows (a kept doc can
    drop out only by being out-ranked, never by reshuffling)."""
    from gcp_dataengineering_spark.llm_ops.corpus import sample_k_per_group

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s = sample_k_per_group(docs, k=7)
    per = {r.source: r.n for r in s.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {src: min(7, n) for src, n in sizes.items()}
    ids1 = sorted(r.doc_id for r in s.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in sample_k_per_group(docs, k=7).select("doc_id").collect())
    assert ids1 == ids2

    # sample from half the corpus: every sampled doc that is also
    # sampled from the full corpus has the same hash rank path — the
    # half-corpus sample of a group is a superset of the full-corpus
    # sample restricted to that half's members only when ranks allow;
    # the invariant we pin: full-corpus survivors present in the half
    # corpus are still sampled there (rank can only improve)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    half_ids = {r.doc_id for r in sample_k_per_group(half, k=7).select("doc_id").collect()}
    full_even = {i for i in ids1 if i % 2 == 0}
    assert full_even <= half_ids


def test_tfidf_keywords_duckdb_replay(spark):
    """Per-doc top-5 tf-idf keywords equal a DuckDB replay (same
    integer tf/df, same single-float score, same tiebreak) on the
    real documents table."""
    import duckdb

    from gcp_dataengineering_spark.llm_ops.text import tfidf_keywords

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        (r.doc_id, r.token, r.tf, r.df_docs, r.tfidf)
        for r in tfidf_keywords(docs, top_j=5).collect()
    )
    want = sorted(
        (r[0], r[1], r[2], r[3], r[4])
        for r in duckdb.sql("""
            WITH tok AS (
                SELECT doc_id, u.token
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                         x -> x <> '') AS toks
                      FROM '/root/testdata/sf0.001/documents.parquet'),
                     unnest(toks) AS u(token)
            ), tf AS (
                SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                FROM tok GROUP BY 1, 2
            ), dfq AS (
                SELECT token, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1
            ), n AS (
                SELECT COUNT(*) AS n_docs
                FROM '/root/testdata/sf0.001/documents.parquet'
            ), scored AS (
                SELECT doc_id, token, tf, df_docs,
                       tf * ln(CAST(n_docs AS DOUBLE) / df_docs) AS tfidf
                FROM tf JOIN dfq USING (token), n
            )
            SELECT doc_id, token, tf, df_docs, ROUND(tfidf, 4) AS tfidf
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY tfidf DESC, token ASC) AS rk
                FROM scored
            ) WHERE rk <= 5
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_corpus_diff_statuses(spark):
    from gcp_dataengineering_spark.llm_ops.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma prime"), (4, "delta")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # whitespace-normalized equality (the fingerprint contract)
    new2 = spark.createDataFrame([(2, "  beta  ")], "doc_id long, text string")
    got2 = {r.doc_id: r.status for r in corpus_diff(old.filter(F.col("doc_id") == 2), new2).collect()}
    assert got2 == {2: "unchanged"}


def test_chunk_docs_param_grid_invariants(spark):
    """Window-arithmetic invariants over a (doc-length × chunk ×
    overlap) grid: chunk count matches the closed form, every token
    covered exactly once outside overlaps, offsets stride correctly,
    and the final chunk always reaches the end of the doc."""
    from gcp_dataengineering_spark.llm_ops.corpus import chunk_docs

    lengths = [0, 1, 7, 8, 9, 16, 17, 31, 32, 33, 63, 64, 65, 100]
    docs = spark.createDataFrame(
        [(n, " ".join(f"t{i}" for i in range(n))) for n in lengths],
        "doc_id long, text string",
    )
    for chunk, overlap in [(8, 0), (8, 2), (16, 8), (32, 8), (32, 31)]:
        stride = chunk - overlap
        rows = chunk_docs(docs, chunk, overlap).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for n in lengths:
            got = sorted(by_doc[n], key=lambda r: r.chunk_id)
            want_chunks = max(1, -(-max(n - overlap, 0) // stride)) if n > 0 else 1
            assert len(got) == want_chunks, (n, chunk, overlap, len(got))
            for j, r in enumerate(got):
                assert r.chunk_id == j and r.start_tok == j * stride
                assert r.n_chunk_tokens == max(0, min(chunk, n - j * stride))
            last = got[-1]
            assert last.start_tok + last.n_chunk_tokens == n or n == 0


def test_text_ops_broadcast_plan_shapes(spark):
    """tokens_to_ids and tfidf_keywords must meet their small side by
    broadcast: the corpus never shuffles for the vocab/idf lookup (no
    sort-merge join anywhere in either plan)."""
    from gcp_dataengineering_spark.llm_ops.text import (
        tfidf_keywords,
        tokens_to_ids,
        vocab_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = (
        tokens_to_ids(docs, vocab_table(docs, k=50))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    p2 = tfidf_keywords(docs)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p2, p2
    assert "BroadcastHashJoin" in p2, p2


def test_split_leakage_report_catches_cross_split_dups(spark):
    """Embedding-level leakage audit: an eval vector identical to a
    train vector is reported (identical vectors share every LSH
    bucket — guaranteed candidate), a same-split duplicate is NOT
    (not leakage), and nothing below the threshold appears (numpy
    cross-check on the full cross-split pair set)."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.similarity import split_leakage_report

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((12, 16)).astype("float32")
    vecs[7] = vecs[1]   # eval copy of a train vector  -> leakage
    vecs[11] = vecs[10] # two train twins              -> not leakage
    rows = [
        (i, [float(x) for x in vecs[i]], "train" if i < 7 or i >= 10 else "test")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, split string")
    rep = split_leakage_report(df, threshold=0.95, dim=16).collect()
    pairs = {(r.id_a, r.id_b) for r in rep}
    assert (1, 7) in pairs
    assert (10, 11) not in pairs
    # no false positives: every reported pair really is cross-split
    # with cosine >= threshold
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for r in rep:
        assert r.split_a != r.split_b
        assert float(norm[r.id_a] @ norm[r.id_b]) >= 0.95 - 1e-6


def test_resize_images_plan_arithmetic_and_stub(spark):
    """Resize plumbing: real header parse + exact aspect-preserving
    target dims over spec-valid synthesized images; garbage rows pass
    through quarantined; header-only bodies quarantine on the no-PIL
    vendored legs instead of failing the job (r15)."""
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        _fit_within,
        resize_images,
        synth_image_corpus,
    )

    assert _fit_within(1000, 500, 224) == (224, 112)
    assert _fit_within(500, 1000, 224) == (112, 224)
    assert _fit_within(100, 50, 224) == (100, 50)      # never upscale
    assert _fit_within(10000, 3, 224) == (224, 1)      # 1px floor

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(24)
    media = synth_image_corpus(docs)
    out = {r.media_id: r for r in resize_images(media, max_side=64, fake=True).collect()}
    assert len(out) == 24
    for r in out.values():
        assert r.fmt in ("png", "jpeg", "gif")
        assert max(r.out_width, r.out_height) <= max(64, 1)
        if max(r.width, r.height) > 64:
            assert max(r.out_width, r.out_height) == 64
        else:
            assert (r.out_width, r.out_height) == (r.width, r.height)
        assert r.payload_out is not None and len(r.payload_out) == 16  # md5 stamp

    garbage = spark.createDataFrame(
        [(99, bytearray(b"not an image"))], "media_id long, payload binary"
    )
    g = resize_images(garbage, fake=True).collect()[0]
    assert g.fmt is None and bytes(g.payload_out) == b"not an image"

    # r12: fake=False probes for PIL inside the UDF. With Pillow
    # present the REAL resample runs (round-trip decodable, exact
    # target dims); without it (r15) every sniffable format routes
    # through a vendored leg — and these synth payloads are
    # HEADER-ONLY by design (filler bodies), so each one fails its
    # vendored decode and QUARANTINES (fmt NULL, payload untouched)
    # instead of failing the job. Both branches are pinned — the
    # test adapts to the environment it runs in.
    lazy = resize_images(media, max_side=64, fake=False)  # planning is fine
    try:
        from PIL import Image as _Image  # noqa: N811
    except ImportError:
        _Image = None
    if _Image is None:
        rows = {r.media_id: r for r in lazy.collect()}
        assert len(rows) == 24
        orig = {r.media_id: bytes(r.payload) for r in media.collect()}
        for mid, r in rows.items():
            assert r.fmt is None and r.out_width is None
            assert bytes(r.payload_out) == orig[mid]
    else:
        # with a real codec, feed REAL decodable images (the synth
        # corpus is header-only by design — enough for the stub and
        # the header parse, not for a pixel resample) and round-trip
        # the output through PIL: exact target dims, same format
        import io as _io

        def png_jpg_gif(i, fmt, size):
            img = _Image.new("RGB", size, (i * 7 % 255, 10, 200))
            buf = _io.BytesIO()
            img.save(buf, format=fmt)
            return (i, bytearray(buf.getvalue()))

        realmedia = spark.createDataFrame(
            [png_jpg_gif(1, "PNG", (300, 100)),
             png_jpg_gif(2, "JPEG", (100, 300)),
             png_jpg_gif(3, "GIF", (40, 30))],
            "media_id long, payload binary",
        )
        real = {
            r.media_id: r
            for r in resize_images(realmedia, max_side=64, fake=False).collect()
        }
        assert {r.fmt for r in real.values()} == {"png", "jpeg", "gif"}
        assert (real[1].out_width, real[1].out_height) == (64, 21)
        assert (real[2].out_width, real[2].out_height) == (21, 64)
        assert (real[3].out_width, real[3].out_height) == (40, 30)  # no upscale
        for r in real.values():
            img = _Image.open(_io.BytesIO(bytes(r.payload_out)))
            assert img.size == (r.out_width, r.out_height)
            assert img.format.lower() == r.fmt


def test_source_reputation_filter_null_source_group(spark):
    """A NULL source is a legitimate reputation group: its rows
    survive when the group passes the bar and are dropped when it
    fails — not silently dropped by join-on-equality semantics."""
    from gcp_dataengineering_spark.llm_ops.corpus import source_reputation_filter

    df = spark.createDataFrame(
        [(1, None, True), (2, None, True), (3, "a", False), (4, "a", False)],
        "doc_id long, source string, ok boolean",
    )
    kept = {r.doc_id for r in source_reputation_filter(df, "ok", min_pass_pct=50).collect()}
    assert kept == {1, 2}
    none_pass = df.withColumn("ok", F.lit(False))
    assert source_reputation_filter(none_pass, "ok", min_pass_pct=50).count() == 0


def test_corpus_diff_null_text(spark):
    """NULL-text docs diff by PRESENCE, not by fingerprint
    nullability: unchanged when on both sides, removed when only in
    old, changed when text appears."""
    from gcp_dataengineering_spark.llm_ops.corpus import corpus_diff

    old = spark.createDataFrame([(1, None), (2, None), (3, "x")], "doc_id long, text string")
    new = spark.createDataFrame([(1, None), (3, None)], "doc_id long, text string")
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "removed", 3: "changed"}


def test_ivf_pq_equals_adc_over_probed_subset(spark):
    """IVF-PQ is exactly 'ADC ranking restricted to the probed
    posting lists': recompute the candidate sets and the full ADC
    scores independently and check the composition returns the
    top-k of their intersection, bit-for-bit (both builds are
    deterministic)."""
    from gcp_dataengineering_spark.llm_ops.similarity import (
        cosine,
        cosine_topk_ivf_pq,
        ivf_index,
        pq_index,
        pq_topk_adc,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    got = cosine_topk_ivf_pq(
        emb, queries, k=5, nprobe=3, n_clusters=8, m=4, pq_clusters=8
    ).collect()

    # reference: candidates per query via the same IVF build
    assigned, centroids = ivf_index(emb, 8)
    from pyspark.sql import Window

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    wq = Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("cluster").asc())
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("c_cos", cosine(F.col("q_vec"), F.col("centroid")))
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= 3)
        .select("query_id", "cluster")
    )
    cand = {
        (r.query_id, r.vec_id)
        for r in assigned.join(probes, "cluster").select("query_id", "vec_id").collect()
    }
    # full ADC scores from the same PQ build
    codes, cb = pq_index(emb, m=4, n_clusters=8)
    full = pq_topk_adc(codes, cb, queries, m=4, k=10**6).collect()
    best = {}
    for r in full:
        if (r.query_id, r.neighbor_id) in cand and r.neighbor_id != r.query_id:
            best.setdefault(r.query_id, []).append((r.adc, r.neighbor_id))
    want = []
    for qid, lst in best.items():
        for rank, (adc, nid) in enumerate(sorted(lst)[:5], 1):
            want.append((qid, nid, rank, adc))
    assert sorted(map(tuple, got)) == sorted(want) and len(got) > 0


def test_normalize_text_matches_fingerprint_contract(spark):
    from gcp_dataengineering_spark.llm_ops.text import fingerprint, normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!  \t new"), (2, None)], "doc_id long, text string"
    )
    r = df.select(
        normalize_text("text").alias("norm"),
        F.md5(normalize_text("text").cast("binary")).alias("h"),
        fingerprint("text").alias("fp"),
        normalize_text("text", strip_punct=True).alias("np"),
    ).collect()
    assert r[0].norm == "hello, world! new"
    assert r[0].h == r[0].fp  # default normalize == the fingerprint contract
    assert r[0].np == "hello world new"
    assert r[1].norm is None and r[1].fp is None


# ---------------------------------------------------------------- BPE apply
def _classic_bpe(word, ranks):
    """The classic sequential algorithm (Sennrich-style apply): merge
    ALL non-overlapping occurrences of the lowest-ranked applicable
    pair, leftmost first, until no rule applies. The engine's
    parallel local-minimum rounds must reach the identical fixpoint."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        out, i = [], 0
        while i < len(syms):
            if (
                i < len(syms) - 1
                and ranks.get((syms[i], syms[i + 1])) == best
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _merge_word(syms, pair):
    out, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_bpe(word_counts, n_merges):
    """Tiny classic BPE trainer (most frequent pair wins, tiebreak
    lexicographic) — produces a VALID multi-level merge list."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        pair_counts = {}
        for w, c in word_counts.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], rank))
        for w in vocab:
            vocab[w] = _merge_word(vocab[w], best)
    return merges


def test_bpe_apply_words_matches_classic_reference(spark):
    """Handcrafted MULTI-LEVEL vocabulary (rules consuming outputs of
    lower-ranked rules) over edge-shaped words: same-pair runs
    ('aaa', 'aaaa'), alternations, single chars, rule chains."""
    from gcp_dataengineering_spark.llm_ops.bpe import bpe_apply_words

    merges = [
        ("a", "a", 1),
        ("l", "o", 2),
        ("lo", "w", 3),
        ("e", "r", 4),
        ("low", "er", 5),
        ("aa", "b", 6),
    ]
    ranks = {(l, r): k for l, r, k in merges}
    words = [
        "lower", "lowest", "low", "newer", "wider", "l", "aaa", "aaaa",
        "aaab", "abab", "aab", "baaab", "lowerlower", "ooo",
    ]
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    mdf = spark.createDataFrame(merges, "left string, right string, rank long")
    got = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_words(wdf, mdf).collect()
    }
    for w in words:
        assert got[w] == _classic_bpe(w, ranks), w
    # sanity: multi-level rules actually fired
    assert got["lower"] == ["lower"]
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aab"] == ["aab"]  # (a,a) then the LEVEL-2 rule (aa,b)

    # the r8 hypothesis counterexample, pinned deterministically: a
    # neighbor's merge CASCADE creates a lower-ranked overlapping
    # pair, so (a,a) — despite having no ranked neighbor up front —
    # must NOT merge ('aacb' -> a, acb; a naive local-minimum
    # parallel rule produced aa, cb)
    cascade = [("c", "b", 1), ("a", "cb", 2), ("a", "a", 3)]
    cdf = spark.createDataFrame(cascade, "left string, right string, rank long")
    cranks = {(l, r): k for l, r, k in cascade}
    cgot = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_words(
            spark.createDataFrame([("aacb",), ("aacbaa",)], "word string"), cdf
        ).collect()
    }
    assert cgot["aacb"] == _classic_bpe("aacb", cranks) == ["a", "acb"]
    assert cgot["aacbaa"] == _classic_bpe("aacbaa", cranks)


def test_bpe_encode_real_corpus_matches_python(spark):
    """Train a 40-rule multi-level vocabulary on the real sf0.001
    documents with a classic Python trainer, apply the engine, and
    replay every document with the classic sequential encoder —
    token-for-token equality."""
    from collections import Counter

    from gcp_dataengineering_spark.llm_ops.bpe import bpe_encode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    import re as _re

    def words_of(text):
        return [
            w
            for w in _re.split("[^a-z]+", (text or "").lower())
            if w and len(w) <= 64
        ]

    counts = Counter(w for r in rows for w in words_of(r["text"]))
    merges = _train_bpe(counts, 40)
    ranks = {(l, r): k for l, r, k in merges}
    assert any(len(l) > 1 or len(r) > 1 for l, r, _ in merges), (
        "fixture must exercise multi-level merges"
    )
    mdf = spark.createDataFrame(merges, "left string, right string, rank long")
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(docs, mdf).collect()
    }
    assert len(got) == len(rows)
    for r in rows:
        want = [
            t for w in words_of(r["text"]) for t in _classic_bpe(w, ranks)
        ]
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_bpe_convergence_guard_and_empty_docs(spark):
    from gcp_dataengineering_spark.llm_ops.bpe import bpe_apply_words, bpe_encode

    # rounds = the deepest word's sequential merge depth: a 3-level
    # chain vocabulary needs 3 rounds (+1 fixpoint probe); a tight
    # cap must fail loud, the default must converge to the classic
    # result
    chain = spark.createDataFrame(
        [("a", "a", 1), ("aa", "aa", 2), ("aaaa", "aaaa", 3)],
        "left string, right string, rank long",
    )
    wdf = spark.createDataFrame([("a" * 16,)], "word string")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="max_rounds"):
        bpe_apply_words(wdf, chain, max_rounds=2).collect()
    deep = bpe_apply_words(wdf, chain).collect()
    assert list(deep[0]["tokens"]) == ["a" * 8, "a" * 8]

    mdf = spark.createDataFrame(
        [("a", "a", 1)], "left string, right string, rank long"
    )

    # empty / no-letter docs come back with EMPTY (not null) tokens;
    # over-long words are dropped by the straggler cap
    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "123 !!!"), (3, None), (4, "x" * 100 + " aa")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(docs, mdf, max_word_len=64).collect()
    }
    assert out[1] == ["aa", "b", "b", "aa"]  # only (a,a) is a rule
    assert out[2] == [] and out[3] == []
    assert out[4] == ["aa"]
    with _pytest.raises(ValueError, match="max_word_len"):
        bpe_encode(docs, mdf, max_word_len=0)


def test_bpe_train_matches_python_trainer(spark):
    """The distributed trainer must learn the IDENTICAL rank-ordered
    merge list as the classic sequential Python trainer — same pair
    counts (weighted, overlapping occurrences included), same
    (count desc, pair asc) tiebreak, same one-step non-overlapping
    merge semantics (incl. the 'aaaa' run parity)."""
    from collections import Counter

    from gcp_dataengineering_spark.llm_ops.bpe import bpe_encode, bpe_train

    # handcrafted: runs + ties exercise the one-step parity and the
    # lexicographic tiebreak
    docs = spark.createDataFrame(
        [
            (1, "aaaa aaaa banana"),
            (2, "banana bandana"),
            (3, "aa abab"),
        ],
        "doc_id long, text string",
    )
    got = bpe_train(docs, 6)
    counts = Counter()
    import re as _re

    for _, t in [(1, "aaaa aaaa banana"), (2, "banana bandana"), (3, "aa abab")]:
        for w in _re.split("[^a-z]+", t.lower()):
            if w and len(w) <= 64:
                counts[w] += 1
    assert got == _train_bpe(counts, 6)

    # real corpus, multi-level depth
    rdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = rdocs.select("text").collect()
    rcounts = Counter(
        w
        for r in rows
        for w in _re.split("[^a-z]+", (r["text"] or "").lower())
        if w and len(w) <= 64
    )
    want = _train_bpe(rcounts, 25)
    learned = bpe_train(rdocs, 25)
    assert learned == want
    assert any(len(l) > 1 or len(r) > 1 for l, r, _ in learned)

    # the learned list is a VALID merge table for the apply engine:
    # train -> encode round-trips through bpe_encode without error
    mdf = spark.createDataFrame(learned, "left string, right string, rank long")
    out = bpe_encode(rdocs.limit(20), mdf)
    assert out.count() == 20

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, 0)


def test_bpe_apply_matches_classic_property(spark):
    """Property check: a VALID merge list (trained by the classic
    Python trainer on one random word set — validity is a property
    of the list, independent of what it is later applied to) applied
    by the engine to a DIFFERENT random word set must equal the
    classic sequential encoder word-for-word. Alphabet of 3 letters
    maximizes run/overlap/tie collisions."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gcp_dataengineering_spark.llm_ops.bpe import bpe_apply_words

    word = st.text(alphabet="abc", min_size=1, max_size=10)

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(word, min_size=1, max_size=8),
        st.lists(word, min_size=1, max_size=10),
        st.integers(min_value=1, max_value=8),
    )
    def check(train_words, apply_words, n_merges):
        merges = _train_bpe(Counter(train_words), n_merges)
        if not merges:
            return
        ranks = {(l, r): k for l, r, k in merges}
        mdf = spark.createDataFrame(
            merges, "left string, right string, rank long"
        )
        wdf = spark.createDataFrame([(w,) for w in set(apply_words)], "word string")
        got = {
            r["word"]: list(r["tokens"])
            for r in bpe_apply_words(wdf, mdf).collect()
        }
        for w in set(apply_words):
            assert got[w] == _classic_bpe(w, ranks), (w, merges)

    check()


def test_bpe_unicode_word_pattern_mixed_script(spark):
    """r8 verdict item 5: the documented UNICODE_WORD_PATTERN
    ([^\\p{L}]+ — split on any non-letter) must train AND encode
    mixed-script text token-identically to the classic Python
    reference under the equivalent Python segmentation ([\\W\\d_]+ —
    Python re has no \\p{}; the two agree on precomposed letters,
    which is why the fixture avoids combining marks: Java \\p{L}
    excludes category Mn, Python \\w includes it)."""
    import re
    from collections import Counter

    from gcp_dataengineering_spark.llm_ops.bpe import (
        UNICODE_WORD_PATTERN,
        bpe_encode,
        bpe_train,
    )

    texts = [
        (1, "Привет мир, привет общество! Ёлки-палки снова ёлки."),
        (2, "Der schöne Löwe läuft über die große Straße."),
        (3, "日本語のテキストと中文文本、それから καλημέρα κόσμε."),
        (4, "Mixed script: привет WORLD, schöne 世界, ещё grüße!"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    def seg(t):
        return [
            w for w in re.split(r"[\W\d_]+", t.lower()) if w and len(w) <= 64
        ]

    counts = Counter(w for _, t in texts for w in seg(t))
    want = _train_bpe(counts, 12)
    got = bpe_train(docs, 12, word_pattern=UNICODE_WORD_PATTERN)
    assert got == want
    # non-ASCII rules actually learned (the fixture's whole point)
    assert any(any(ord(ch) > 127 for ch in l + r) for l, r, _ in got)

    ranks = {(l, r): k for l, r, k in got}
    mdf = spark.createDataFrame(got, "left string, right string, rank long")
    out = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(
            docs, mdf, word_pattern=UNICODE_WORD_PATTERN
        ).collect()
    }
    for did, t in texts:
        expect = [tok for w in seg(t) for tok in _classic_bpe(w, ranks)]
        assert out[did] == expect, did


def _simulate_batch_train(word_counts, n_merges, window):
    """Pure-Python replay of the r9 BATCHED trainer loop: classic
    histogram → sorted window → _accept_batch → sequential rank-order
    application of the accepted pairs. Isolates the acceptance RULE
    from Spark plumbing so hypothesis can hammer it."""
    from gcp_dataengineering_spark.llm_ops.bpe import _accept_batch

    vocab = {w: list(w) for w in word_counts}
    merges = []
    vocab_concats: set[str] = set()
    while len(merges) < n_merges:
        pair_counts = {}
        for w, c in word_counts.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        ordered = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rows = [
            {"sym": p[0], "_nxt": p[1], "n": n} for p, n in ordered[:window]
        ]
        tail_n = ordered[window][1] if len(ordered) > window else None
        accepted = _accept_batch(
            rows, tail_n,
            limit=n_merges - len(merges), vocab_concats=vocab_concats,
        )
        assert accepted, "batch acceptance must always make progress"
        for pair in accepted:
            merges.append((pair[0], pair[1], len(merges) + 1))
        for w in vocab:
            for pair in accepted:  # sequential, in accepted rank order
                vocab[w] = _merge_word(vocab[w], pair)
    return merges


def test_bpe_batch_acceptance_preserves_classic_order():
    """The r9 batched trainer's exactness pin: _accept_batch must
    yield merge lists IDENTICAL to the sequential classic trainer on
    adversarial corpora (3-letter alphabet maximizes shared-symbol
    overlaps, count ties and concat collisions — the three channels
    the acceptance guards exist for), across window sizes including
    ones small enough to truncate tie tiers (the tail_n path). Pure
    Python, so hypothesis can run hundreds of cases."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=8)

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(word, min_size=1, max_size=12),
        st.integers(min_value=2, max_value=9),
        st.integers(min_value=1, max_value=20),
    )
    def check(words, window, n_merges):
        counts = Counter(w for w in words if w)
        if not counts:
            return
        want = _train_bpe(counts, n_merges)
        got = _simulate_batch_train(counts, n_merges, window)
        assert got == want, (sorted(counts.items()), window, n_merges)

    check()

    # pinned regressions for the three guard channels:
    # 1. tie tier where a skipped overlapping pair births a new pair
    #    that outranks a tied disjoint one: (s,t) + (a,s) + (c,d) all
    #    tied — classic merges (s,t) then (a,st) BEFORE (c,d)
    tie = Counter({"ast": 3, "cd": 3})
    assert _simulate_batch_train(tie, 4, 8) == _train_bpe(tie, 4)
    # 2. straight symbol overlap: 'xab' — (a,b) wins the tiebreak,
    #    then the (x,ab) cascade must outrank the disjoint (c,d)
    casc = Counter({"xab": 5, "cd": 3})
    assert _simulate_batch_train(casc, 3, 8) == _train_bpe(casc, 3)
    # 3. concat collision: two merge paths to the same string — 'bcd'
    #    via (bc,d) and via (b,cd) — where the second mint GROWS
    #    (a,bcd)'s count mid-batch
    col = Counter({"bcbc": 9, "bcd": 8, "cdcd": 7, "bcd" + "bcd": 2,
                   "abcd": 6, "xy": 5})
    assert _simulate_batch_train(col, 8, 16) == _train_bpe(col, 8)


def test_bpe_train_batch_equals_sequential_spark(spark):
    """max_batch=1 (the r8 sequential loop) and the r9 batched
    default must learn identical merge lists through the actual
    DataFrame plumbing — including the one-pass _apply_pairs batch
    application (vs strictly sequential application)."""
    from gcp_dataengineering_spark.llm_ops.bpe import bpe_train

    docs = spark.createDataFrame(
        [
            (1, "aaaa aaaa banana"),
            (2, "banana bandana"),
            (3, "aa abab cdcd"),
        ],
        "doc_id long, text string",
    )
    seq = bpe_train(docs, 8, max_batch=1)
    bat = bpe_train(docs, 8)  # default batching
    assert bat == seq
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_batch"):
        bpe_train(docs, 2, max_batch=0)


def test_bpe_train_approximate_mode(spark, monkeypatch):
    """exact=False (the parallel-BPE trade): fewer aggregation jobs
    than the exact batcher, a VALID merge list (round-trips through
    bpe_encode), and a rule set that largely agrees with the exact
    one — order-exactness is what's traded, not vocabulary quality."""
    import gcp_dataengineering_spark.llm_ops.bpe as bpe

    calls = {"n": 0}
    orig = bpe._accept_batch_greedy

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(bpe, "_accept_batch_greedy", counting)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    apx = bpe.bpe_train(docs, 25, exact=False)
    jobs_apx = calls["n"]
    assert len(apx) == 25
    assert [k for _, _, k in apx] == list(range(1, 26))
    # strictly fewer jobs than merges (the whole point); the exact
    # batcher needs 19 jobs for these 25 on this corpus (docstring)
    assert jobs_apx < 19

    # rule-set agreement with the exact list: low-ish on a 25-merge
    # tiny-corpus run (early-regime order deviations compound the
    # most right after round 1 — measured 13/25 here) and much higher
    # at depth (436/500 = 87% on the 500-merge rich-vocabulary run
    # recorded in the bpe_train docstring). Floor pins the mode
    # doesn't degenerate, not a quality ceiling.
    exact = bpe.bpe_train(docs, 25)
    overlap = len({(l, r) for l, r, _ in apx} & {(l, r) for l, r, _ in exact})
    assert overlap >= 10, (overlap, apx, exact)

    # validity: the approximate list round-trips through the encoder
    mdf = spark.createDataFrame(apx, "left string, right string, rank long")
    assert bpe.bpe_encode(docs.limit(10), mdf).count() == 10


def test_bpe_oracle_mechanism_on_pathological_runs(spark, tmp_path):
    """r8 review finding: a GLOBAL regexp pass over the separator
    encoding mis-groups same-char runs of 5+ ('aaaaa' must tokenize
    aa,aa,a — not aa,a,aa). The oracle now iterates leftmost-single
    replacements; this pins the full differential on a crafted corpus
    whose top bigrams include doubled letters and whose words carry
    5..9-char runs."""
    import duckdb

    from gcp_dataengineering_spark.suite import _all_pairs
    from tools.compare import table_hash

    rows = [
        (
            i,
            f"ll lll lllll {'l' * (5 + i % 5)} hello ball tall small "
            f"{'s' * 7} press mess",
        )
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    q, o = _all_pairs()
    df = q["bpe_encode"](spark, str(tmp_path))
    s_rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    cur = con.execute(o["bpe_encode"])
    o_rows = cur.fetchall()
    o_cols = [d[0] for d in cur.description]
    assert len(s_rows) == len(o_rows) == 40
    assert table_hash(s_rows, df.columns) == table_hash(o_rows, o_cols)


def test_bpe_encode_plan_shape_at_scale(spark):
    """Scale insurance (same convention as the pipeline ×20 gate):
    ×20-replicated documents through bpe_encode must execute with no
    CartesianProduct / BroadcastNestedLoopJoin anywhere — the rule
    lookup is a broadcast equi-join, the doc reassembly a shuffled
    equi-join on the word."""
    from gcp_dataengineering_spark.llm_ops.bpe import bpe_encode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    big = (
        docs.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(19))))
        .withColumn("doc_id", F.col("doc_id") * 100 + F.col("_rep"))
        .drop("_rep")
    )
    merges = spark.createDataFrame(
        [("e", "r", 1), ("t", "h", 2), ("th", "e", 3), ("a", "n", 4)],
        "left string, right string, rank long",
    )
    out = bpe_encode(big, merges)
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() == big.count()


def test_bpe_apply_words_cached_incremental(spark, tmp_path):
    """The disk-memoized apply: batch 2 runs the iterative loop only
    for never-seen words (cache grows by exactly the novel distinct
    words), results equal the uncached form, replays are idempotent,
    and a cache is pinned to ONE merge table."""
    from gcp_dataengineering_spark.llm_ops.bpe import (
        bpe_apply_words,
        bpe_apply_words_cached,
    )

    cache = str(tmp_path / "bpe_cache")
    merges = spark.createDataFrame(
        [("l", "o", 1), ("lo", "w", 2), ("e", "r", 3)],
        "left string, right string, rank long",
    )
    b1 = spark.createDataFrame(
        [("lower",), ("low",), ("water",)], "word string"
    )
    got1 = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_words_cached(b1, merges, cache).collect()
    }
    want1 = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_words(b1, merges).collect()
    }
    assert got1 == want1
    cached_words = {
        r["word"] for r in spark.read.parquet(f"{cache}/words").collect()
    }
    assert cached_words == {"lower", "low", "water"}

    # batch 2: two known words + one new; only the new word appended
    b2 = spark.createDataFrame(
        [("lower",), ("water",), ("slower",)], "word string"
    )
    got2 = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_words_cached(b2, merges, cache).collect()
    }
    assert set(got2) == {"lower", "water", "slower"}
    assert got2["lower"] == got1["lower"]
    assert got2["slower"] == ["s", "low", "er"]
    rows_after = spark.read.parquet(f"{cache}/words").collect()
    assert {r["word"] for r in rows_after} == {"lower", "low", "water", "slower"}
    assert len(rows_after) == 4  # known words NOT re-appended

    # replay idempotence: same batch again, read path dedupes
    got2b = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_words_cached(b2, merges, cache).collect()
    }
    assert got2b == got2

    # one cache == one tokenizer
    other = spark.createDataFrame(
        [("x", "y", 1)], "left string, right string, rank long"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different merge table"):
        bpe_apply_words_cached(b2, other, cache)


def test_warc_records_roundtrip_and_quarantine(spark, tmp_path):
    """Real WARC parsing over binaryFile: spec-valid synthetic
    records (plain + record-per-member .warc.gz) round-trip with
    exact headers, HTTP split, and text decode; non-text payloads
    report metadata only; a corrupt record quarantines with
    parse_error and the parser resynchronizes on the next record."""
    import gzip

    from gcp_dataengineering_spark.llm_ops.warc import (
        parse_warc_members,
        synth_warc,
        warc_records,
    )

    recs = [
        dict(record_id="r1", warc_type="response",
             target_uri="http://a.example/x", http_body="hello <b>web</b>",
             http_content_type="text/html; charset=utf-8"),
        dict(record_id="r2", warc_type="response",
             target_uri="http://a.example/img", http_body=b"\x89PNG...",
             http_content_type="image/png"),
        dict(record_id="r3", warc_type="warcinfo",
             payload=b"software: synth", content_type="application/warc-fields"),
    ]
    plain = synth_warc(recs)
    gz = synth_warc(recs, gzip_members=True)
    (tmp_path / "a.warc").write_bytes(plain)
    (tmp_path / "b.warc.gz").write_bytes(gz)
    # corrupt file: good record + garbage + another good record
    corrupt = (
        synth_warc([recs[0]])
        + b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: oops\r\n\r\n"
        + synth_warc([recs[2]])
    )
    (tmp_path / "c.warc").write_bytes(corrupt)

    files = spark.read.format("binaryFile").load(str(tmp_path) + "/*")
    out = warc_records(files).collect()
    by = {}
    for r in out:
        by.setdefault(r.path.split("/")[-1], []).append(r)

    for name in ("a.warc", "b.warc.gz"):
        rows = sorted(by[name], key=lambda r: r.record_id or "")
        assert [r.record_id for r in rows] == [
            "<urn:uuid:r1>", "<urn:uuid:r2>", "<urn:uuid:r3>"
        ]
        r1, r2, r3 = rows
        assert r1.text == "hello <b>web</b>" and r1.http_status == 200
        assert r1.http_content_type.startswith("text/html")
        assert r1.target_uri == "http://a.example/x"
        assert r2.text is None and r2.http_content_type == "image/png"
        assert r2.n_payload_bytes == len(b"\x89PNG...")
        assert r3.warc_type == "warcinfo" and r3.text is None
        assert all(r.parse_error is None for r in rows)

    crows = by["c.warc"]
    errs = [r for r in crows if r.parse_error]
    good = [r for r in crows if not r.parse_error]
    assert len(errs) == 1 and "Content-Length" in errs[0].parse_error
    assert {r.record_id for r in good} == {"<urn:uuid:r1>", "<urn:uuid:r3>"}

    # multi-member gzip really is multi-member
    assert gz.count(b"\x1f\x8b\x08") >= 3
    assert len(list(parse_warc_members(gz))) == 3


def test_warc_to_documents_feeds_pipeline(spark, tmp_path):
    """The Common-Crawl path end to end: synthetic WARC files →
    warc_to_documents (documents shape: stable ids, host source,
    lang tag) → build_training_corpus runs and keeps the good pages."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.warc import synth_warc, warc_to_documents

    def page(i):
        # per-page filler vocabulary: shared text would make every
        # page a near-dup of every other (the dedup stage is right to
        # collapse those)
        body = (
            "the quick brown fox jumps over the lazy dog and the "
            + " ".join(f"w{i}x{j} t{i}y{j} u{i}z{j}" for j in range(12))
        )
        return dict(
            record_id=f"p{i}", warc_type="response",
            target_uri=f"http://site{i % 2}.example/page{i}",
            http_body=body, http_content_type="text/html",
        )

    recs = [page(i) for i in range(6)] + [
        dict(record_id="img", warc_type="response",
             target_uri="http://site0.example/i.png",
             http_body=b"\x89PNG", http_content_type="image/png"),
        dict(record_id="info", warc_type="warcinfo",
             payload=b"software: synth", content_type="application/warc-fields"),
    ]
    (tmp_path / "seg.warc.gz").write_bytes(synth_warc(recs, gzip_members=True))
    files = spark.read.format("binaryFile").load(str(tmp_path) + "/*.warc.gz")
    docs = warc_to_documents(files)
    rows = docs.collect()
    # only the text responses survive; ids stable; hosts extracted
    assert len(rows) == 6
    assert {r.source for r in rows} == {"site0.example", "site1.example"}
    assert len({r.doc_id for r in rows}) == 6
    again = {r.doc_id for r in warc_to_documents(files).collect()}
    assert again == {r.doc_id for r in rows}  # deterministic ids
    assert all(r.lang == "en" for r in rows)

    stages = build_training_corpus(
        docs,
        # 4-hash bands: the default 2-hash bands collide at ~s² per
        # band, enough to clip one pair on a 6-doc fixture sharing a
        # stopword backbone
        config=PipelineConfig(
            shard_budget_tokens=500, minhash_hashes=16, lsh_bands=4
        ),
    )
    corpus = stages["corpus"].collect()
    assert len(corpus) == 6  # distinct pages all survive the build
    assert all(r.split in ("train", "val", "test") for r in corpus)


def test_warc_hostile_inputs_quarantine_not_crash(spark, tmp_path):
    """r8 review findings: a NEGATIVE Content-Length must not drive
    the parser backwards into an infinite loop, and a truncated
    .warc.gz must quarantine instead of killing the task."""
    from gcp_dataengineering_spark.llm_ops.warc import (
        parse_warc_members,
        synth_warc,
        warc_records,
    )

    good = dict(record_id="ok", warc_type="response",
                target_uri="http://x.example/", http_body="fine",
                http_content_type="text/plain")
    neg = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -64\r\n\r\n"
        + synth_warc([good])
    )
    out = list(parse_warc_members(neg))
    errs = [r for r in out if "error" in r]
    assert len(errs) == 1 and "negative Content-Length" in errs[0]["error"]
    assert len(out) == 2  # the following good record still parses

    truncated_gz = synth_warc([good], gzip_members=True)[:-7]
    out2 = list(parse_warc_members(truncated_gz))
    assert len(out2) == 1 and "gzip" in out2[0]["error"]

    (tmp_path / "neg.warc").write_bytes(neg)
    (tmp_path / "trunc.warc.gz").write_bytes(truncated_gz)
    rows = warc_records(
        spark.read.format("binaryFile").load(str(tmp_path) + "/*")
    ).collect()
    assert sum(1 for r in rows if r.parse_error) == 2
    assert sum(1 for r in rows if not r.parse_error) == 1


def test_warc_blocklisted_capture_never_reaches_gate(spark, tmp_path):
    """r10 verdict item 5: the two r10 features COMPOSE end to end —
    WARC fixture → warc_to_documents (html_text inside) →
    build_training_corpus(blocked_domains=..., url_col="target_uri"):
    a capture whose registrable domain is blocklisted (deep-subdomain
    and case variants included) is dropped at stage 0 and never
    reaches the quality gate, while pages with the same text shape
    from good hosts survive to the corpus."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.warc import synth_warc, warc_to_documents

    def page(i, uri):
        body = (
            "the quick brown fox jumps over the lazy dog and the "
            + " ".join(f"w{i}x{j} t{i}y{j} u{i}z{j}" for j in range(12))
        )
        return dict(
            record_id=f"p{i}", warc_type="response", target_uri=uri,
            http_body=body, http_content_type="text/html",
        )

    recs = [
        page(0, "http://site0.example/a"),
        page(1, "http://site1.example/b"),
        page(2, "http://ads.tracker-spam.com/x"),       # deep subdomain
        page(3, "https://WWW.TRACKER-SPAM.com/y"),      # case + www variant
        page(4, "http://site0.example/c"),
    ]
    (tmp_path / "seg.warc.gz").write_bytes(synth_warc(recs, gzip_members=True))
    files = spark.read.format("binaryFile").load(str(tmp_path) + "/*.warc.gz")
    docs = warc_to_documents(files)

    cfg = PipelineConfig(
        blocked_domains=("tracker-spam.com",), url_col="target_uri",
        minhash_hashes=16, lsh_bands=4,
    )
    stages = build_training_corpus(docs, config=cfg)
    gated_src = {r.source for r in stages["gated"].select("source").collect()}
    assert gated_src == {"site0.example", "site1.example"}
    corpus = stages["corpus"].collect()
    assert len(corpus) == 3
    assert all("tracker-spam" not in r.source for r in corpus)

    # control: without the blocklist the spam pages' text passes the
    # gate — proof the drop above came from stage 0, not the gate
    off = build_training_corpus(
        docs, config=PipelineConfig(minhash_hashes=16, lsh_bands=4)
    )
    off_src = {r.source.lower() for r in off["gated"].select("source").collect()}
    assert "ads.tracker-spam.com" in off_src and "www.tracker-spam.com" in off_src


def test_byte_symbols_mapping_matches_python(spark):
    """r11 byte-level mode, layer 1: the Spark byte_symbols column
    (encode → latin-1 decode → 256-char translate) must equal the
    Python GPT-2-style bijection byte for byte, and
    byte_symbols_decode must invert it — across ASCII, accents,
    Cyrillic, CJK, emoji (4-byte UTF-8) and whitespace."""
    from gcp_dataengineering_spark.llm_ops.bpe import (
        _BYTE_MAP,
        byte_symbols,
        byte_symbols_decode,
    )

    samples = [
        "hello", "Hello WORLD", "héllo", "Привет", "日本語", "😀ok",
        "a b\tc", "punct, stays. 100%!", "",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i int, w string"
    )
    got = {r.i: r.m for r in df.select("i", byte_symbols("w").alias("m")).collect()}
    for i, s in enumerate(samples):
        want = "".join(_BYTE_MAP[b] for b in s.encode("utf-8"))
        assert got[i] == want, (s, got[i], want)
        assert byte_symbols_decode(got[i]) == s


def test_bpe_byte_level_matches_classic_reference(spark):
    """r11 byte-level mode, layer 2: bpe_train/bpe_encode with
    byte_level=True (word_pattern=None → whitespace split, case
    KEPT) must train and encode token-identically to the classic
    Python reference over byte-mapped words — and be LOSSLESS: the
    concatenated tokens of a doc decode back to its exact non-space
    text, any script, no dropped characters (the gap the ascii and
    unicode word patterns both have)."""
    import re
    from collections import Counter

    from gcp_dataengineering_spark.llm_ops.bpe import (
        _BYTE_MAP,
        bpe_encode,
        bpe_train,
        byte_symbols_decode,
    )

    texts = [
        (1, "Hello WORLD hello world hello"),
        (2, "Привет мир 😀 ёлки и снова мир"),
        (3, "日本語テキスト and ASCII mix!"),
        (4, "punctuation, stays. 100% lossless? Hello again"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    def bmap(w):
        return "".join(_BYTE_MAP[b] for b in w.encode("utf-8"))

    def seg(t):
        return [bmap(w) for w in re.split(r"\s+", t) if w and len(w) <= 64]

    counts = Counter(w for _, t in texts for w in seg(t))
    want = _train_bpe(counts, 15)
    got = bpe_train(docs, 15, word_pattern=None, byte_level=True)
    assert got == want
    # multi-byte (non-ASCII-backing) symbols actually learned
    assert any(any(ord(ch) > 127 for ch in l + r) for l, r, _ in got)

    ranks = {(l, r): k for l, r, k in got}
    mdf = spark.createDataFrame(got, "left string, right string, rank long")
    out = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(
            docs, mdf, word_pattern=None, byte_level=True
        ).collect()
    }
    for did, t in texts:
        expect = [tok for w in seg(t) for tok in _classic_bpe(w, ranks)]
        assert out[did] == expect, did
        joined = byte_symbols_decode("".join(out[did]))
        assert joined == "".join(w for w in re.split(r"\s+", t) if w)


def test_mixture_plan_semantics(spark):
    """r11 temperature mixing: alpha=1 reproduces natural
    proportions, alpha=0 is uniform, alpha=0.5 damps the head; the
    budget side never mints data (sample_rate <= 1) and reports
    upsampling as epochs > 1; apply_mixture keeps every row of an
    epochs>=1 source and downsamples the rest deterministically."""
    from gcp_dataengineering_spark.llm_ops.corpus import (
        apply_mixture,
        mixture_plan,
    )

    rows = (
        [(i, "big", 100) for i in range(400)]
        + [(1000 + i, "small", 100) for i in range(4)]
    )
    d = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")

    nat = {r.source: r.weight for r in mixture_plan(d, alpha=1.0).collect()}
    assert abs(nat["big"] - 400 / 404) < 1e-6
    uni = {r.source: r.weight for r in mixture_plan(d, alpha=0.0).collect()}
    assert uni["big"] == uni["small"] == 0.5
    damped = {r.source: r.weight for r in mixture_plan(d, alpha=0.5).collect()}
    assert nat["small"] < damped["small"] < uni["small"]

    plan = mixture_plan(d, alpha=0.5, budget_tokens=20_000)
    p = {r.source: r for r in plan.collect()}
    # weights: sqrt(40000):sqrt(400) = 200:20 -> big ~0.909, small ~0.091
    assert p["big"].sample_rate < 1.0  # 18182 of 40000 tokens
    assert p["small"].sample_rate == 1.0  # target 1818 > its 400 tokens
    assert p["small"].epochs > 1.0  # upsampling is the loop's job
    assert all(r.sample_rate <= 1.0 for r in p.values())

    kept = apply_mixture(d, plan).groupBy("source").count().collect()
    k = {r.source: r["count"] for r in kept}
    assert k["small"] == 4  # epochs >= 1: every row kept
    # big downsampled near its rate; hash membership is content-stable
    assert 0.30 * 400 < k["big"] < 0.60 * 400
    again = apply_mixture(d, plan).groupBy("source").count().collect()
    assert {r.source: r["count"] for r in again} == k

    # invalid alpha rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mixture_plan(d, alpha=-0.1)


def test_mixture_plan_exact_budget_sums_exactly(spark):
    """r12 (ADVICE r11): exact_budget=True makes sum(target_tokens)
    == budget_tokens exactly via floor + largest-remainder + even
    div/mod spread of the 6-dp-weight residual; the default path is
    unchanged (approximate within rounding, documented)."""
    from gcp_dataengineering_spark.llm_ops.corpus import mixture_plan

    rows = (
        [(i, "a", 97) for i in range(123)]
        + [(1000 + i, "b", 41) for i in range(57)]
        + [(2000 + i, "c", 13) for i in range(7)]
    )
    d = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    for budget in (10_000, 999_983, 7):
        exact = mixture_plan(
            d, alpha=0.5, budget_tokens=budget, exact_budget=True
        ).collect()
        assert sum(r.target_tokens for r in exact) == budget, budget
        assert all(r.target_tokens >= 0 for r in exact)
    # default stays approximate but close (within 1 token per source
    # plus the documented 6-dp weight drift)
    approx = mixture_plan(d, alpha=0.5, budget_tokens=10_000).collect()
    assert abs(sum(r.target_tokens for r in approx) - 10_000) <= len(approx) + 1
    # exact allocation differs from the rounded one by at most 1+spread
    ex = {r.source: r.target_tokens for r in mixture_plan(
        d, alpha=0.5, budget_tokens=10_000, exact_budget=True).collect()}
    ap = {r.source: r.target_tokens for r in approx}
    assert all(abs(ex[s] - ap[s]) <= 2 for s in ex)


def test_apply_mixture_on_missing_contract(spark):
    """r12 (the r11 verdict's silent-drop finding): a source absent
    from the plan drops by default, passes through with
    on_missing='keep', and raises with on_missing='error'."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.corpus import (
        apply_mixture,
        mixture_plan,
    )

    old = spark.createDataFrame(
        [(i, "a", 50) for i in range(40)] + [(100 + i, "b", 50) for i in range(40)],
        "doc_id long, source string, n_tokens long",
    )
    plan = mixture_plan(old, alpha=0.5, budget_tokens=2_000)
    grown = old.union(
        spark.createDataFrame(
            [(500 + i, "new_src", 50) for i in range(10)],
            "doc_id long, source string, n_tokens long",
        )
    )
    dropped = apply_mixture(grown, plan)  # default: drop
    assert dropped.filter(F.col("source") == "new_src").count() == 0
    kept = apply_mixture(grown, plan, on_missing="keep")
    assert kept.filter(F.col("source") == "new_src").count() == 10
    # known sources sample identically under drop/keep
    assert (
        dropped.filter(F.col("source") != "new_src").count()
        == kept.filter(F.col("source") != "new_src").count()
    )
    with _pytest.raises(ValueError, match="new_src"):
        apply_mixture(grown, plan, on_missing="error")
    # no unknown sources: error mode is a no-op gate
    assert apply_mixture(old, plan, on_missing="error").count() == \
        apply_mixture(old, plan).count()
    with _pytest.raises(ValueError, match="on_missing"):
        apply_mixture(old, plan, on_missing="bogus")


def test_mixture_by_script_composes(spark):
    """r12 verdict item 2's last clause: the script column feeds the
    mixture stage — detect_script tags the corpus, mixture_plan
    budgets per (source × script) group, apply_mixture downsamples
    the over-represented script deterministically. No new operator:
    the composition is the capability."""
    from gcp_dataengineering_spark.llm_ops.corpus import (
        apply_mixture,
        mixture_plan,
    )
    from gcp_dataengineering_spark.llm_ops.text import detect_script

    rows = [(i, "plain latin text with words " * 3, 200) for i in range(300)] + [
        (1000 + i, "краткий русский текст для теста " * 3, 200)
        for i in range(12)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, n_tokens long")
    tagged = d.withColumn("script", detect_script("text"))
    assert {r.script for r in tagged.select("script").distinct().collect()} == {
        "latin", "cyrillic"
    }
    plan = mixture_plan(
        tagged, alpha=0.5, budget_tokens=30_000, source_col="script"
    )
    p = {r.script: r for r in plan.collect()}
    assert p["latin"].sample_rate < 1.0  # head script downsampled
    assert p["cyrillic"].sample_rate == 1.0  # tail kept whole (epochs >= 1)
    mixed = apply_mixture(tagged, plan, source_col="script")
    k = {r.script: r["count"] for r in mixed.groupBy("script").count().collect()}
    assert k["cyrillic"] == 12
    assert k["latin"] < 300
    # content-stable: same plan, same kept set
    again = apply_mixture(tagged, plan, source_col="script")
    assert {r.script: r["count"] for r in again.groupBy("script").count().collect()} == k


def test_ppm_real_resample_in_container(spark):
    """r13: the REAL pixel path has executed coverage with no
    external codec — P6 payloads decode, nearest-neighbor resample,
    and re-encode through the vendored numpy codec inside the
    mapInPandas UDF. Exact-byte check against an independent numpy
    reference; corrupt bodies quarantine (fmt NULL) instead of
    failing the job; the PPM header parser handles comments."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        _fit_within,
        nearest_resize,
        parse_image_header,
        ppm_decode,
        ppm_encode,
        resize_images,
    )

    rng = np.random.default_rng(13)
    imgs = {}
    for mid, (w, h) in enumerate([(96, 48), (30, 90), (64, 64)], start=1):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        imgs[mid] = px
    payloads = [(mid, bytearray(ppm_encode(px))) for mid, px in imgs.items()]
    # commented header variant parses too
    commented = b"P6 # made by hand\n# another comment\n4 2\n255\n" + bytes(24)
    assert parse_image_header(commented) == ("ppm", 4, 2)
    assert ppm_decode(commented)[2].shape == (2, 4, 3)
    # truncated body: header sniffs fine, decode quarantines
    truncated = ppm_encode(imgs[1])[:-7]
    payloads.append((9, bytearray(truncated)))
    df = spark.createDataFrame(payloads, "media_id long, payload binary")

    out = {r.media_id: r for r in resize_images(df, max_side=32, fake=False).collect()}
    assert len(out) == 4
    assert out[9].fmt is None and bytes(out[9].payload_out) == truncated
    for mid, px in imgs.items():
        r = out[mid]
        h, w = px.shape[0], px.shape[1]
        ow, oh = _fit_within(w, h, 32)
        assert (r.width, r.height, r.out_width, r.out_height) == (w, h, ow, oh)
        want = ppm_encode(nearest_resize(px, ow, oh))
        assert bytes(r.payload_out) == want, mid
        # and the reference itself is plain integer index math
        rows_idx = (np.arange(oh) * h) // oh
        cols_idx = (np.arange(ow) * w) // ow
        dec = ppm_decode(bytes(r.payload_out))
        assert dec is not None
        assert np.array_equal(dec[2], px[rows_idx][:, cols_idx])
    # malformed headers return None and never sniff as ppm
    for bad in (b"P6", b"P6  \n12 x\n255\n", b"P6 1 1 70000 "):
        assert parse_image_header(bad) == (None, None, None)


def test_jpeg_dc_codec_roundtrip_and_quarantine():
    """r14 vendored baseline-JPEG leg (llm_ops/jpegdc, ITU T.81): the
    grayscale encoder produces real decodable JPEGs; the DC-only
    decoder recovers each 8x8 block's mean to within the DC
    quantization step (<= ~2 gray levels; exact on smooth content);
    progressive/truncated/garbage streams return None (quarantine
    contract). No Spark, no PIL."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.jpegdc import (
        jpeg_dc_decode,
        jpeg_gray_encode,
    )
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        parse_image_header,
    )

    rng = np.random.default_rng(14)
    for (w, h) in [(8, 8), (24, 16), (37, 23), (100, 7)]:
        noise = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        grad = (np.add.outer(np.arange(h) * 2, np.arange(w) * 2) % 256).astype(
            np.uint8
        )
        for px in (noise, grad):
            data = jpeg_gray_encode(w, h, px.tobytes())
            # the repo's own header parser sniffs the output
            assert parse_image_header(data) == ("jpeg", w, h)
            out = jpeg_dc_decode(data)
            assert out is not None
            W, H, bw, bh, gray = out
            assert (W, H, bw, bh) == (w, h, -(-w // 8), -(-h // 8))
            g = np.frombuffer(gray, dtype=np.uint8).reshape(bh, bw)
            pad = np.empty((bh * 8, bw * 8))
            pad[:h, :w] = px
            pad[h:, :w] = px[-1:, :]
            pad[:, w:] = pad[:, w - 1 : w]
            tm = pad.reshape(bh, 8, bw, 8).mean(axis=(1, 3))
            assert np.abs(g.astype(float) - tm).max() <= 3.0

    good = jpeg_gray_encode(16, 16, bytes(range(256)))
    assert jpeg_dc_decode(good[: len(good) // 2]) is None  # truncated
    assert jpeg_dc_decode(b"not a jpeg") is None
    # progressive (SOF2) declared -> not covered -> None
    prog = bytearray(good)
    sof_at = prog.find(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2
    assert jpeg_dc_decode(bytes(prog)) is None


def test_jpeg_dc_lying_header_quarantine():
    """ADVICE r14: malformed-but-length-consistent streams (every
    segment's declared length matches the bytes present, but the
    segment BODY lies about its contents) must quarantine to None
    like truncated ones — in resize_images' mapInPandas there is no
    per-row try/except, so a single adversarial crawl JPEG would
    otherwise fail the whole job. Each fixture is a valid encoder
    output with one body byte doctored."""
    from gcp_dataengineering_spark.llm_ops.jpegdc import (
        jpeg_dc_decode,
        jpeg_gray_encode,
    )

    good = jpeg_gray_encode(16, 16, bytes(range(256)))
    assert jpeg_dc_decode(good) is not None

    # SOF declares 3 components but holds bytes for 1
    lying_nc = bytearray(good)
    sof = lying_nc.find(b"\xff\xc0")
    assert lying_nc[sof + 9] == 1  # nc byte of the 1-component SOF
    lying_nc[sof + 9] = 3
    assert jpeg_dc_decode(bytes(lying_nc)) is None

    # zero-component frame (and a zero-component scan behind it)
    zero_nc = bytearray(good)
    zero_nc[sof + 9] = 0
    sos = zero_nc.find(b"\xff\xda")
    zero_nc[sos + 4] = 0  # ns byte
    assert jpeg_dc_decode(bytes(zero_nc)) is None

    # DQT flipped to 16-bit precision: body holds 64 bytes, a pq=1
    # table needs 128
    short_dqt = bytearray(good)
    dqt = short_dqt.find(b"\xff\xdb")
    assert short_dqt[dqt + 4] >> 4 == 0
    short_dqt[dqt + 4] |= 0x10
    assert jpeg_dc_decode(bytes(short_dqt)) is None

    # zero sampling factor in SOF (would divide by zero in the MCU
    # geometry)
    zero_hv = bytearray(good)
    zero_hv[sof + 11] = 0x00  # h=0, v=0 for component 0
    assert jpeg_dc_decode(bytes(zero_hv)) is None


def _ref_png_filter_rows(rows, bpp, ftypes):
    """Independent FORWARD scanline filtering (test-side twin of the
    spec, scalar arithmetic, no numpy): produces the filtered raw
    stream png_decode must invert byte-exactly. Forward filtering
    reads ORIGINAL neighbour bytes (W3C PNG §9)."""
    out = bytearray()
    prev = bytes(len(rows[0]))
    for row, f in zip(rows, ftypes):
        out.append(f)
        for x in range(len(row)):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = (row[x] - a) & 0xFF
            elif f == 2:
                v = (row[x] - b) & 0xFF
            elif f == 3:
                v = (row[x] - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (row[x] - pred) & 0xFF
            out.append(v)
        prev = bytes(row)
    return bytes(out)


def _mk_png(w, h, depth, color, interlace, raw, plte=None, idat=None):
    """Hand-built PNG (test-side chunk writer, independent of
    llm_ops.png's encoder)."""
    import struct
    import zlib

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    )
    if plte is not None:
        out += chunk(b"PLTE", plte)
    out += chunk(b"IDAT", zlib.compress(raw) if idat is None else idat)
    return out + chunk(b"IEND", b"")


def test_png_decode_exact_vs_independent_filter_reference():
    """r15 vendored PNG leg (llm_ops/png, W3C PNG / RFC 2083): for
    every color type and all FIVE filter types, a stream filtered by
    an independent scalar implementation of the spec's forward
    filters decodes back to the original pixels BYTE-EXACTLY. 16-bit
    samples reduce to the high byte; palette rows expand through
    PLTE. No Spark, no PIL."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.png import png_decode

    rng = np.random.default_rng(15)
    h, w = 13, 11
    # (color type, channels, depth)
    for color, c, depth in [(0, 1, 8), (2, 3, 8), (4, 2, 8), (6, 4, 8),
                            (0, 1, 16), (2, 3, 16)]:
        bpp = c * depth // 8
        if depth == 8:
            px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
            rows = [px[y].tobytes() for y in range(h)]
            want = px
        else:
            px16 = rng.integers(0, 1 << 16, size=(h, w, c), dtype=np.uint16)
            rows = [px16[y].astype(">u2").tobytes() for y in range(h)]
            want = (px16 >> 8).astype(np.uint8)
        ftypes = [(y % 5) for y in range(h)]  # every filter exercised
        raw = _ref_png_filter_rows(rows, bpp, ftypes)
        got = png_decode(_mk_png(w, h, depth, color, 0, raw))
        assert got is not None, (color, depth)
        gw, gh, gpx = got
        assert (gw, gh) == (w, h)
        assert np.array_equal(gpx, want), (color, depth)

    # palette: indices filter like gray bytes, expand through PLTE
    plte = rng.integers(0, 256, size=(200, 3), dtype=np.uint8)
    idx = rng.integers(0, 200, size=(h, w), dtype=np.uint8)
    raw = _ref_png_filter_rows(
        [idx[y].tobytes() for y in range(h)], 1, [(y % 5) for y in range(h)]
    )
    got = png_decode(_mk_png(w, h, 8, 3, 0, raw, plte=plte.tobytes()))
    assert got is not None
    _, _, gpx = got
    assert np.array_equal(gpx, plte[idx])

    # Adam7 (r15): serialize the SEVEN passes independently (numpy
    # grid slicing + the same scalar forward-filter reference, fresh
    # prior row per pass), decode must reassemble the full image
    # byte-exactly — odd dims exercise empty-column passes
    adam7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    for (aw, ah, c, color) in [(11, 13, 3, 2), (3, 2, 1, 0), (17, 5, 4, 6)]:
        px = rng.integers(0, 256, size=(ah, aw, c), dtype=np.uint8)
        raw = b""
        fcycle = 0
        for x0, y0, dx, dy in adam7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            ftypes = [(fcycle + i) % 5 for i in range(sub.shape[0])]
            fcycle += sub.shape[0]
            raw += _ref_png_filter_rows(
                [sub[i].tobytes() for i in range(sub.shape[0])], c, ftypes
            )
        got = png_decode(_mk_png(aw, ah, 8, color, 1, raw))
        assert got is not None, (aw, ah, c)
        gw, gh, gpx = got
        assert (gw, gh) == (aw, ah)
        assert np.array_equal(gpx, px), (aw, ah, c)


def test_png_codec_roundtrip_and_quarantine():
    """Encoder output round-trips bit-exactly; everything outside the
    documented scope — and every malformed-but-signature-bearing
    stream — quarantines to None (the jpegdc rule: one adversarial
    crawl PNG must never fail the mapInPandas batch)."""
    import struct
    import zlib

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        parse_image_header,
    )
    from gcp_dataengineering_spark.llm_ops.png import png_decode, png_encode

    rng = np.random.default_rng(151)
    gray = rng.integers(0, 256, size=(23, 37), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(16, 9, 3), dtype=np.uint8)
    for px, c in [(gray, 1), (rgb, 3)]:
        data = png_encode(px)
        assert parse_image_header(data) == ("png", px.shape[1], px.shape[0])
        w, h, out = png_decode(data)
        assert (w, h) == (px.shape[1], px.shape[0])
        assert np.array_equal(out.reshape(px.shape), px)

    good = png_encode(rgb)
    raw_ok = b"".join(b"\x00" + rgb[y].tobytes() for y in range(16))

    assert png_decode(b"not a png") is None
    assert png_decode(good[:40]) is None  # truncated mid-chunk
    corrupt = bytearray(good)
    corrupt[60] ^= 0xFF  # body byte flips -> chunk CRC mismatch
    assert png_decode(bytes(corrupt)) is None
    # interlace flag with a SEQUENTIAL serialization: the Adam7
    # expected size differs -> length mismatch quarantine
    assert png_decode(_mk_png(9, 16, 8, 2, 1, raw_ok)) is None
    assert png_decode(_mk_png(9, 16, 4, 0, 0, raw_ok)) is None  # depth 4
    assert png_decode(_mk_png(9, 16, 8, 7, 0, raw_ok)) is None  # bad color
    bad_filter = b"\x07" + raw_ok[1:]
    assert png_decode(_mk_png(9, 16, 8, 2, 0, bad_filter)) is None
    # IHDR lies small: inflate is capped, length mismatch quarantines
    assert png_decode(_mk_png(9, 4, 8, 2, 0, raw_ok)) is None
    # ... and lies large: stream too short
    assert png_decode(_mk_png(9, 64, 8, 2, 0, raw_ok)) is None
    # palette index beyond PLTE
    plte3 = bytes(9)  # 3 entries
    idx_raw = b"\x00" + bytes([5] * 9)
    assert png_decode(_mk_png(9, 1, 8, 3, 0, idx_raw, plte=plte3)) is None
    # palette image with no PLTE at all
    assert png_decode(_mk_png(9, 1, 8, 3, 0, idx_raw)) is None
    # garbage IDAT (not a zlib stream)
    assert png_decode(_mk_png(9, 16, 8, 2, 0, b"", idat=b"\x01\x02\x03")) is None
    # chunk length field lies past EOF
    lying = bytearray(good)
    struct.pack_into(">I", lying, len(b"\x89PNG\r\n\x1a\n"), 0x00FFFFFF)
    assert png_decode(bytes(lying)) is None
    zlib  # (imported for _mk_png's compressor)


def test_png_real_resample_in_container(spark):
    """r15: PNG pixel coverage EXECUTES with no PIL — payloads decode
    through the vendored inflate+defilter leg inside the mapInPandas
    UDF, resample, and re-encode as real 8-bit PNGs. Byte-exact
    against an independent composition of the same vendored pieces;
    RGBA drops alpha; a corrupt body (header still sniffs)
    quarantines instead of failing the job."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        _fit_within,
        nearest_resize,
        parse_image_header,
        resize_images,
    )
    from gcp_dataengineering_spark.llm_ops.png import png_decode, png_encode

    try:
        import PIL  # noqa: F401

        import pytest as _pytest

        _pytest.skip("PIL importable here; the vendored leg is the no-PIL path")
    except ImportError:
        pass

    rng = np.random.default_rng(52)
    imgs = {}
    for mid, (w, h, c) in enumerate(
        [(96, 48, 3), (64, 64, 1), (40, 120, 3)], start=1
    ):
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        imgs[mid] = (w, h, png_encode(px.reshape(h, w) if c == 1 else px))
    # RGBA payload (hand-built): decode keeps 4 channels, resample drops alpha
    rgba = rng.integers(0, 256, size=(20, 30, 4), dtype=np.uint8)
    rgba_raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(20))
    imgs[7] = (30, 20, _mk_png(30, 20, 8, 6, 0, rgba_raw))

    payloads = [(mid, bytearray(b)) for mid, (_, _, b) in imgs.items()]
    truncated = imgs[1][2][:-30]
    assert parse_image_header(truncated)[0] == "png"  # header still sniffs
    payloads.append((9, bytearray(truncated)))
    df = spark.createDataFrame(payloads, "media_id long, payload binary")

    out = {
        r.media_id: r
        for r in resize_images(df, max_side=16, fake=False).collect()
    }
    assert len(out) == 5
    assert out[9].fmt is None and bytes(out[9].payload_out) == truncated
    for mid, (w, h, data) in imgs.items():
        r = out[mid]
        ow, oh = _fit_within(w, h, 16)
        assert (r.fmt, r.width, r.height, r.out_width, r.out_height) == (
            "png", w, h, ow, oh,
        )
        _, _, px = png_decode(data)
        plane = px[:, :, 0] if px.shape[2] in (1, 2) else px[:, :, :3]
        want = png_encode(nearest_resize(plane, ow, oh))
        assert bytes(r.payload_out) == want


def test_gif_decode_exact_vs_hand_derived_lzw_stream():
    """r15 vendored GIF leg (llm_ops/gif, GIF87a/89a spec): the
    decoder inverts a HAND-DERIVED LZW code stream (codes and their
    widths worked out from the spec by hand for pixels [0,1,2,3,0,1],
    packed by an independent test-side bit writer) — including the
    width growth from 3 to 4 bits mid-stream. No Spark, no PIL."""
    import struct

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import gif_decode

    def pack(codes):
        acc = nb = 0
        out = bytearray()
        for code, width in codes:
            acc |= code << nb
            nb += width
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    # min_code=2: clear=4, eoi=5, initial width 3. Encoding of
    # [0,1,2,3,0,1]: emit 0 (add 01->6), 1 (add 12->7), 2 (add 23->8,
    # table hits 2^3 -> width 4), 3 at 4 bits (add 30->9), then "01"
    # is in the table as code 6, emit it, then EOI.
    lzw = pack([(4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (6, 4), (5, 4)])
    palette = bytes([10, 0, 0, 0, 20, 0, 0, 0, 30, 255, 255, 255])  # 4 RGB
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 3, 2, 0x81, 0, 0)  # GCT, 4 entries
        + palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 3, 2, 0)
        + bytes([2])  # min LZW code size
        + bytes([len(lzw)]) + lzw + b"\x00"
        + b"\x3b"
    )
    got = gif_decode(gif)
    assert got is not None
    w, h, idx, pal = got
    assert (w, h) == (3, 2)
    assert idx.tolist() == [[0, 1, 2], [3, 0, 1]]
    assert np.array_equal(pal, np.frombuffer(palette, np.uint8).reshape(4, 3))


def test_gif_codec_roundtrip_interlace_and_quarantine():
    """Encoder output round-trips bit-exactly (including the 12-bit
    table overflow / clear-code reset on noise); the 4-pass row
    interlace un-weaves; malformed streams quarantine to None (the
    jpegdc rule)."""
    import struct

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import gif_decode, gif_encode
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        parse_image_header,
    )

    rng = np.random.default_rng(150)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    # noise forces the LZW table to 4096 and the clear-code reset path
    for (h, w, n) in [(2, 3, 4), (80, 120, 256), (7, 111, 16)]:
        idx = rng.integers(0, n, size=(h, w), dtype=np.uint8)
        data = gif_encode(idx, pal[:n])
        assert parse_image_header(data) == ("gif", w, h)
        gw, gh, gidx, gpal = gif_decode(data)
        assert (gw, gh) == (w, h)
        assert np.array_equal(gidx, idx)
        assert np.array_equal(gpal[:n], pal[:n])

    # interlace: store rows in the 4-pass order, flip the descriptor
    # bit, decode must return the original row order
    h, w = 8, 5
    orig = np.repeat(np.arange(8, dtype=np.uint8)[:, None], w, axis=1)
    storage = orig[[0, 4, 2, 6, 1, 3, 5, 7]]
    data = bytearray(gif_encode(storage, pal[:8]))
    flag_at = 6 + 7 + 3 * 8 + 9  # header+screen+GCT, descriptor flags
    assert data[flag_at] == 0
    data[flag_at] = 0x40
    gw, gh, gidx, _ = gif_decode(bytes(data))
    assert np.array_equal(gidx, orig)

    good = gif_encode(rng.integers(0, 8, size=(16, 16), dtype=np.uint8), pal[:8])
    assert gif_decode(b"not a gif") is None
    assert gif_decode(good[: len(good) // 2]) is None  # truncated
    # trailer before any image frame
    assert gif_decode(b"GIF89a" + struct.pack("<HHBBB", 3, 2, 0, 0, 0) + b"\x3b") is None
    # image frame with NO color table anywhere: out of scope
    no_ct = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        + bytes([2, 1, 0x24, 0]) + b"\x3b"
    )
    assert gif_decode(no_ct) is None
    # first LZW code beyond the initial table: corrupt
    lzw = bytes([0b111100])  # 4 (clear) then 7, LSB-first 3-bit codes
    tiny = (
        b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x80, 0, 0) + bytes(6)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 1, 0)
        + bytes([2, len(lzw)]) + lzw + b"\x00" + b"\x3b"
    )
    assert gif_decode(tiny) is None
    # declared 2x1 but the stream encodes 6 pixels: geometry lies
    six = gif_encode(np.zeros((2, 3), dtype=np.uint8), pal[:2])
    lying = bytearray(six)
    struct.pack_into("<HH", lying, 6, 3, 1)  # screen 3x1
    desc_at = 6 + 7 + 3 * 2
    struct.pack_into("<HH", lying, desc_at + 5, 2, 1)  # image 2x1
    assert gif_decode(bytes(lying)) is None


def test_gif_decode_bomb_and_subframe_quarantine():
    """r16 ADVICE closures: (1) a crafted GIF declaring a huge
    logical screen (65535x65535 ~ 4.3e9 pixels) with a tiny
    quadratically-expanding LZW stream must quarantine AT THE HEADER
    — before any multi-GB bytearray growth (mirrors png.py's expect
    cap); (2) a first frame offset within / smaller than the screen
    quarantines, because parse_image_header reports SCREEN dims and
    resampling the bare frame plane would silently stretch it."""
    import struct
    import time

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import gif_decode, gif_encode

    pal = np.arange(24, dtype=np.uint8).reshape(8, 3)

    # (1) decode bomb: screen+frame 65535x65535, LZW stream that
    # self-references to expand quadratically. Must return None fast
    # (header-time reject), never allocate the declared 4.3 GB.
    # build a worst-case expanding stream: clear, then codes
    # 4,5,6,7,... each new code = prev + first(prev) doubles length
    codes = [4] + list(range(6, 200))  # code==len(table) self-extend path
    min_code = 2
    bitbuf = 0
    nbits = 0
    body = bytearray()
    width = min_code + 1
    for c in [1 << min_code] + codes:
        bitbuf |= c << nbits
        nbits += width
        while nbits >= 8:
            body.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8
        # decoder grows width as its table fills; mimic loosely (the
        # exact widths don't matter for the header-time reject)
    if nbits:
        body.append(bitbuf & 0xFF)
    bomb = bytearray(b"GIF87a")
    bomb += struct.pack("<HHBBB", 65535, 65535, 0x80 | 2, 0, 0)
    bomb += pal.tobytes()  # 8-entry GCT
    bomb += b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
    bomb.append(min_code)
    for lo in range(0, len(body), 255):
        chunk = body[lo : lo + 255]
        bomb.append(len(chunk))
        bomb += chunk
    bomb += b"\x00\x3b"
    t0 = time.monotonic()
    assert gif_decode(bytes(bomb)) is None
    assert time.monotonic() - t0 < 1.0  # header reject, not GB growth

    # (2) sub-screen / offset first frame: three variants quarantine
    good = gif_encode(np.zeros((4, 6), dtype=np.uint8), pal)
    assert gif_decode(good) is not None
    desc_at = 6 + 7 + 3 * 8  # header + screen descriptor + GCT
    assert good[desc_at] == 0x2C
    offset = bytearray(good)
    struct.pack_into("<HH", offset, desc_at + 1, 1, 0)  # left=1
    assert gif_decode(bytes(offset)) is None
    offset = bytearray(good)
    struct.pack_into("<HH", offset, desc_at + 1, 0, 2)  # top=2
    assert gif_decode(bytes(offset)) is None
    small = bytearray(good)
    struct.pack_into("<HH", small, 6, 8, 9)  # screen grows to 8x9
    assert gif_decode(bytes(small)) is None  # frame 6x4 != screen


def test_gif_real_resample_in_container(spark):
    """r15: GIF pixel coverage EXECUTES with no PIL — payloads LZW-
    decode inside the mapInPandas UDF, the index plane resamples, and
    re-encodes against the original palette as a real GIF. Byte-exact
    against an independent composition of the same vendored pieces; a
    truncated body (header still sniffs) quarantines instead of
    failing the job."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import gif_decode, gif_encode
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        _fit_within,
        nearest_resize,
        parse_image_header,
        resize_images,
    )

    try:
        import PIL  # noqa: F401

        import pytest as _pytest

        _pytest.skip("PIL importable here; the vendored leg is the no-PIL path")
    except ImportError:
        pass

    rng = np.random.default_rng(53)
    pal = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    imgs = {}
    for mid, (w, h) in enumerate([(96, 48), (64, 64), (40, 120)], start=1):
        idx = rng.integers(0, 64, size=(h, w), dtype=np.uint8)
        imgs[mid] = (w, h, gif_encode(idx, pal))
    payloads = [(mid, bytearray(b)) for mid, (_, _, b) in imgs.items()]
    truncated = imgs[1][2][:-25]
    assert parse_image_header(truncated)[0] == "gif"
    payloads.append((9, bytearray(truncated)))
    df = spark.createDataFrame(payloads, "media_id long, payload binary")

    out = {
        r.media_id: r
        for r in resize_images(df, max_side=16, fake=False).collect()
    }
    assert len(out) == 4
    assert out[9].fmt is None and bytes(out[9].payload_out) == truncated
    for mid, (w, h, data) in imgs.items():
        r = out[mid]
        ow, oh = _fit_within(w, h, 16)
        assert (r.fmt, r.width, r.height, r.out_width, r.out_height) == (
            "gif", w, h, ow, oh,
        )
        _, _, idx, gpal = gif_decode(data)
        want = gif_encode(nearest_resize(idx, ow, oh), gpal)
        assert bytes(r.payload_out) == want


def test_jpeg_real_resample_in_container(spark):
    """r14: compressed-codec pixel coverage EXECUTES with no PIL —
    JPEG payloads decode through the vendored DC-only leg inside the
    mapInPandas UDF, resample, and re-encode as real grayscale
    JPEGs. Byte-exact against an independent composition of the same
    vendored pieces; a truncated entropy stream (header sniffs fine)
    quarantines instead of failing the job."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.jpegdc import (
        jpeg_dc_decode,
        jpeg_gray_encode,
    )
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        _fit_within,
        nearest_resize,
        parse_image_header,
        resize_images,
    )

    # this container genuinely has no PIL — the test exists to prove
    # the codec-free JPEG leg executes
    try:
        import PIL  # noqa: F401

        import pytest as _pytest

        _pytest.skip("PIL importable here; the DC leg is the no-PIL path")
    except ImportError:
        pass

    rng = np.random.default_rng(41)
    imgs = {}
    for mid, (w, h) in enumerate([(96, 48), (64, 64), (120, 40)], start=1):
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        imgs[mid] = (w, h, jpeg_gray_encode(w, h, px.tobytes()))
    payloads = [(mid, bytearray(b)) for mid, (_, _, b) in imgs.items()]
    truncated = imgs[1][2][: len(imgs[1][2]) - 40]
    assert parse_image_header(truncated)[0] == "jpeg"  # header still sniffs
    payloads.append((9, bytearray(truncated)))
    df = spark.createDataFrame(payloads, "media_id long, payload binary")

    out = {
        r.media_id: r
        for r in resize_images(df, max_side=16, fake=False).collect()
    }
    assert len(out) == 4
    assert out[9].fmt is None and bytes(out[9].payload_out) == truncated
    for mid, (w, h, data) in imgs.items():
        r = out[mid]
        ow, oh = _fit_within(w, h, 16)
        assert (r.fmt, r.width, r.height, r.out_width, r.out_height) == (
            "jpeg", w, h, ow, oh,
        )
        _, _, bw, bh, gray = jpeg_dc_decode(data)
        plane = np.frombuffer(gray, dtype=np.uint8).reshape(bh, bw)
        want = jpeg_gray_encode(
            ow, oh, nearest_resize(plane, ow, oh).tobytes()
        )
        assert bytes(r.payload_out) == want, mid
        # and the emitted thumbnail is itself a real JPEG
        assert parse_image_header(bytes(r.payload_out)) == ("jpeg", ow, oh)


def test_jpeg_dc_restart_markers_roundtrip():
    """Crawl JPEGs routinely carry DRI/RSTn: the encoder can emit
    restart intervals (predictor reset + byte-aligned markers) and
    the DC decoder resyncs through them — block means stay within
    the DC quantization tolerance at every interval."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.jpegdc import (
        jpeg_dc_decode,
        jpeg_gray_encode,
    )

    rng = np.random.default_rng(9)
    for (w, h) in [(32, 24), (37, 23)]:
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        base = None
        for ri in (0, 1, 2, 5):
            out = jpeg_dc_decode(
                jpeg_gray_encode(w, h, px.tobytes(), restart_interval=ri)
            )
            assert out is not None, (w, h, ri)
            _, _, bw, bh, gray = out
            g = np.frombuffer(gray, dtype=np.uint8).reshape(bh, bw)
            pad = np.empty((bh * 8, bw * 8))
            pad[:h, :w] = px
            pad[h:, :w] = px[-1:, :]
            pad[:, w:] = pad[:, w - 1 : w]
            tm = pad.reshape(bh, 8, bw, 8).mean(axis=(1, 3))
            assert np.abs(g.astype(float) - tm).max() <= 3.0, (w, h, ri)
            # restart plumbing must not change the DC values at all
            if base is None:
                base = g
            else:
                assert np.array_equal(g, base), (w, h, ri)


# ------------------------------------------------------------ perceptual hash (r16)
def test_phash_codec_invariance_and_closed_form():
    """dHash/aHash must be identical across lossless re-encodes of
    the same pixels (PPM/PNG/GIF) — that is the entire point of a
    perceptual hash — and the synth-gradient closed form must match
    the decoded-path hash bit for bit (the SQL oracle's premise).
    JPEG goes through the DC-only 1/8-scale box-filtered decode, so
    its hash is NEAR the others (low-pass drift), not equal: pin a
    loose ceiling, not equality."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import gif_encode
    from gcp_dataengineering_spark.llm_ops.jpegdc import jpeg_gray_encode
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        nearest_resize,
        ppm_encode,
    )
    from gcp_dataengineering_spark.llm_ops.phash import (
        ahash64,
        decode_gray,
        dhash64,
        synth_gradient_ppm,
    )
    from gcp_dataengineering_spark.llm_ops.png import png_encode

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    h, w = 48, 64
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    g = ((x * 255) // (w - 1) // 2 + (y * 255) // (h - 1) // 2).astype(np.uint8)
    rgb = np.stack([g, g, g], axis=2)
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)

    ref_d = dhash64(decode_gray(ppm_encode(rgb))[3])
    ref_a = ahash64(decode_gray(ppm_encode(rgb))[3])
    # lossless re-encodes: bit-identical hashes
    assert dhash64(decode_gray(png_encode(rgb))[3]) == ref_d
    assert dhash64(decode_gray(gif_encode(g, pal))[3]) == ref_d
    assert ahash64(decode_gray(png_encode(rgb))[3]) == ref_a
    # resized thumbnails of a smooth image: identical dHash
    for scale in (2, 3):
        rz = ppm_encode(nearest_resize(rgb, w // scale, h // scale))
        assert ham(ref_d, dhash64(decode_gray(rz)[3])) == 0, scale
    # JPEG DC decode is a 1/8 box filter: near, not equal
    jd = dhash64(decode_gray(jpeg_gray_encode(w, h, g.tobytes()))[3])
    assert ham(ref_d, jd) <= 12
    # genuinely different pictures are FAR (noise ~32, inversion 64)
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert ham(ref_d, dhash64(decode_gray(ppm_encode(noise))[3])) > 16
    assert ham(ref_d, dhash64(decode_gray(ppm_encode(255 - rgb))[3])) == 64
    # closed-form fixture: decoded-path hash == formula hash (the
    # exact property the image_phash SQL oracle replays)
    for did in (0, 1, 7, 123, 4567):
        payload = synth_gradient_ppm(did)
        dec = decode_gray(payload)
        assert dec is not None and dec[0] == "ppm"


def test_phash_neardup_groups_planted_duplicates(spark):
    """End-to-end image_neardup: planted lossless re-encodes and
    resized thumbnails of the same picture group together; unrelated
    pictures stay singletons; quarantined payloads are absent. The
    candidate plan is a banded equi-join — no cartesian."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.gif import gif_encode
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        nearest_resize,
        ppm_encode,
    )
    from gcp_dataengineering_spark.llm_ops.phash import (
        ahash64,
        decode_gray,
        dhash64,
        image_neardup,
        image_perceptual_hash,
        phash_candidate_pairs,
    )
    from gcp_dataengineering_spark.llm_ops.png import png_encode

    h, w = 48, 64
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    g = ((x * 255) // (w - 1) // 2 + (y * 255) // (h - 1) // 2).astype(np.uint8)
    rgb = np.stack([g, g, g], axis=2)
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    rows = [
        (1, bytearray(ppm_encode(rgb))),            # original
        (2, bytearray(png_encode(rgb))),            # lossless re-encode
        (3, bytearray(gif_encode(g, pal))),         # palette re-encode
        (4, bytearray(ppm_encode(nearest_resize(rgb, 32, 24)))),  # thumbnail
        (5, bytearray(ppm_encode(noise))),          # unrelated picture
        (6, bytearray(ppm_encode(255 - rgb))),      # inverted — unrelated
        (7, bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 ")),  # no pixel leg
        (8, bytearray(b"\x89PNG\r\n\x1a\nGARBAGE")),      # corrupt body
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    hashes = image_perceptual_hash(media)
    got = {r["media_id"]: r for r in hashes.collect()}
    assert got[7]["dhash"] is None and got[8]["dhash"] is None  # quarantine
    assert got[1]["fmt"] == "ppm" and got[2]["fmt"] == "png" and got[3]["fmt"] == "gif"

    groups = {r["media_id"]: r["group_id"] for r in image_neardup(media).collect()}
    assert set(groups) == {1, 2, 3, 4, 5, 6}  # quarantined ids absent
    assert groups[1] == groups[2] == groups[3] == groups[4] == 1
    assert groups[5] == 5 and groups[6] == 6

    # one Arrow batch holding the quarantined payloads beside the good
    # ones: a NULL row must not push the int64 hashes through float64
    one = media.coalesce(1)
    payloads = {mid: bytes(p) for mid, p in rows}
    for r in image_perceptual_hash(one).collect():
        dec = decode_gray(payloads[r["media_id"]])
        want = (None, None) if dec is None else (dhash64(dec[3]), ahash64(dec[3]))
        assert (r["dhash"], r["ahash"]) == want, r["media_id"]
    assert {r["media_id"]: r["group_id"] for r in image_neardup(one).collect()} == groups

    # plan receipt: banded equi-join, never a cartesian
    plan = phash_candidate_pairs(
        image_perceptual_hash(media)
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_signed_band_extraction_and_guards(spark):
    """Band extraction must treat the signed long as an unsigned
    64-bit pattern (shiftrightunsigned + mask): hashes with bit 63
    set are NEGATIVE longs, and a sign-propagating shift would
    corrupt every high band. Also: the pigeonhole completeness guard
    (max_hamming < bands) and the bands|64 divisibility guard."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.phash import (
        image_neardup,
        phash_candidate_pairs,
    )

    hashes = spark.createDataFrame(
        [(1, -1), (2, -2), (3, -1)], "media_id long, dhash long"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in phash_candidate_pairs(hashes).collect()
    }
    assert pairs[(1, 3)]["hamming"] == 0 and pairs[(1, 3)]["shared_bands"] == 4
    # -1 vs -2 differ only in bit 0: bands 1..3 agree, hamming 1
    assert pairs[(1, 2)]["hamming"] == 1 and pairs[(1, 2)]["shared_bands"] == 3

    # bands=1: the one 64-bit segment is the whole hash (no mask —
    # 2^64 - 1 is no long literal), so only equal hashes pair
    assert {
        (r["id_a"], r["id_b"], r["shared_bands"], r["hamming"])
        for r in phash_candidate_pairs(hashes, bands=1).collect()
    } == {(1, 3, 1, 0)}

    media = spark.createDataFrame([(1, bytearray(b""))], "media_id long, payload binary")
    with _pytest.raises(ValueError, match="pigeonhole"):
        image_neardup(media, max_hamming=4, bands=4)
    with _pytest.raises(ValueError, match="divide 64"):
        phash_candidate_pairs(hashes, bands=5)


# ------------------------------------------------------------ webp headers (r16)
def test_webp_header_visibility_and_quarantine(spark):
    """RIFF/WEBP payloads must be VISIBLE to corpus stats (format +
    canvas dims parsed from the public container spec: VP8X extended,
    VP8L lossless, VP8 lossy key frame) while the pixel path keeps
    quarantining honestly (no vendored VP8 entropy decoder). Also
    pins the adversarial cases: truncation at every prefix length,
    non-key-frame VP8, wrong start code, unknown chunk fourcc."""
    import struct as _struct

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        decode_image_headers,
        parse_image_header,
        resize_images,
    )

    def riff(fourcc: bytes, body: bytes) -> bytes:
        chunk = fourcc + _struct.pack("<I", len(body)) + body
        return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    w, h = 400, 300
    vp8x = riff(b"VP8X", b"\x00\x00\x00\x00"
                + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"))
    vp8l = riff(b"VP8L", b"\x2f"
                + ((w - 1) | ((h - 1) << 14)).to_bytes(4, "little") + b"\x00")
    vp8 = riff(b"VP8 ", b"\x10\x00\x00\x9d\x01\x2a"
               + _struct.pack("<HH", w, h) + b"\x00\x00")
    assert parse_image_header(vp8x) == ("webp", w, h)
    assert parse_image_header(vp8l) == ("webp", w, h)
    assert parse_image_header(vp8) == ("webp", w, h)

    # adversarial: every truncation prefix must return webp-or-None,
    # never raise, and never invent dimensions
    for payload in (vp8x, vp8l, vp8):
        for cut in range(len(payload)):
            fmt, pw, ph = parse_image_header(payload[:cut])
            assert fmt in (None, "webp", "jpeg")  # 0xff prefixes can sniff jpeg
            assert pw is None or (pw, ph) == (w, h)
    # non-key-frame VP8 (bit 0 set) carries no dims → visible, unsized
    inter = riff(b"VP8 ", b"\x11\x00\x00\x9d\x01\x2a" + _struct.pack("<HH", w, h))
    assert parse_image_header(inter) == ("webp", None, None)
    # wrong start code → unsized; unknown first chunk → unsized
    bad = riff(b"VP8 ", b"\x10\x00\x00\xff\x01\x2a" + _struct.pack("<HH", w, h))
    assert parse_image_header(bad) == ("webp", None, None)
    assert parse_image_header(riff(b"ALPH", b"\x00" * 12)) == ("webp", None, None)
    # RIFF but not WEBP (a WAV) stays invisible to the IMAGE sniffer
    assert parse_image_header(b"RIFF\x24\x00\x00\x00WAVEfmt ") == (None, None, None)

    # corpus stats now count webp: decode_image_headers surfaces it
    media = spark.createDataFrame(
        [(1, bytearray(vp8x)), (2, bytearray(vp8l)), (3, bytearray(vp8))],
        "media_id long, payload binary",
    ).withColumn("media_type", F.lit("image/webp"))
    got = {r["media_id"]: r for r in decode_image_headers(media).collect()}
    assert all(got[i]["format"] == "webp" and got[i]["width"] == w for i in (1, 2, 3))

    # resize leg: sniffs, then quarantines honestly when PIL is absent
    # (fmt NULL, payload untouched) — never the invariant raise
    rz = {r["media_id"]: r for r in resize_images(media, max_side=64).collect()}
    for i in (1, 2, 3):
        try:
            import PIL  # noqa: F401

            has_pil = True
        except ImportError:
            has_pil = False
        if not has_pil:
            assert rz[i]["fmt"] is None
            assert bytes(rz[i]["payload_out"]) in (bytes(vp8x), bytes(vp8l), bytes(vp8))


# ------------------------------------------------------------ ngram LM perplexity (r16)
def test_ngram_perplexity_matches_python_twin(spark):
    """Spark bigram_perplexity == the independent pure-Python twin,
    EXACTLY (n_trans, the fixed-point BIGINT nll, and the rounded
    bits/token) over a corpus exercising every branch: bigram hits,
    unigram backoff, <unk> folding, <s> starts, 1-token docs,
    empty docs, unicode, repeated-word runs."""
    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        bigram_perplexity,
        bigram_perplexity_py,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat and the dog sat too",
        3: "xyzzy plugh qwerty zork frobozz",
        4: "",
        5: "the the the the the",
        6: "cat",
        7: "naïve café déjà vu naïve café",
        8: "the dog sat on the mat the dog sat on the mat",
        9: "  padded   whitespace\ttokens \n here  ",
        10: "MiXeD CaSe The CAT sat",
        # r17 (ADVICE r16): Unicode whitespace must NOT split — all
        # three engines tokenize on the explicit ASCII class; python
        # str.split() would split NBSP/U+2028 and diverge
        11: "nbsp\xa0joined stays one token",
        12: "line sep and\x0bvertical\ttab",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
        for r in bigram_perplexity(df).collect()
    }
    exp = bigram_perplexity_py(texts)
    assert got == exp

    # rounding-tie regression (r16 fuzz find): nll/2^F quotients can
    # hit .xxxx5 EXACTLY (598016/(4·65536) = 2.28125); Spark/DuckDB
    # round half-up, python round() is banker's — the twin must use
    # half-up or it diverges at exactly these ties
    tie = {0: "mat sat", 1: "dog the on the", 2: "mat a on",
           3: "sat zq1 vx2 zq1 cat", 4: "cat vx2 vx2 dog ran sat"}
    tdf = spark.createDataFrame(list(tie.items()), "doc_id long, text string")
    tgot = {
        r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
        for r in bigram_perplexity(tdf, min_count=3, backoff_bits=2).collect()
    }
    texp = bigram_perplexity_py(tie, min_count=3, backoff_bits=2)
    assert tgot == texp
    # fixture sanity: doc 1 lands on an exact DISTINGUISHING tie
    # (139264/(4·65536) = 0.53125 — banker's would give 0.5312,
    # half-up gives 0.5313; a tie onto an odd digit would not
    # distinguish the two modes)
    from fractions import Fraction

    def _is_distinguishing_tie(n, nll):
        frac = Fraction(nll * 10000, n * (1 << 16))
        m = frac // 1
        return frac - m == Fraction(1, 2) and m % 2 == 0

    assert _is_distinguishing_tie(texp[1][0], texp[1][1]), texp
    assert texp[1][2] == 0.5313  # half-up, the engines' convention


def test_ngram_perplexity_ordering_and_ref_training(spark):
    """The signal the filter exists for: under a reference-trained LM
    (the published CCNet shape), gibberish scores strictly more
    bits/token than typical prose, which scores more than the most
    formulaic common text. Also: ref-trained scoring of UNSEEN
    fluent text lands between memorized and gibberish."""
    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        bigram_perplexity,
        perplexity_gate,
    )

    fluent = "the quick brown fox jumps over the lazy dog"
    ref = spark.createDataFrame(
        [(i, fluent) for i in range(30)]
        + [(100 + i, "a cat sat on the mat and the dog slept") for i in range(20)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (1, fluent),                                   # memorized prose
            (2, "the quick brown dog jumps over the lazy fox"),  # novel but fluent-ish
            (3, "zqx glorp wibble frotz yoyodyne plugh"),  # gibberish
            (4, "the the the the the the"),                # degenerate repeats
        ],
        "doc_id long, text string",
    )
    bits = {
        r["doc_id"]: r["ppl_bits"]
        for r in bigram_perplexity(score, ref=ref).collect()
    }
    assert bits[1] < bits[2] < bits[3]
    assert bits[1] < bits[4] < bits[3]
    # the gate keeps fluent, drops gibberish, fails zero-token docs
    scored = bigram_perplexity(
        score.union(spark.createDataFrame([(5, "")], "doc_id long, text string")),
        ref=ref,
    )
    kept = {r["doc_id"] for r in scored.filter(perplexity_gate(bits[2] + 0.01)).collect()}
    assert 1 in kept and 2 in kept and 3 not in kept and 5 not in kept


def test_ngram_perplexity_pipeline_stage(spark):
    """build_training_corpus with perplexity_max_bits: the planted
    gibberish page (which PASSES the heuristic gate — length,
    stopwords, punctuation all fine) is dropped by the LM gate; the
    fluent pages survive; the per-doc scores frame ships as
    stages['perplexity']."""
    from gcp_dataengineering_spark.llm_ops.ngram_lm import bigram_perplexity
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    def fluent_page(i):
        return (
            i,
            "the quick brown fox jumps over the lazy dog and then "
            + " ".join(f"w{i}x{j} the u{i}z{j}" for j in range(10))
            + ".",
            f"site{i % 2}",
            "en",
        )

    # gibberish with enough stopwords/punctuation to pass heuristics
    gib_words = " ".join(f"zq{j}w of vb{j}k to qx{j}p" for j in range(12))
    rows = [fluent_page(i) for i in range(8)] + [(99, gib_words + ".", "site0", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")

    ref = spark.createDataFrame(
        [(1000 + i, "the quick brown fox jumps over the lazy dog and then it ran to the house of the cat")
         for i in range(10)],
        "doc_id long, text string",
    )
    # pick the threshold from the observed split so the test pins the
    # ORDERING, not a magic constant
    scored = {r["doc_id"]: r["ppl_bits"] for r in bigram_perplexity(docs, ref=ref).collect()}
    fluent_max = max(scored[i] for i in range(8))
    assert scored[99] > fluent_max
    thresh = (scored[99] + fluent_max) / 2

    stages = build_training_corpus(
        docs,
        config=PipelineConfig(
            perplexity_max_bits=thresh,
            perplexity_ref=ref,
            shard_budget_tokens=500,
            minhash_hashes=16,
            lsh_bands=4,
        ),
    )
    assert "perplexity" in stages
    kept = {r.doc_id for r in stages["corpus"].select("doc_id").collect()}
    assert 99 not in kept
    assert kept.issuperset(set(range(8)))

    # r17: the KN smoothing routes through the same stage — same
    # planted-gibberish kill under a KN-derived threshold
    scored_kn = {
        r["doc_id"]: r["ppl_bits"]
        for r in bigram_perplexity(docs, ref=ref, smoothing="kn").collect()
    }
    fluent_max_kn = max(scored_kn[i] for i in range(8))
    assert scored_kn[99] > fluent_max_kn
    stages_kn = build_training_corpus(
        docs,
        config=PipelineConfig(
            perplexity_max_bits=(scored_kn[99] + fluent_max_kn) / 2,
            perplexity_ref=ref,
            perplexity_smoothing="kn",
            shard_budget_tokens=500,
            minhash_hashes=16,
            lsh_bands=4,
        ),
    )
    kept_kn = {r.doc_id for r in stages_kn["corpus"].select("doc_id").collect()}
    assert 99 not in kept_kn
    assert kept_kn.issuperset(set(range(8)))


# ------------------------------------------------------------ PCM audio stats (r16)
def test_wav_pcm_stats_match_numpy_reference():
    """wav_pcm_stats_py vs an independent float-numpy computation on
    synthesized PCM: integer fields exactly, rms within the isqrt
    floor of the float RMS. Covers 16-bit mono/stereo, 8-bit
    (centered), silence, full-scale clipping."""
    import math
    import struct as _struct

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        wav_pcm_decode,
        wav_pcm_stats_py,
    )

    def wav(sr, ch, bits, samples):
        data = (
            samples.astype("<i2").tobytes()
            if bits == 16
            else (samples + 128).astype(np.uint8).tobytes()
        )
        return (
            b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, ch, sr,
                                     sr * ch * bits // 8, ch * bits // 8, bits)
            + b"data" + _struct.pack("<I", len(data)) + data
        )

    rng = np.random.default_rng(3)
    cases = [
        (16000, 1, 16, (np.sin(np.arange(800) / 10.0) * 20000).astype(np.int64)),
        (8000, 2, 16, rng.integers(-30000, 30000, size=1600)),
        (44100, 1, 8, rng.integers(-128, 128, size=441)),
        (16000, 1, 16, np.zeros(320, dtype=np.int64)),          # silence
        (16000, 1, 16, np.full(320, 32767, dtype=np.int64)),    # clipped wall
    ]
    for sr, ch, bits, x in cases:
        payload = wav(sr, ch, bits, x)
        s = wav_pcm_stats_py(payload)
        assert s is not None, (sr, ch, bits)
        frames = len(x) // ch
        assert s["sample_rate"] == sr and s["channels"] == ch
        assert s["n_frames"] == frames
        assert s["duration_ms"] == frames * 1000 // sr
        # independent float reference
        xs = x.astype(np.float64)
        assert s["sum_sq"] == int((x * x).sum())
        assert s["rms"] == math.isqrt(int((x * x).sum()) // len(x))
        assert abs(s["rms"] - np.sqrt((xs * xs).mean())) <= 1.0
        assert s["peak"] == int(np.abs(x).max())
        hi = 32767 if bits == 16 else 127
        lo = -32768 if bits == 16 else -128
        assert s["n_clipped"] == int(((x >= hi) | (x <= lo)).sum())
        # decode shape contract
        dec = wav_pcm_decode(payload)
        assert dec is not None and dec[3].shape == (frames, ch)
    # silence and clipped wall behave as the gate expects
    assert wav_pcm_stats_py(wav(16000, 1, 16, np.zeros(320, dtype=np.int64)))["rms"] == 0
    wall = wav_pcm_stats_py(wav(16000, 1, 16, np.full(320, 32767, dtype=np.int64)))
    assert wall["clip_frac"] == 1.0 and wall["n_clipped"] == 320


def test_wav_pcm_quarantine_fuzz_and_gate(spark):
    """The image legs' adversarial contract, replayed for audio:
    every truncation prefix of a valid WAV, lying data sizes,
    non-PCM format tags, unsupported depths and random garbage all
    quarantine (None / NULL row) — never raise, never invent stats.
    audio_quality_gate keeps real audio, drops silence/clipping/
    quarantined rows."""
    import struct as _struct

    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        audio_pcm_stats,
        audio_quality_gate,
        synth_pcm_wav,
        wav_pcm_stats_py,
    )

    good = synth_pcm_wav(42)
    for cut in range(0, len(good), 7):
        assert wav_pcm_stats_py(good[:cut]) is None or cut >= len(good)
    # lying data size (declares more than present)
    lying = bytearray(good)
    off = good.index(b"data") + 4
    lying[off:off + 4] = _struct.pack("<I", 10_000_000)
    assert wav_pcm_stats_py(bytes(lying)) is None
    # non-PCM format tag (IEEE float = 3)
    nonpcm = bytearray(good)
    foff = good.index(b"fmt ") + 8
    nonpcm[foff:foff + 2] = _struct.pack("<H", 3)
    assert wav_pcm_stats_py(bytes(nonpcm)) is None
    # unsupported depth (24-bit)
    deep = bytearray(good)
    boff = good.index(b"fmt ") + 8 + 14
    deep[boff:boff + 2] = _struct.pack("<H", 24)
    assert wav_pcm_stats_py(bytes(deep)) is None
    # random garbage, incl. RIFF-prefixed
    rng = np.random.default_rng(5)
    for i in range(50):
        blob = bytes(rng.integers(0, 256, size=rng.integers(0, 200), dtype=np.uint8))
        assert wav_pcm_stats_py(blob) is None or blob[:4] == b"RIFF"
        assert wav_pcm_stats_py(b"RIFF" + blob) is None

    # Spark leg: quarantined rows NULL, gate semantics
    silence = (
        b"RIFF" + _struct.pack("<I", 36 + 3200) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + _struct.pack("<I", 3200) + b"\x00" * 3200
    )
    media = spark.createDataFrame(
        [
            (1, bytearray(synth_pcm_wav(42))),   # loud pseudo-noise, long enough
            (2, bytearray(silence)),             # fails min_rms
            (3, bytearray(b"garbage")),          # quarantine
        ],
        "media_id long, payload binary",
    )
    stats = audio_pcm_stats(media)
    got = {r["media_id"]: r for r in stats.collect()}
    assert got[3]["format"] is None and got[3]["rms"] is None
    assert got[2]["rms"] == 0
    kept = {
        r["media_id"]
        for r in stats.filter(
            audio_quality_gate(min_duration_ms=1, min_rms=100, max_clip_frac=0.5)
        ).collect()
    }
    assert kept == {1}


# ------------------------------------------------------------ VP8L lossless webp (r16)
def _vp8l_riff(body: bytes) -> bytes:
    import struct as _struct

    chunk = b"VP8L" + _struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _vp8l_stream_helpers():
    """Bit-level hand-encoder helpers for building spec streams the
    minimal encoder never emits — the gif.py hand-derived-LZW test
    strategy, applied to VP8L."""
    from gcp_dataengineering_spark.llm_ops.vp8l import _CL_ORDER, _BitWriter

    def header(bw, w, h):
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)

    def simple_one(bw, s):
        bw.write(1, 1); bw.write(0, 1); bw.write(1, 1); bw.write(s, 8)

    def flat_code(bw, alphabet):
        # 256 literals at length 8 (complete), emitted via a 2-symbol
        # code-length code over {0, 8}
        bw.write(0, 1)
        bw.write(12 - 4, 4)
        for p in range(12):
            bw.write(1 if _CL_ORDER[p] in (0, 8) else 0, 3)
        bw.write(0, 1)
        for _ in range(256):
            bw.write(1, 1)
        for _ in range(alphabet - 256):
            bw.write(0, 1)

    def code8(bw, v):
        for i in range(7, -1, -1):
            bw.write((v >> i) & 1, 1)

    return _BitWriter, header, simple_one, flat_code, code8


def test_vp8l_roundtrip_and_bit_conventions():
    """Encoder→decoder round trip is pixel-exact across shapes and
    channel counts; the distance map honors the spec's structure
    (120 unique neighbor offsets, head ordered by squared distance
    then |dx|, + before −); header parser and codec agree."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import parse_image_header
    from gcp_dataengineering_spark.llm_ops.vp8l import (
        _DIST_MAP,
        vp8l_decode,
        vp8l_encode,
    )

    rng = np.random.default_rng(1)
    for (w, h, c) in [(1, 1, 3), (3, 2, 3), (17, 5, 4), (64, 48, 3), (200, 3, 3)]:
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        if c == 4:
            px[:, :, 3] = 200
        data = vp8l_encode(px)
        assert parse_image_header(data) == ("webp", w, h)
        dec = vp8l_decode(data)
        assert dec is not None, (w, h, c)
        dw, dh, out = dec
        assert (dw, dh) == (w, h)
        assert np.array_equal(out[:, :, :3], px[:, :, :3])
        assert (out[:, :, 3] == (200 if c == 4 else 255)).all()
    # dist map invariants
    assert len(_DIST_MAP) == len(set(_DIST_MAP)) == 120
    assert all(dy >= 0 and (dy > 0 or dx > 0) for dx, dy in _DIST_MAP)
    head = _DIST_MAP[:34]
    keys = [(dx * dx + dy * dy, abs(dx), 0 if dx >= 0 else 1) for dx, dy in head]
    assert keys == sorted(keys)
    # non-constant alpha: the single-symbol alpha contract raises
    import pytest as _pytest

    bad = np.zeros((2, 2, 4), dtype=np.uint8)
    bad[0, 0, 3] = 1
    with _pytest.raises(ValueError, match="alpha"):
        vp8l_encode(bad)


def test_vp8l_hand_streams_transforms_lz77_cache_meta():
    """Decoder features the minimal encoder never writes, each from
    a hand-built bit-exact stream: SUBTRACT_GREEN, the PREDICTOR
    transform (mode 2 + the spec's edge overrides), the COLOR
    transform (incl. a negative int8 element), the 4-color PACKED
    palette (cumulative deltas, 2-bit packing), LZ77 copies via both
    linear and 2D distance codes, color-cache hits, and a 2-group
    META prefix image."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.vp8l import vp8l_decode

    BitWriter, header, simple_one, flat_code, code8 = _vp8l_stream_helpers()
    rng = np.random.default_rng(2)

    # --- subtract-green
    w, h = 5, 3
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64)
    bw = BitWriter(); header(bw, w, h)
    bw.write(1, 1); bw.write(2, 2); bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 255); simple_one(bw, 0)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(px[y, x, i]) for i in range(3))
            code8(bw, g); code8(bw, (r - g) % 256); code8(bw, (b - g) % 256)
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None and np.array_equal(dec[2][:, :, :3], px.astype(np.uint8))

    # --- predictor transform, mode 2 (top), with the edge rules
    w, h = 4, 4
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64)
    bw = BitWriter(); header(bw, w, h)
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)
    bw.write(0, 1)  # mode sub-image: no cache
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    code8(bw, 2); code8(bw, 0); code8(bw, 0)  # 1×1 mode image: mode 2
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)  # alpha residual 0 everywhere
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pr = pg = pb = 0
            elif y == 0:
                pr, pg, pb = px[y, x - 1]  # row 0 → left, overriding mode
            else:
                pr, pg, pb = px[y - 1, x]  # mode 2 / col 0 → top
            code8(bw, int((px[y, x, 1] - pg) % 256))
            code8(bw, int((px[y, x, 0] - pr) % 256))
            code8(bw, int((px[y, x, 2] - pb) % 256))
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None and np.array_equal(dec[2][:, :, :3], px.astype(np.uint8))
    assert (dec[2][:, :, 3] == 255).all()

    # --- color transform with g2r=16, g2b=8, r2b=-4 (as 252)
    def ct_delta(t, c):
        if t >= 128:
            t -= 256
        if c >= 128:
            c -= 256
        return (t * c) >> 5

    w, h = 3, 3
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64)
    g2r, g2b, r2b = 16, 8, 252
    bw = BitWriter(); header(bw, w, h)
    bw.write(1, 1); bw.write(1, 2); bw.write(0, 3)
    bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    code8(bw, g2b); code8(bw, r2b); code8(bw, g2r)  # element: g=g2b r=r2b b=g2r
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 255); simple_one(bw, 0)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(px[y, x, i]) for i in range(3))
            sr = (r - ct_delta(g2r, g)) % 256
            sb = (b - ct_delta(g2b, g) - ct_delta(r2b, r)) % 256
            code8(bw, g); code8(bw, sr); code8(bw, sb)
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None and np.array_equal(dec[2][:, :, :3], px.astype(np.uint8))

    # --- 4-color packed palette (2-bit), cumulative deltas
    w, h = 6, 2
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    idx = [[0, 1, 2, 3, 0, 1], [3, 2, 1, 0, 3, 2]]
    bw = BitWriter(); header(bw, w, h)
    bw.write(1, 1); bw.write(3, 2); bw.write(3, 8)
    bw.write(0, 1)  # palette sub-image: no cache
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 255); simple_one(bw, 0)
    prev = (0, 0, 0)
    for p in pal:
        code8(bw, (p[1] - prev[1]) % 256)
        code8(bw, (p[0] - prev[0]) % 256)
        code8(bw, (p[2] - prev[2]) % 256)
        prev = p
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    for y in range(2):
        for gx in range(2):
            packed = 0
            for k in range(4):
                col = gx * 4 + k
                packed |= (idx[y][col] if col < w else 0) << (k * 2)
            code8(bw, packed); code8(bw, 0); code8(bw, 0)
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None
    exp_rgb = np.array([[pal[i] for i in row] for row in idx], dtype=np.uint8)
    assert np.array_equal(dec[2][:, :, :3], exp_rgb)
    # alpha is delta-coded too: entry i alpha = 255·(i+1) mod 256
    exp_a = np.array([[(255 * (i + 1)) % 256 for i in row] for row in idx], dtype=np.uint8)
    assert np.array_equal(dec[2][:, :, 3], exp_a)

    # --- LZ77 (linear dist + 2D code {0,1} → dist=w) + color cache
    from gcp_dataengineering_spark.llm_ops.vp8l import _CL_ORDER

    def normal_code(bw, lengths_map, alphabet):
        used = sorted(set(lengths_map.values()) | {0})
        k = len(used)
        if k == 2:
            cl = {s: 1 for s in used}
        elif k == 3:
            cl = {used[0]: 1, used[1]: 2, used[2]: 2}
        else:
            cl = {s: 2 for s in used}
        n_cl = max(_CL_ORDER.index(s) for s in cl) + 1
        bw.write(0, 1); bw.write(n_cl - 4, 4)
        for p in range(n_cl):
            bw.write(cl.get(_CL_ORDER[p], 0), 3)
        bw.write(0, 1)
        nz = sorted((l, s) for s, l in cl.items())
        codes = {}; code = 0; prevl = nz[0][0]
        for l, s in nz:
            code <<= (l - prevl); prevl = l; codes[s] = (l, code); code += 1
        for sym in range(alphabet):
            l, c = codes[lengths_map.get(sym, 0)]
            for i in range(l - 1, -1, -1):
                bw.write((c >> i) & 1, 1)

    def canon(lengths_map):
        nz = sorted((l, s) for s, l in lengths_map.items())
        out = {}; code = 0; prevl = nz[0][0]
        for l, s in nz:
            code <<= (l - prevl); prevl = l; out[s] = (l, code); code += 1
        return out

    def emit(bw, codes, sym):
        l, c = codes[sym]
        for i in range(l - 1, -1, -1):
            bw.write((c >> i) & 1, 1)

    w, h = 4, 3
    A = (255 << 24) | (1 << 16) | (10 << 8) | 2
    B = (255 << 24) | (3 << 16) | (20 << 8) | 4
    ci = ((0x1E35A7BD * A) & 0xFFFFFFFF) >> 30  # 2-bit cache
    bw = BitWriter(); header(bw, w, h)
    bw.write(0, 1)
    bw.write(1, 1); bw.write(2, 4)  # color cache, 2 bits
    bw.write(0, 1)
    green_lens = {10: 2, 20: 2, 258: 2, 256 + 24 + ci: 3, 257: 3}
    normal_code(bw, green_lens, 284)
    normal_code(bw, {1: 1, 3: 1}, 256)
    normal_code(bw, {2: 1, 4: 1}, 256)
    simple_one(bw, 255)
    normal_code(bw, {0: 1, 1: 1}, 40)  # dist syms: 0→code1 (2D {0,1}); 1→code2 (2D {1,0}=1)
    gc, rc, bc = canon(green_lens), canon({1: 1, 3: 1}), canon({2: 1, 4: 1})
    dc = canon({0: 1, 1: 1})
    emit(bw, gc, 10); emit(bw, rc, 1); emit(bw, bc, 2)   # p0 = A
    emit(bw, gc, 258); emit(bw, dc, 1)                    # len 3, dist 1 → A A A
    emit(bw, gc, 257); emit(bw, dc, 0)                    # len 2, dist w (2D)
    emit(bw, gc, 257); emit(bw, dc, 0)                    # len 2, dist w
    emit(bw, gc, 20); emit(bw, rc, 3); emit(bw, bc, 4)    # p8 = B
    emit(bw, gc, 256 + 24 + ci)                           # cache hit → A
    emit(bw, gc, 257); emit(bw, dc, 1)                    # len 2, dist 1 → A A
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None

    def rgba(v):
        return ((v >> 16) & 255, (v >> 8) & 255, v & 255, (v >> 24) & 255)

    exp = np.array(
        [[rgba(A)] * 4, [rgba(A)] * 4, [rgba(B)] + [rgba(A)] * 3], dtype=np.uint8
    )
    assert np.array_equal(dec[2], exp)

    # --- meta prefix image: 2 groups, left half ≠ right half
    w, h = 8, 4
    bw = BitWriter(); header(bw, w, h)
    bw.write(0, 1)
    bw.write(0, 1)          # no cache
    bw.write(1, 1); bw.write(0, 3)  # meta, block 4 → 2×1 meta image
    bw.write(0, 1)          # meta sub-image: no cache
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    code8(bw, 0); code8(bw, 0); code8(bw, 0)  # block 0 → group 0
    code8(bw, 1); code8(bw, 0); code8(bw, 0)  # block 1 → group 1
    for (rr, gg, bb) in [(10, 20, 30), (40, 50, 60)]:
        simple_one(bw, gg); simple_one(bw, rr); simple_one(bw, bb)
        simple_one(bw, 255); simple_one(bw, 0)
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None
    out = dec[2]
    assert (out[:, :4, :3] == np.array([10, 20, 30])).all()
    assert (out[:, 4:, :3] == np.array([40, 50, 60])).all()


def test_vp8l_quarantine_fuzz_and_pipeline_legs(spark):
    """Adversarial contract + integration: corruption fuzz (bit
    flips, truncations, lying chunk sizes) never raises; the
    decode-bomb guard rejects huge declared dims at the header;
    lossy VP8 quarantines; resize_images resamples lossless webp for
    REAL (PIL-free) and emits a decodable same-format thumbnail; the
    perceptual hash of a webp re-encode is bit-identical to the same
    pixels as PPM (cross-codec invariance, extended to webp)."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        nearest_resize,
        ppm_encode,
        resize_images,
    )
    from gcp_dataengineering_spark.llm_ops.phash import decode_gray, dhash64
    from gcp_dataengineering_spark.llm_ops.vp8l import vp8l_decode, vp8l_encode

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    good = vp8l_encode(px)

    # truncation at every length; then 400 random single-bit flips —
    # decode returns None or a valid array, never raises
    for cut in range(0, len(good), 3):
        r = vp8l_decode(good[:cut])
        assert r is None or r[2].shape == (24, 32, 4)
    for _ in range(400):
        blob = bytearray(good)
        i = int(rng.integers(0, len(blob)))
        blob[i] ^= 1 << int(rng.integers(0, 8))
        r = vp8l_decode(bytes(blob))
        assert r is None or (r[2].ndim == 3 and r[2].shape[2] == 4)
    # random garbage bodies
    for _ in range(50):
        body = bytes(rng.integers(0, 256, size=int(rng.integers(0, 80)), dtype=np.uint8))
        assert vp8l_decode(_vp8l_riff(b"\x2f" + body)) is None or True  # no raise
    # decode-bomb: 16383×16383 declared dims reject at the header
    BitWriter, header, *_ = _vp8l_stream_helpers()
    bw = BitWriter(); header(bw, 16383, 16383)
    assert vp8l_decode(_vp8l_riff(bw.done())) is None
    # lossy VP8 quarantines (no VP8L chunk)
    import struct as _struct

    vp8 = (b"RIFF" + _struct.pack("<I", 24) + b"WEBP" + b"VP8 "
           + _struct.pack("<I", 12) + b"\x10\x00\x00\x9d\x01\x2a"
           + _struct.pack("<HH", 32, 24) + b"\x00\x00")
    assert vp8l_decode(vp8) is None

    # resize leg: real VP8L resample, PIL-free, decodable output
    smooth = np.zeros((24, 32, 3), dtype=np.uint8)
    smooth[:, :, 0] = (np.arange(32) * 255 // 31)[None, :]
    smooth[:, :, 1] = (np.arange(24) * 255 // 23)[:, None]
    media = spark.createDataFrame(
        [(1, bytearray(vp8l_encode(smooth))), (2, bytearray(vp8))],
        "media_id long, payload binary",
    )
    rz = {r["media_id"]: r for r in resize_images(media, max_side=16).collect()}
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        assert rz[1]["fmt"] == "webp" and (rz[1]["out_width"], rz[1]["out_height"]) == (16, 12)
        redec = vp8l_decode(bytes(rz[1]["payload_out"]))
        assert redec is not None
        assert np.array_equal(redec[2][:, :, :3], nearest_resize(smooth, 16, 12))
        assert rz[2]["fmt"] is None  # lossy quarantines
    # cross-codec perceptual hash: webp == ppm, bit-identical
    d_webp = dhash64(decode_gray(vp8l_encode(smooth))[3])
    d_ppm = dhash64(decode_gray(ppm_encode(smooth))[3])
    assert d_webp == d_ppm


def test_trigram_perplexity_and_fit_score(spark):
    """Wave-2 r16: (a) the trigram form matches its python twin
    exactly (self-scored, every escape branch exercised); (b) the
    trigram separates memorized/novel/gibberish at least as sharply
    as the bigram on a reference-trained fixture; (c) fit-once /
    score-many (bigram_lm_fit + bigram_lm_score — the deployable
    CCNet form, reference counts persisted instead of recomputed)
    equals the one-shot bigram_perplexity EXACTLY; (d) the pipeline
    perplexity_order knob routes (3 → trigram scores frame) and
    rejects bad orders."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        bigram_lm_fit,
        bigram_lm_score,
        bigram_perplexity,
        trigram_perplexity,
        trigram_perplexity_py,
    )
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat and the dog sat too",
        3: "xyzzy plugh qwerty zork",
        4: "",
        5: "the the the the the",
        6: "cat",
        7: "the cat sat on the mat again and again",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
        for r in trigram_perplexity(df).collect()
    }
    assert got == trigram_perplexity_py(texts)

    # ordering under a reference-trained trigram LM
    fluent = "the quick brown fox jumps over the lazy dog"
    ref = spark.createDataFrame(
        [(i, fluent) for i in range(30)], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, fluent), (2, "the quick brown dog jumps over the lazy fox"),
         (3, "zq glorp wibble frotz yoyodyne plugh")],
        "doc_id long, text string",
    )
    tri = {r["doc_id"]: r["ppl_bits"] for r in trigram_perplexity(score, ref=ref).collect()}
    assert tri[1] < tri[2] < tri[3]

    # fit/score == one-shot, exactly (all three columns)
    one = {r["doc_id"]: tuple(r) for r in bigram_perplexity(score, ref=ref).collect()}
    model = bigram_lm_fit(ref)
    two = {r["doc_id"]: tuple(r) for r in bigram_lm_score(score, model).collect()}
    assert one == two

    # pipeline knob: order 3 routes to the trigram scorer
    def page(i):
        return (i, fluent + " " + " ".join(f"w{i}x{j} the u{i}z{j}" for j in range(8)) + ".",
                f"s{i % 2}", "en")

    docs = spark.createDataFrame([page(i) for i in range(6)],
                                 "doc_id long, text string, source string, lang string")
    stages = build_training_corpus(
        docs,
        config=PipelineConfig(
            perplexity_max_bits=50.0, perplexity_ref=ref, perplexity_order=3,
            shard_budget_tokens=500, minhash_hashes=16, lsh_bands=4,
        ),
    )
    assert "perplexity" in stages
    assert stages["perplexity"].count() == 6
    # order 5 without KN smoothing is rejected (no laplace form at
    # that depth); order 6 is out of range; pruning needs KN smoothing
    with _pytest.raises(ValueError, match="perplexity_order"):
        build_training_corpus(
            docs, config=PipelineConfig(perplexity_max_bits=1.0, perplexity_order=5)
        )
    with _pytest.raises(ValueError, match="perplexity_order"):
        build_training_corpus(
            docs, config=PipelineConfig(perplexity_max_bits=1.0, perplexity_order=6,
                                        perplexity_smoothing="kn")
        )
    with _pytest.raises(ValueError, match="perplexity_prune"):
        build_training_corpus(
            docs, config=PipelineConfig(perplexity_max_bits=1.0, perplexity_order=3,
                                        perplexity_prune={3: 2})
        )

    # r17 wave 3: orders 4/5 route through the generalized KN, with
    # KenLM count-threshold pruning available — the published CCNet
    # depth inside the composed build
    from gcp_dataengineering_spark.llm_ops.ngram_kn import kn_perplexity

    stages5 = build_training_corpus(
        docs,
        config=PipelineConfig(
            perplexity_max_bits=50.0, perplexity_ref=ref, perplexity_order=5,
            perplexity_smoothing="kn", perplexity_prune={4: 2, 5: 2},
            shard_budget_tokens=500, minhash_hashes=16, lsh_bands=4,
        ),
    )
    got5 = {r["doc_id"]: tuple(r) for r in stages5["perplexity"].collect()}
    exp5 = {
        r["doc_id"]: tuple(r)
        for r in kn_perplexity(
            docs, ref=ref, order=5, prune={4: 2, 5: 2}
        ).collect()
    }
    assert got5 == exp5

    # KN prunes at any order: order 3 with {3: 2} is the same engine
    stages3 = build_training_corpus(
        docs,
        config=PipelineConfig(
            perplexity_max_bits=50.0, perplexity_ref=ref, perplexity_order=3,
            perplexity_smoothing="kn", perplexity_prune={3: 2},
            shard_budget_tokens=500, minhash_hashes=16, lsh_bands=4,
        ),
    )
    got3 = {r["doc_id"]: tuple(r) for r in stages3["perplexity"].collect()}
    exp3 = {
        r["doc_id"]: tuple(r)
        for r in kn_perplexity(docs, ref=ref, order=3, prune={3: 2}).collect()
    }
    assert got3 == exp3


def test_vp8l_simple_code_one_bit_first_symbol():
    """Post-close r16 addendum (promoted from the wave-2 fuzz receipt
    so it runs every round): the simple-prefix-code branch where the
    FIRST symbol is the 1-bit form — a 2-symbol green code {1, 200}
    with a 1-bit first symbol, and 1-bit single-symbol codes for
    red/blue/distance. Zero-bit and one-bit symbol reads are easy to
    get subtly wrong in an LSB-first reader; pin them."""
    import struct as _struct

    from gcp_dataengineering_spark.llm_ops.vp8l import _BitWriter, vp8l_decode

    bw = _BitWriter()
    bw.write(0x2F, 8); bw.write(3, 14); bw.write(0, 14); bw.write(0, 1); bw.write(0, 3)
    bw.write(0, 1)                  # no transforms
    bw.write(0, 1); bw.write(0, 1)  # no cache, no meta
    # green: simple, 2 symbols, 1-BIT first (1), 8-bit second (200)
    bw.write(1, 1); bw.write(1, 1); bw.write(0, 1); bw.write(1, 1); bw.write(200, 8)
    # red: simple 1 symbol, 1-bit form, value 0
    bw.write(1, 1); bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    # blue: simple 1 symbol, 1-bit form, value 1
    bw.write(1, 1); bw.write(0, 1); bw.write(0, 1); bw.write(1, 1)
    # alpha: 8-bit 255; distance: 1-bit 0
    bw.write(1, 1); bw.write(0, 1); bw.write(1, 1); bw.write(255, 8)
    bw.write(1, 1); bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    for g in (0, 1, 1, 0):  # greens 1, 200, 200, 1
        bw.write(g, 1)
    body = bw.done()
    chunk = b"VP8L" + _struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    dec = vp8l_decode(b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk)
    assert dec is not None
    w, h, px = dec
    assert (w, h) == (4, 1)
    assert list(px[0, :, 1]) == [1, 200, 200, 1]
    assert (px[:, :, 0] == 0).all() and (px[:, :, 2] == 1).all()
    assert (px[:, :, 3] == 255).all()


def test_vp8l_predictor_spec_semantics_and_packed_width():
    """r17 (ADVICE r16): three spec-conformance fixes, each pinned by
    a hand-built bit-exact stream against an independent per-channel
    reference implementation of the spec predictors:

    (1) predictor 13 (ClampAddSubtractHalf) uses C truncating
        division (a-b)/2 — a flooring shift is off by one whenever
        avg2(L,T) < TL with an odd difference (libwebp
        AddSubtractComponentHalf);
    (2) predictor 11 (Select) returns TOP on a Manhattan-distance
        tie with L != T (spec: return L only when pL < pT; libwebp:
        (pa_minus_pb <= 0) ? top : left);
    (3) COLOR_INDEXING read BEFORE a PREDICTOR transform shrinks the
        working width (libwebp hdr->xsize_) — the predictor's tiles
        size at, and its inverse applies at, the PACKED width."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.vp8l import vp8l_decode

    BitWriter, header, simple_one, flat_code, code8 = _vp8l_stream_helpers()

    # independent spec predictors over (r, g, b) channel tuples
    # (alpha is 255 everywhere below: residual 0 under either rule)
    def clamp255(v):
        return 0 if v < 0 else (255 if v > 255 else v)

    def p_avg2(a, b):
        return tuple((x + y) >> 1 for x, y in zip(a, b))

    def p13(L, T, TL):
        ave = p_avg2(L, T)
        out = []
        for a, b in zip(ave, TL):
            d = a - b
            out.append(clamp255(a + ((d >> 1) if d >= 0 else -((-d) >> 1))))
        return tuple(out)

    def p11(L, T, TL):
        pl = pt = 0
        for l, t, tl in zip(L, T, TL):
            pr = l + t - tl
            pl += abs(pr - l)
            pt += abs(pr - t)
        return L if pl < pt else T

    def run_mode(mode, px, pred_fn):
        """2x2 image, a 1x1 mode image selecting ``mode``; residuals
        from the independent reference; decode must round-trip."""
        h, w = 2, 2
        bw = BitWriter(); header(bw, w, h)
        bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)  # predictor, bits=2
        bw.write(0, 1)  # mode sub-image: no cache
        flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
        simple_one(bw, 0); simple_one(bw, 0)
        code8(bw, mode); code8(bw, 0); code8(bw, 0)
        bw.write(0, 1)                  # transforms done
        bw.write(0, 1); bw.write(0, 1)  # no cache, no meta
        flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
        simple_one(bw, 0); simple_one(bw, 0)  # alpha residual 0
        for y in range(h):
            for x in range(w):
                if y == 0 and x == 0:
                    pred = (0, 0, 0)
                elif y == 0:
                    pred = px[y][x - 1]
                elif x == 0:
                    pred = px[y - 1][x]
                else:
                    pred = pred_fn(px[y][x - 1], px[y - 1][x], px[y - 1][x - 1])
                r, g, b = (int(px[y][x][i] - pred[i]) % 256 for i in range(3))
                code8(bw, g); code8(bw, r); code8(bw, b)
        dec = vp8l_decode(_vp8l_riff(bw.done()))
        assert dec is not None
        exp = np.array(px, dtype=np.uint8)
        assert np.array_equal(dec[2][:, :, :3], exp), mode
        assert (dec[2][:, :, 3] == 255).all()

    # (1) mode 13: at (1,1) the green delta is -3 (odd, negative:
    # truncate -> 9, floor -> 8) and blue -5 (truncate 28, floor 27)
    px13 = [[(15, 13, 35), (20, 10, 30)],
            [(20, 10, 30), (100, 101, 102)]]
    L, T, TL = px13[1][0], px13[0][1], px13[0][0]
    ave = p_avg2(L, T)
    deltas = [a - b for a, b in zip(ave, TL)]
    assert any(d < 0 and d % 2 != 0 for d in deltas)  # the discriminator
    assert p13(L, T, TL) != tuple(
        clamp255(a + ((a - b) >> 1)) for a, b in zip(ave, TL)
    )  # flooring shift would differ on these pixels
    run_mode(13, px13, p13)

    # (2) mode 11: at (1,1) green L=10 T=20 TL=15 is an exact
    # Manhattan tie with L != T -> spec picks TOP
    px11 = [[(5, 15, 7), (5, 20, 7)],
            [(5, 10, 7), (60, 61, 62)]]
    L, T, TL = px11[1][0], px11[0][1], px11[0][0]
    pl = sum(abs((l + t - tl) - l) for l, t, tl in zip(L, T, TL))
    pt = sum(abs((l + t - tl) - t) for l, t, tl in zip(L, T, TL))
    assert pl == pt and L != T  # the tie the fix pins
    assert p11(L, T, TL) == T
    run_mode(11, px11, p11)

    # (3) palette (4 colors, 2-bit bundling) read FIRST, then a
    # predictor: the 6-wide image packs to width 2, and the predictor
    # (mode 1, left) must invert at the packed width
    w, h = 6, 2
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]
    idx = [[0, 1, 2, 3, 0, 1], [3, 2, 1, 0, 3, 2]]
    packed_w = (w + 3) >> 2
    packed = [[0] * packed_w for _ in range(h)]
    for y in range(h):
        for gx in range(packed_w):
            pb = 0
            for k in range(4):
                col = gx * 4 + k
                pb |= (idx[y][col] if col < w else 0) << (k * 2)
            packed[y][gx] = pb

    bw = BitWriter(); header(bw, w, h)
    # color-indexing transform first
    bw.write(1, 1); bw.write(3, 2); bw.write(3, 8)  # psize-1 = 3
    bw.write(0, 1)  # palette sub-image: no cache
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    flat_code(bw, 256); simple_one(bw, 0)  # alpha coded per entry
    prev = (0, 0, 0, 0)  # (r, g, b, a) cumulative
    for i, p in enumerate(pal):
        a = 255 if i == 0 else 0  # entry alphas: 255, 255, 255, 255
        code8(bw, (p[1] - prev[1]) % 256)
        code8(bw, (p[0] - prev[0]) % 256)
        code8(bw, (p[2] - prev[2]) % 256)
        code8(bw, a)
        prev = (p[0], p[1], p[2], prev[3] + a)
    # predictor transform second: tiles at the PACKED width
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)  # bits=2, 1x1 tiles
    bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    code8(bw, 1); code8(bw, 0); code8(bw, 0)  # mode 1 (left)
    bw.write(0, 1)                  # transforms done
    bw.write(0, 1); bw.write(0, 1)  # no cache, no meta
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)  # alpha residual 0
    # residuals of the PACKED pixels (g = bundled bits, r = b = 0)
    for y in range(h):
        for x in range(packed_w):
            if y == 0 and x == 0:
                pg = 0
            elif y == 0:
                pg = packed[y][x - 1]
            elif x == 0:
                pg = packed[y - 1][x]
            else:
                pg = packed[y][x - 1]  # mode 1: left
            code8(bw, (packed[y][x] - pg) % 256)
            code8(bw, 0); code8(bw, 0)
    dec = vp8l_decode(_vp8l_riff(bw.done()))
    assert dec is not None, "packed-width predictor stream must decode"
    dw, dh, out = dec
    assert (dw, dh) == (w, h)
    exp_rgb = np.array([[pal[i] for i in row] for row in idx], dtype=np.uint8)
    assert np.array_equal(out[:, :, :3], exp_rgb)
    assert (out[:, :, 3] == 255).all()


def test_kn_perplexity_three_way_parity(spark):
    """r17: Kneser-Ney smoothing — the bigram/trigram
    ``smoothing="kn"`` front-ends == ngram_kn's python twin == its
    DuckDB replay (``kn_perplexity_py``/``_sql`` at order 2/3)
    EXACTLY (n_trans, BIGINT nll_fp, rounded ppl_bits) across the
    full matrix: order 2 and 3, self-scored and ref-split (the
    ref-split drives every unseen-bigram/unseen-context escape
    branch — a self-scored corpus has no unseen n-grams). The
    Laplace twins and replays are checked ref-split too."""
    import duckdb
    import pandas as pd

    from gcp_dataengineering_spark.llm_ops import ngram_kn as NK
    from gcp_dataengineering_spark.llm_ops import ngram_lm as NL

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat and the dog sat too",
        3: "san francisco is in california and san francisco is foggy",
        4: "",
        5: "the the the the the",
        6: "cat",
        7: "a nice day and a nice cat and a nice dog",
        8: "the dog sat on the mat the dog sat on the mat",
        # probes outside the ref split: novel bigrams, novel tokens,
        # fully unseen contexts (drives escape branches at both orders)
        9: "nice francisco nice day the cat sat on the dog",
        10: "zq1 vx2 zq1 vx2 zq1",
        11: "on the mat the cat sat quietly",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    ref = df.filter("doc_id <= 8")
    rt = {k: v for k, v in texts.items() if k <= 8}
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
    )
    for order, fn in ((2, NL.bigram_perplexity), (3, NL.trigram_perplexity)):
        got_self = {
            r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
            for r in fn(df, smoothing="kn").collect()
        }
        exp_self = NK.kn_perplexity_py(texts, order=order)
        assert got_self == exp_self
        duck_self = {
            r[0]: (r[1], r[2], r[3])
            for r in con.execute(NK.kn_perplexity_sql(order=order)).fetchall()
        }
        assert duck_self == exp_self
        got_ref = {
            r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
            for r in fn(df, ref=ref, smoothing="kn").collect()
        }
        exp_ref = NK.kn_perplexity_py(texts, order=order, ref_texts=rt)
        assert got_ref == exp_ref
        duck_ref = {
            r[0]: (r[1], r[2], r[3])
            for r in con.execute(
                NK.kn_perplexity_sql(order=order, ref_filter="doc_id <= 8")
            ).fetchall()
        }
        assert duck_ref == exp_ref
        # KN genuinely differs from laplace (same fixture, same split)
        assert got_ref != {
            r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
            for r in fn(df, ref=ref).collect()
        }
    # laplace ref-split parity too (the ref_filter leg is new in r17)
    for fn, fnpy, fnsql in (
        (NL.bigram_perplexity, NL.bigram_perplexity_py, NL.bigram_perplexity_sql),
        (NL.trigram_perplexity, NL.trigram_perplexity_py, NL.trigram_perplexity_sql),
    ):
        got = {
            r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
            for r in fn(df, ref=ref).collect()
        }
        assert got == fnpy(texts, ref_texts=rt)
        duck = {
            r[0]: (r[1], r[2], r[3])
            for r in con.execute(fnsql(ref_filter="doc_id <= 8")).fetchall()
        }
        assert duck == got


def test_kn_discount_quantization_properties():
    """The quantized Ney discount: integer half-up of 256·n1/(n1+2n2),
    clamped to [1, 255], D=1/2 on degenerate count-of-counts."""
    from fractions import Fraction

    from gcp_dataengineering_spark.llm_ops.ngram_kn import KN_DDEN, _kn_discount

    assert KN_DDEN == 256
    assert _kn_discount(0, 5) == 128      # no singletons -> 1/2
    assert _kn_discount(0, 0) == 128
    assert _kn_discount(5, 0) == 255      # D -> 1 clamps to 255/256
    assert _kn_discount(1, 10**9) == 1    # tiny D clamps up to 1/256
    for n1, n2 in [(3, 7), (10, 1), (1, 1), (997, 12), (2, 3)]:
        exact = Fraction(KN_DDEN * n1, n1 + 2 * n2)
        want = int(exact) + (1 if exact - int(exact) >= Fraction(1, 2) else 0)
        assert _kn_discount(n1, n2) == max(1, min(255, want)), (n1, n2)
    # sub-1/256 discounts clamp up to 1 (escapes must keep mass)
    assert _kn_discount(1, 255) == 1
    assert _kn_discount(3, 509) == 1
    # a genuine .5 tie rounds UP (half-up, the three-engine rule):
    # 256*12/(12 + 2*1018) = 3072/2048 = 1.5 exactly
    assert 256 * 12 / (12 + 2 * 1018) == 1.5
    assert _kn_discount(12, 1018) == 2


def test_kn_beats_laplace_on_rare_context_fixture(spark):
    """The published KN motivation, pinned: a word seen in MANY
    contexts ("day") is a plausible novel continuation; a word
    welded to one context ("francisco", only ever after "san") is
    not. Laplace-escape scores both probes identically (same corpus
    unigram count); KN separates them at both orders."""
    from gcp_dataengineering_spark.llm_ops import ngram_kn as NK
    from gcp_dataengineering_spark.llm_ops import ngram_lm as NL

    ref_texts = {
        1: "san francisco",
        2: "san francisco",
        3: "san francisco",
        4: "one day",
        5: "another day",
        6: "every day",
        7: "nice weather nice weather",
    }
    probes = {101: "nice day", 102: "nice francisco"}
    texts = {**ref_texts, **probes}
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    ref = df.filter("doc_id <= 7")
    rt = {k: v for k, v in texts.items() if k <= 7}

    lap = {
        r["doc_id"]: r["ppl_bits"]
        for r in NL.bigram_perplexity(df, ref=ref, min_count=1).collect()
    }
    kn = {
        r["doc_id"]: r["ppl_bits"]
        for r in NL.bigram_perplexity(
            df, ref=ref, min_count=1, smoothing="kn"
        ).collect()
    }
    # identical unigram counts -> laplace CANNOT tell the probes apart
    assert lap[101] == lap[102]
    # continuation counts can: N1+(.,day)=3 contexts, N1+(.,francisco)=1
    assert kn[101] < kn[102]
    # twins agree on the discrimination
    kn_py = NK.kn_perplexity_py(texts, order=2, min_count=1, ref_texts=rt)
    assert kn_py[101][2] == kn[101] and kn_py[102][2] == kn[102]
    # trigram KN inherits the separation through its continuation base
    kn3 = {
        r["doc_id"]: r["ppl_bits"]
        for r in NL.trigram_perplexity(
            df, ref=ref, min_count=1, smoothing="kn"
        ).collect()
    }
    lap3 = {
        r["doc_id"]: r["ppl_bits"]
        for r in NL.trigram_perplexity(df, ref=ref, min_count=1).collect()
    }
    assert lap3[101] == lap3[102]
    assert kn3[101] < kn3[102]


def _wav16(samples, ch=1, sr=8000):
    """Hand-built 16-bit PCM WAV for the audio near-dup tests."""
    import struct as _struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    return (
        b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
        + b"data" + _struct.pack("<I", len(data))
        + data
    )


def test_audio_fingerprint_invariances_and_quarantine():
    """r17 audio perceptual fingerprint contracts, each provable:
    amplitude scaling is a fingerprint identity (energies scale c²,
    strict inequalities survive); an exact k× repeat-upsample of a
    65-aligned clip is an identity (every window energy scales k);
    stereo folds by per-frame channel SUM (a stereo split of a mono
    clip fingerprints identically); a single boosted window moves
    only its two boundary bits; < 65 frames or non-WAV quarantines."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        AUDIO_FP_WINDOWS,
        audio_fingerprint_py,
    )

    assert AUDIO_FP_WINDOWS == 65
    rng = np.random.default_rng(17)
    n = 650  # 65 * 10 — exact window split
    base = rng.integers(-8000, 8001, size=n).astype(np.int64)

    fp0 = audio_fingerprint_py(_wav16(base))
    assert fp0 is not None
    # amplitude re-encode: x2
    assert audio_fingerprint_py(_wav16(base * 2)) == fp0
    # exact 3x repeat-upsample ("same audio at 3x the rate")
    assert audio_fingerprint_py(_wav16(np.repeat(base, 3), sr=24000)) == fp0
    # stereo split whose per-frame channel sum is the mono signal
    st = np.stack([base // 2, base - base // 2], axis=1)
    assert audio_fingerprint_py(_wav16(st, ch=2)) == fp0
    # boosted window 7 (frames 70..79): energy x9 — only bits 6/7 move
    boosted = base.copy()
    boosted[70:80] *= 3
    fpb = audio_fingerprint_py(_wav16(boosted))
    diff = (fp0 & 0xFFFFFFFFFFFFFFFF) ^ (fpb & 0xFFFFFFFFFFFFFFFF)
    assert bin(diff).count("1") <= 2
    assert diff & ~((1 << 6) | (1 << 7)) == 0  # no bit outside 6/7
    # an unrelated clip is far away
    other = rng.integers(-8000, 8001, size=n).astype(np.int64)
    fpo = audio_fingerprint_py(_wav16(other))
    assert bin((fp0 & 0xFFFFFFFFFFFFFFFF) ^ (fpo & 0xFFFFFFFFFFFFFFFF)).count("1") > 3
    # quarantine: too short, 8-bit ok but short, not audio
    assert audio_fingerprint_py(_wav16(base[:64])) is None
    assert audio_fingerprint_py(_wav16(base[:65])) is not None
    assert audio_fingerprint_py(b"not a wav") is None
    assert audio_fingerprint_py(None) is None


def test_audio_neardup_groups_planted_duplicates(spark):
    """End-to-end audio_neardup: the amplitude re-encode, exact
    repeat-upsample and window-boost variants of one clip group
    together; an unrelated clip stays a singleton; quarantined
    payloads are absent. Candidate plan is the banded equi-join —
    no cartesian (the image_neardup receipt, audio flavor)."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        audio_fingerprint_py,
        audio_neardup,
        audio_perceptual_fp,
    )
    from gcp_dataengineering_spark.llm_ops.phash import phash_candidate_pairs

    rng = np.random.default_rng(23)
    n = 650
    base = rng.integers(-8000, 8001, size=n).astype(np.int64)
    boosted = base.copy()
    boosted[70:80] *= 3
    other = rng.integers(-8000, 8001, size=n).astype(np.int64)
    rows = [
        (1, bytearray(_wav16(base))),
        (2, bytearray(_wav16(base * 2))),               # re-encode
        (3, bytearray(_wav16(np.repeat(base, 2), sr=16000))),  # resample
        (4, bytearray(_wav16(boosted))),                # near variant
        (5, bytearray(_wav16(other))),                  # unrelated
        (6, bytearray(b"OggS not in scope")),           # quarantine
        (7, bytearray(_wav16(base[:64]))),              # too short
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    fps = {r["media_id"]: r for r in audio_perceptual_fp(media).collect()}
    assert fps[6]["afp"] is None and fps[7]["afp"] is None
    assert fps[1]["afp"] == fps[2]["afp"] == fps[3]["afp"]

    groups = {r["media_id"]: r["group_id"] for r in audio_neardup(media).collect()}
    assert set(groups) == {1, 2, 3, 4, 5}
    assert groups[1] == groups[2] == groups[3] == groups[4] == 1
    assert groups[5] == 5

    # quarantined clips in the same Arrow batch as the good ones
    one = media.coalesce(1)
    payloads = {mid: bytes(p) for mid, p in rows}
    for r in audio_perceptual_fp(one).collect():
        assert r["afp"] == audio_fingerprint_py(payloads[r["media_id"]]), r["media_id"]
    assert {r["media_id"]: r["group_id"] for r in audio_neardup(one).collect()} == groups

    plan = phash_candidate_pairs(
        audio_perceptual_fp(media), hash_col="afp", id_col="media_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # guard: radius must stay under the pigeonhole completeness bound
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        audio_neardup(media, max_hamming=4, bands=4)


def test_mp4_audio_track_bridge_same_audio_different_container(spark):
    """r18 (r17 verdict item 7): the SAME audio packaged as a WAV and
    as a PCM sound track inside an MP4 (full stsd/stsz/stsc/stco
    sample-table walk, both 'sowt' LE and 'twos' BE, ragged chunks)
    fingerprints identically and audio_neardup(containers='wav+mp4')
    groups the two packagings together; the default WAV-only mode
    (the oracle-pinned behavior) quarantines the MP4; a compressed
    (mp4a) track quarantines in both modes."""
    import numpy as np

    from gcp_dataengineering_spark.llm_ops.multimodal import (
        audio_fingerprint_py,
        audio_neardup,
        audio_perceptual_fp,
        av_audio_fingerprint_py,
        mp4_pcm_decode,
        synth_envelope_wav,
        synth_pcm_mp4,
        wav_pcm_decode,
    )

    wav = synth_envelope_wav(0)
    sr, ch, _, x = wav_pcm_decode(wav)
    mp4_le = synth_pcm_mp4(x, sr, fourcc="sowt", n_chunks=3)
    mp4_be = synth_pcm_mp4(x, sr, fourcc="twos", n_chunks=7)
    other = synth_envelope_wav(40)

    # bit-exact decode round trip + identical fingerprints
    assert np.array_equal(mp4_pcm_decode(mp4_le)[3], x)
    assert np.array_equal(mp4_pcm_decode(mp4_be)[3], x)
    fw = audio_fingerprint_py(wav)
    assert av_audio_fingerprint_py(mp4_le) == ("mp4pcm", x.shape[0], fw)
    assert av_audio_fingerprint_py(mp4_be) == ("mp4pcm", x.shape[0], fw)

    rows = [
        (1, bytearray(wav)),
        (2, bytearray(mp4_le)),
        (3, bytearray(mp4_be)),
        (4, bytearray(other)),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    bridged = {
        r["media_id"]: r
        for r in audio_perceptual_fp(media, containers="wav+mp4").collect()
    }
    assert bridged[1]["fmt"] == "wav" and bridged[2]["fmt"] == "mp4pcm"
    assert bridged[1]["afp"] == bridged[2]["afp"] == bridged[3]["afp"]

    groups = {
        r["media_id"]: r["group_id"]
        for r in audio_neardup(media, containers="wav+mp4").collect()
    }
    assert groups[1] == groups[2] == groups[3] == 1
    assert groups[4] == 4

    # default mode: MP4 payloads quarantine (oracle-pinned behavior)
    plain = {
        r["media_id"]: r for r in audio_perceptual_fp(media).collect()
    }
    assert plain[2]["afp"] is None and plain[3]["afp"] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="containers"):
        audio_perceptual_fp(media, containers="wav+ogg")


def test_video_fingerprint_invariants():
    """r18 unit level: the mdat-envelope container fingerprint is
    byte-remux invariant (box reorder + metadata edits + free boxes
    leave it identical), exact-2×-byte-repeat invariant, confines
    the window-7 perturbation to bits 6/7, and quarantines
    everything that is not an MP4 with a ≥65-byte mdat."""
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        synth_video_payload,
        video_fingerprint_py,
    )

    f0, d0, c0 = video_fingerprint_py(synth_video_payload(0))
    f1, d1, c1 = video_fingerprint_py(synth_video_payload(1))  # remux
    f2, _, _ = video_fingerprint_py(synth_video_payload(2))    # window 7
    f3, _, _ = video_fingerprint_py(synth_video_payload(3))    # 2x repeat
    assert f0 == f1 and d0 == d1 and c0 == c1
    assert f0 == f3
    diff = (f0 & 0xFFFFFFFFFFFFFFFF) ^ (f2 & 0xFFFFFFFFFFFFFFFF)
    assert bin(diff).count("1") <= 2
    assert diff & ~((1 << 6) | (1 << 7)) == 0
    # unrelated group is far away
    fo, _, _ = video_fingerprint_py(synth_video_payload(40))
    assert bin((f0 & 0xFFFFFFFFFFFFFFFF) ^ (fo & 0xFFFFFFFFFFFFFFFF)).count("1") > 3
    # quarantine: not MP4 / MP4 without mdat / short mdat / None
    assert video_fingerprint_py(b"RIFF....WAVEnot video") is None
    import struct as _s

    ftyp = _s.pack(">I", 16) + b"ftypisom" + _s.pack(">I", 0)
    assert video_fingerprint_py(ftyp) is None  # no mdat
    short = ftyp + _s.pack(">I", 8 + 64) + b"mdat" + b"\x01" * 64
    assert video_fingerprint_py(short) is None  # mdat < 65 bytes
    ok = ftyp + _s.pack(">I", 8 + 65) + b"mdat" + b"\x01" * 65
    assert video_fingerprint_py(ok) is not None
    assert video_fingerprint_py(None) is None
    assert video_fingerprint_py(b"") is None


def test_video_neardup_groups_planted_duplicates(spark):
    """End-to-end video_neardup: the remux twin, exact 2× byte
    repeat and window-perturbed variants of one clip group together;
    an unrelated clip stays a singleton; quarantined payloads are
    absent; a fingerprint-identical clip with a DIFFERENT duration
    is NOT merged (the container-signal guard); candidate plan is
    the banded equi-join — no cartesian (the image/audio receipt,
    video flavor)."""
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        synth_video_payload,
        video_container_fp,
        video_fingerprint_py,
        video_neardup,
    )
    from gcp_dataengineering_spark.llm_ops.phash import phash_candidate_pairs

    p0 = synth_video_payload(0)
    # duration-guard foil: byte-identical to p0 except the mvhd
    # duration field (mvhd content duration at ftyp 16 + moov hdr 8
    # + mvhd hdr 8 + version/flags 4 + creation 4 + modification 4 +
    # timescale 4 = offset 48) — fingerprint identical, duration 9s
    import struct as _s

    foil = bytearray(p0)
    assert foil[44:48] == _s.pack(">I", 1000)  # timescale sanity
    foil[48:52] = _s.pack(">I", 9000)
    rows = [
        (0, bytearray(p0)),
        (1, bytearray(synth_video_payload(1))),
        (2, bytearray(synth_video_payload(2))),
        (3, bytearray(synth_video_payload(3))),
        (40, bytearray(synth_video_payload(40))),   # unrelated group
        (90, bytearray(b"not an mp4 at all")),      # quarantine
        (91, foil),                                  # duration foil
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    fps = {r["media_id"]: r for r in video_container_fp(media).collect()}
    assert fps[90]["vfp"] is None
    assert fps[0]["vfp"] == fps[1]["vfp"] == fps[3]["vfp"] == fps[91]["vfp"]
    assert fps[91]["duration_ms"] == 9000
    assert fps[0]["codec"] == "avc1"

    groups = {r["media_id"]: r["group_id"] for r in video_neardup(media).collect()}
    assert set(groups) == {0, 1, 2, 3, 40, 91}
    assert groups[0] == groups[1] == groups[2] == groups[3] == 0
    assert groups[40] == 40
    assert groups[91] == 91  # same fingerprint, wrong duration

    # the quarantined payload in the same Arrow batch as the good ones
    one = media.coalesce(1)
    payloads = {mid: bytes(p) for mid, p in rows}
    for r in video_container_fp(one).collect():
        got = video_fingerprint_py(payloads[r["media_id"]])
        assert r["vfp"] == (None if got is None else got[0]), r["media_id"]
    assert {r["media_id"]: r["group_id"] for r in video_neardup(one).collect()} == groups

    plan = phash_candidate_pairs(
        video_container_fp(media), hash_col="vfp", id_col="media_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        video_neardup(media, max_hamming=4, bands=4)


def test_payload_operators_reject_nonpositive_batch_rows(spark):
    """Every one-row-per-payload operator shares one batch_rows rule:
    below 1 is a ValueError when the operator is called, before any
    Spark job runs (this test runs none)."""
    from gcp_dataengineering_spark.llm_ops.docformats import extract_documents
    from gcp_dataengineering_spark.llm_ops.multimodal import (
        audio_pcm_stats,
        audio_perceptual_fp,
        decode_av_headers,
        decode_image_headers,
        decode_media_meta,
        resize_images,
        video_container_fp,
    )
    from gcp_dataengineering_spark.llm_ops.pdf import pdf_text_extract
    from gcp_dataengineering_spark.llm_ops.phash import image_perceptual_hash

    media = spark.createDataFrame(
        [(1, "image/png", bytearray(b"x"))],
        "media_id long, media_type string, payload binary",
    )
    docs = media.select(F.col("media_id").alias("doc_id"), "payload")
    ops = [
        lambda n: decode_media_meta(media, fake=True, batch_rows=n),
        lambda n: decode_image_headers(media, batch_rows=n),
        lambda n: decode_av_headers(media, batch_rows=n),
        lambda n: audio_pcm_stats(media, batch_rows=n),
        lambda n: audio_perceptual_fp(media, batch_rows=n),
        lambda n: video_container_fp(media, batch_rows=n),
        lambda n: resize_images(media, batch_rows=n),
        lambda n: image_perceptual_hash(media, batch_rows=n),
        lambda n: pdf_text_extract(media, batch_rows=n),
        lambda n: extract_documents(docs, batch_rows=n),
    ]
    for op in ops:
        for n in (0, -1):
            with pytest.raises(ValueError, match="batch_rows"):
                op(n)
        assert op(1).columns  # the smallest legal value builds the plan


def test_lm_fit_score_matrix_equals_one_shot(spark, tmp_path):
    """r17: the deployable fit-once/score-many split covers the full
    matrix — order 2 and 3, laplace and kn — and each combination is
    EXACTLY equal to its one-shot ref-trained form. Laplace fit and
    one-shot share ngram_lm's _laplace_fit and _laplace_score; KN fit and
    one-shot are ngram_kn's kn_lm_fit/kn_lm_score and kn_perplexity
    (the independent references are the twins and DuckDB replays,
    test_ngram_kn.py). A trigram-KN model survives an
    lm_save/lm_load parquet round trip bit-exact, and lm_score
    dispatches by the model's smoothing and order."""
    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        bigram_lm_fit,
        bigram_perplexity,
        lm_load,
        lm_save,
        lm_score,
        trigram_lm_fit,
        trigram_perplexity,
    )

    ref_texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat and the dog sat too",
        3: "a nice day and a nice cat and a nice dog",
        4: "the dog sat on the mat the dog sat on the mat",
    }
    score_texts = dict(ref_texts)
    score_texts.update({
        10: "nice dog nice mat the cat ran",   # novel bigrams/contexts
        11: "zq1 vx2 zq1",                     # all-unk
        12: "",
    })
    ref = spark.createDataFrame(list(ref_texts.items()), "doc_id long, text string")
    docs = spark.createDataFrame(list(score_texts.items()), "doc_id long, text string")

    def rows(df):
        return {
            r["doc_id"]: (r["n_trans"], r["nll_fp"], r["ppl_bits"])
            for r in df.collect()
        }

    for sm in ("laplace", "kn"):
        m2 = bigram_lm_fit(ref, smoothing=sm)
        assert rows(lm_score(docs, m2)) == rows(
            bigram_perplexity(docs, ref=ref, smoothing=sm)
        ), ("order 2", sm)
        m3 = trigram_lm_fit(ref, smoothing=sm)
        assert rows(lm_score(docs, m3)) == rows(
            trigram_perplexity(docs, ref=ref, smoothing=sm)
        ), ("order 3", sm)

    # persistence round trip: trigram KN through parquet + meta.json
    m3kn = trigram_lm_fit(ref, smoothing="kn")
    path = str(tmp_path / "lm3kn")
    lm_save(m3kn, path)
    reloaded = lm_load(spark, path)
    assert reloaded["order"] == 3 and reloaded["smoothing"] == "kn"
    assert reloaded["dn3"] == m3kn["dn3"] and reloaded["dn2"] == m3kn["dn2"]
    assert rows(lm_score(docs, reloaded)) == rows(
        trigram_perplexity(docs, ref=ref, smoothing="kn")
    )


def test_lm_score_rejects_stale_kn_models(spark):
    """A KN model in the retired order-2/3 table layout (smoothing
    "kn", no impl — what bigram_lm_fit/trigram_lm_fit(smoothing="kn")
    saved before KN moved to ngram_kn) fails with a ValueError that
    says to refit, from lm_score and from both order-specific
    scorers — never a bare KeyError mid-plan."""
    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        bigram_lm_score,
        lm_score,
        trigram_lm_score,
    )

    docs = spark.createDataFrame([(1, "the cat sat")], "doc_id long, text string")
    vocab = spark.createDataFrame([("the",), ("cat",)], "word string")
    c2 = spark.createDataFrame([("<s>", "the", 1)], "prev string, token string, c2 long")
    stale2 = {"order": 2, "smoothing": "kn", "frac_bits": 16, "vocab": vocab,
              "c2": c2, "ctx": c2, "cont": c2, "dnum": 128, "l_n1pp": 65536}
    c3 = spark.createDataFrame(
        [("<s>", "<s>", "the", 1)], "prev2 string, prev string, token string, c3 long"
    )
    stale3 = {"order": 3, "smoothing": "kn", "frac_bits": 16, "vocab": vocab,
              "c3": c3, "ctx3": c3, "cc2": c2, "ctx2": c2, "cont1": c2,
              "dn3": 128, "dn2": 128, "l_n1pp2": 65536}
    for model, scorer in ((stale2, bigram_lm_score), (stale3, trigram_lm_score)):
        with pytest.raises(ValueError, match="refit"):
            lm_score(docs, model)
        with pytest.raises(ValueError, match="refit"):
            scorer(docs, model)


def test_perplexity_buckets_terciles_ties_and_nulls(spark):
    """r17 wave 3 — CCNet's head/middle/tail split: (a) exact
    terciles on 9 distinct scores; (b) tied documents move as ONE
    group into the bucket where their key begins (fr: three 2.0 docs
    all head; 5.0 begins at 4/6 >= 2/3 so it is tail); (c) a
    single-doc language is head; (d) NULL-ppl docs get a NULL bucket
    and are excluded from totals; (e) DuckDB replays the chain
    bit-identically; (f) the key join is a broadcast (no corpus-side
    shuffle for the label join)."""
    import duckdb as _duckdb
    import pandas as _pd

    from gcp_dataengineering_spark.llm_ops.ngram_lm import (
        perplexity_buckets,
        perplexity_buckets_sql,
    )

    rows = [(i, "en", float(i + 1)) for i in range(9)]
    rows += [(100 + j, "fr", p) for j, p in enumerate([1.0, 2.0, 2.0, 2.0, 5.0, 6.0])]
    rows += [(200, "zh", 3.3), (201, "zh", None)]
    scored = spark.createDataFrame(rows, "doc_id long, lang string, ppl_bits double")
    out = perplexity_buckets(scored)
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    exp = {0: "head", 1: "head", 2: "head", 3: "middle", 4: "middle",
           5: "middle", 6: "tail", 7: "tail", 8: "tail",
           100: "head", 101: "head", 102: "head", 103: "head",
           104: "tail", 105: "tail", 200: "head", 201: None}
    assert got == exp
    assert out.columns == ["doc_id", "lang", "ppl_bits", "bucket"]

    con = _duckdb.connect()
    con.register("sc", _pd.DataFrame(rows, columns=["doc_id", "lang", "ppl_bits"]))
    duck = {
        int(r[0]): r[3]
        for r in con.sql(perplexity_buckets_sql("SELECT * FROM sc")).fetchall()
    }
    assert duck == exp

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pipeline_perplexity_bucket_gate(spark):
    """r17 wave 3 — the CCNet bucket cut inside the composed build:
    perplexity_bucket_keep=("head", "middle") drops exactly the docs
    whose bucket is tail/NULL under a direct
    perplexity_buckets(scores + lang) computation; the bucketed
    scores ship as stages["perplexity_buckets"]; max_bits=None means
    the buckets ARE the gate; a corpus without the bucket_by column
    raises."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.ngram_lm import perplexity_buckets
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    fluent = "the quick brown fox jumps over the lazy dog"
    ref = spark.createDataFrame(
        [(i, fluent) for i in range(30)], "doc_id long, text string"
    )

    def page(i):
        # fluency decreases with i (more unknown tokens), so scores
        # are DISTINCT per doc and every tercile is populated —
        # all-tied scores would put the whole language in head
        extra = " ".join(f"w{i}x{j} the u{i}z{j}" for j in range(2 + 2 * i))
        return (i, f"{fluent} {extra}.", f"s{i % 2}", "en" if i % 3 else "fr")

    docs = spark.createDataFrame(
        [page(i) for i in range(9)],
        "doc_id long, text string, source string, lang string",
    )
    cfg = PipelineConfig(
        perplexity_ref=ref,
        perplexity_bucket_keep=("head", "middle"),
        shard_budget_tokens=2000, minhash_hashes=16, lsh_bands=4,
    )
    stages = build_training_corpus(docs, config=cfg)
    assert "perplexity_buckets" in stages
    got_buckets = {
        r["doc_id"]: r["bucket"] for r in stages["perplexity_buckets"].collect()
    }

    # direct twin over the pipeline's OWN scores frame (the scores
    # themselves are pinned elsewhere; this pins the bucket wiring —
    # the scored population is the post-heuristic-gate corpus, so a
    # from-scratch rescoring of `docs` would bucket a different set)
    direct = perplexity_buckets(
        stages["perplexity"].join(docs.select("doc_id", "lang"), "doc_id")
    )
    want_buckets = {r["doc_id"]: r["bucket"] for r in direct.collect()}
    assert got_buckets == want_buckets

    kept = {r["doc_id"] for r in stages["exact_deduped"].select("doc_id").collect()}
    want_kept = {d for d, b in want_buckets.items() if b in ("head", "middle")}
    assert kept == want_kept
    assert kept < set(got_buckets)  # the tail third was actually cut

    with _pytest.raises(ValueError, match="perplexity_bucket_keep"):
        build_training_corpus(
            docs.drop("lang"),
            config=PipelineConfig(
                perplexity_ref=ref, perplexity_bucket_keep=("head",),
                shard_budget_tokens=2000, minhash_hashes=16, lsh_bands=4,
            ),
        )


def test_decontamination_fraction_rule(spark):
    """r17 wave 4 — the PaLM-style fraction rule: min_shared_frac
    flags a doc only when the contaminated share of its distinct
    n-grams reaches num/den (exact integer arithmetic); the default
    None leaves rows and schema byte-identical to the count rule; a
    boundary doc at exactly the threshold is kept (>=); composes
    with min_shared."""
    from gcp_dataengineering_spark.llm_ops.decontam import (
        contamination_hits,
        decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # doc 0: 8 words -> 4 distinct 5-grams, ALL from the eval
            # doc (a verbatim copy): share = 4/4 = 1
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            # doc 1: eval 5-gram embedded in 12 words -> 8 distinct
            # 5-grams, 1 shared: share = 1/8
            (1, "one two three alpha beta gamma delta epsilon four five six seven"),
            # doc 2: 10 words, 6 grams, 4 shared: share = 4/6 = 2/3
            (2, "alpha beta gamma delta epsilon zeta eta theta pad1 pad2"),
        ],
        "doc_id long, text string",
    )
    base = {r["doc_id"]: r for r in contamination_hits(train, ev, n=5).collect()}
    assert set(base) == {0, 1, 2}
    assert "n_grams_total" not in base[0].asDict()

    frac = {
        r["doc_id"]: r
        for r in contamination_hits(
            train, ev, n=5, min_shared_frac=(2, 3)
        ).collect()
    }
    # doc 2 sits exactly AT 2/3 (4*3 == 2*6) -> kept by >=
    assert set(frac) == {0, 2}
    assert frac[0]["n_grams_total"] == 4 and frac[0]["n_shared_grams"] == 4
    assert frac[2]["n_grams_total"] == 6 and frac[2]["n_shared_grams"] == 4

    kept = sorted(
        r["doc_id"]
        for r in decontaminate(train, ev, n=5, min_shared_frac=(2, 3)).collect()
    )
    assert kept == [1]

    # composes with min_shared: the floor applies on top of the share
    both = {
        r["doc_id"]
        for r in contamination_hits(
            train, ev, n=5, min_shared=5, min_shared_frac=(2, 3)
        ).collect()
    }
    assert both == set()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_shared_frac"):
        contamination_hits(train, ev, n=5, min_shared_frac=(0, 3))


def test_decontamination_fuzzy_minhash(spark):
    """r17 wave 4 — fuzzy decontamination: a light paraphrase of an
    eval item (suffix words appended, exact 13-gram overlap broken by
    an early edit) is flagged by contamination_minhash and removed by
    decontaminate_fuzzy; unrelated docs survive; the estimate matches
    the direct signature-component count; threshold/divisibility
    guards raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gcp_dataengineering_spark.llm_ops.decontam import (
        contamination_minhash,
        decontaminate_fuzzy,
    )
    from gcp_dataengineering_spark.llm_ops.dedup import minhash_signatures

    eval_text = (
        "which planet in the solar system has the largest ring system "
        "and what is it mostly made of in the outer bands"
    )
    train = spark.createDataFrame(
        [
            # near-copy: one word swapped early -> most 3-gram
            # shingles survive, exact long-n-gram decontam misses it
            (0, eval_text.replace("largest", "biggest") + " answer saturn ice"),
            (1, "completely unrelated text about spark shuffle partitions and joins"),
            (2, eval_text),  # verbatim
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(900, eval_text)], "doc_id long, text string")

    hits = {
        r["doc_id"]: r
        for r in contamination_minhash(train, ev, min_est_jaccard=0.5).collect()
    }
    assert 2 in hits and hits[2]["max_est_jaccard"] == 1.0
    assert 0 in hits and hits[0]["max_est_jaccard"] >= 0.5
    assert 1 not in hits
    assert hits[0]["n_eval_docs"] == 1

    # the estimate IS the signature-component match count / 8
    sig_t = minhash_signatures(train.filter(F.col("doc_id") == 0)).collect()[0]
    sig_e = minhash_signatures(
        ev.withColumnRenamed("doc_id", "doc_id")
    ).collect()[0]
    n_match = sum(
        1 for i in range(8) if sig_t[f"m{i}"] == sig_e[f"m{i}"]
    )
    assert hits[0]["max_est_jaccard"] == n_match / 8

    kept = sorted(
        r["doc_id"] for r in decontaminate_fuzzy(train, ev).collect()
    )
    assert kept == [1]

    with _pytest.raises(ValueError, match="divisible"):
        contamination_minhash(train, ev, num_hashes=8, bands=3)
    with _pytest.raises(ValueError, match="min_est_jaccard"):
        contamination_minhash(train, ev, min_est_jaccard=1.5)


def test_pipeline_fuzzy_decontam_stage(spark):
    """r17 wave 4 — the fuzzy decontam stage inside the composed
    build: a light paraphrase of an eval item survives the exact
    13-gram rule but is dropped once decontam_fuzzy_min_est_jaccard
    is set; the fraction rule narrows the exact stage; fuzzy without
    an eval set raises."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    eval_text = (
        "which planet in the solar system has the largest ring system "
        "and what is it mostly made of in the outer bands of dust"
    )
    filler = " ".join(f"filler{i} common word run" for i in range(6))

    def page(i, text):
        return (i, text, f"s{i % 2}", "en")

    docs = spark.createDataFrame(
        [
            # paraphrase: two word swaps ~12 words apart break every
            # 13-word run (verified: 0 shared 13-grams) while 3-gram
            # jaccard stays 0.571 -> est_jaccard 4/8 = 0.5, flagged
            page(0, eval_text.replace("largest", "biggest").replace("mostly", "mainly")),
            page(1, f"clean document about spark joins {filler}"),
            page(2, f"another clean page on shuffle partitions {filler}"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    ev = spark.createDataFrame([(900, eval_text)], "doc_id long, text string")
    base_cfg = dict(shard_budget_tokens=2000, minhash_hashes=8, lsh_bands=4)

    exact_only = build_training_corpus(
        docs, eval_df=ev, config=PipelineConfig(**base_cfg)
    )
    kept_exact = {
        r["doc_id"] for r in exact_only["decontaminated"].select("doc_id").collect()
    }
    assert 0 in kept_exact  # the paraphrase slips the exact rule

    fuzzy = build_training_corpus(
        docs, eval_df=ev,
        config=PipelineConfig(decontam_fuzzy_min_est_jaccard=0.5, **base_cfg),
    )
    kept_fuzzy = {
        r["doc_id"] for r in fuzzy["decontaminated"].select("doc_id").collect()
    }
    assert kept_fuzzy == kept_exact - {0}  # fuzzy catches it, nothing else

    with _pytest.raises(ValueError, match="needs eval_df"):
        build_training_corpus(
            docs,
            config=PipelineConfig(
                decontam_fuzzy_min_est_jaccard=0.5, **base_cfg
            ),
        )


def test_gopher_repetition_features_full_ruleset(spark):
    """r17 wave 5 — the COMPLETE Gopher §A1.2 repetition set: every
    fraction pinned against hand-computed values on discriminating
    fixtures (dup lines, dup paragraphs, a dominating 2-gram with
    coverage > 1, overlapping dup 5/6-grams counted once, empty and
    NULL docs), the 13-threshold verdict, and a DuckDB bit-parity
    replay of the same frame through the generated oracle SQL."""
    import duckdb as _duckdb
    import pandas as _pd

    from gcp_dataengineering_spark.llm_ops.text import (
        GOPHER_REPETITION_LIMITS,
        gopher_repetition_features,
    )
    from gcp_dataengineering_spark.suite.llm import gopher_repetition_sql

    rows = [
        (0, "intro line\nrepeat me\nrepeat me\nend line"),
        (1, "spam spam spam spam eggs"),
        (2, "one two three four five six ONE two three four five six seven"),
        (3, ""),
        (4, None),
        (5, "para one\n\npara one\n\npara two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_repetition_features(df).collect()}

    # doc 0: 4 lines, "repeat me" x2 -> 2/4; chars 18/36
    assert got[0]["dup_line_frac"] == 0.5
    assert got[0]["dup_line_char_frac"] == 0.5
    assert got[0]["dup_para_frac"] == 0.0  # one paragraph, no dup
    # doc 1: top 2-gram "spam spam" cnt 3 x len 9 over content 24 —
    # overlap-driven coverage above 1 is possible and documented
    assert got[1]["top_2gram_char_frac"] == 1.125
    assert got[1]["rep_pass"] is False
    # doc 2: "one two three four five" + "two three four five six"
    # each x2 -> union covers word positions 1..12 of 13; chars 44/49
    assert got[2]["dup_5gram_char_frac"] == 0.898
    assert got[2]["dup_6gram_char_frac"] == 0.898
    assert got[2]["dup_7gram_char_frac"] == 0.0  # no 7-gram repeats
    assert got[2]["rep_pass"] is False
    # empty / NULL: all zeros, pass
    for d in (3, 4):
        assert got[d]["rep_pass"] is True
        assert all(
            got[d][c] == 0.0 for c in GOPHER_REPETITION_LIMITS
        )
    # doc 5: paragraphs "para one" x2 of 3 -> 2/3 both ways
    assert got[5]["dup_para_frac"] == 0.6667
    assert got[5]["dup_para_char_frac"] == 0.6667
    assert got[5]["dup_line_frac"] == 0.6667

    # DuckDB replay of the SAME frame through the generated oracle
    con = _duckdb.connect()
    con.register("fixture", _pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = gopher_repetition_sql("SELECT doc_id, text FROM fixture")
    cols = None
    for rec in con.execute(sql).fetchall():
        if cols is None:
            cols = [d[0] for d in con.description]
        want = dict(zip(cols, rec))
        g = got[want["doc_id"]]
        for c in cols:
            assert g[c] == want[c], (want["doc_id"], c, g[c], want[c])


def test_pipeline_gopher_repetition_gate(spark):
    """r17 wave 5 — the §A1.2 gate inside the composed build: a
    keyword-stuffed page (top 2-gram coverage over the 0.20
    threshold) passes the shape gates but is dropped with
    gopher_repetition=True; the verdict frame ships as
    stages["gopher_repetition"] and matches a direct features run."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.text import (
        gopher_repetition_features,
    )

    # the A1.2 thresholds presuppose Gopher's 50-word floor: with all
    # n-gram counts 1, top_4gram_char_frac is the longest 4-window
    # over the content (~4/n_words), so a clean page must be long
    # enough — 60 distinct words keeps every fraction well under the
    # limits, matching the paper's operating range
    clean = " ".join(f"w{i}token" for i in range(60))
    stuffed = (
        "buy gold " * 22 + "plus filler words to pass the length gates"
    ).strip()

    docs = spark.createDataFrame(
        [(0, clean, "s0", "en"), (1, stuffed, "s0", "en"),
         (2, clean + " second variant page", "s1", "en")],
        "doc_id long, text string, source string, lang string",
    )
    base = dict(shard_budget_tokens=2000, minhash_hashes=8, lsh_bands=4)
    off = build_training_corpus(docs, config=PipelineConfig(**base))
    kept_off = {r["doc_id"] for r in off["exact_deduped"].select("doc_id").collect()}
    assert 1 in kept_off  # shape gates alone admit the stuffed page

    on = build_training_corpus(
        docs, config=PipelineConfig(gopher_repetition=True, **base)
    )
    assert "gopher_repetition" in on
    kept_on = {r["doc_id"] for r in on["exact_deduped"].select("doc_id").collect()}
    assert kept_on == kept_off - {1}

    got = {
        r["doc_id"]: r["rep_pass"]
        for r in on["gopher_repetition"].collect()
    }
    want = {
        r["doc_id"]: r["rep_pass"]
        for r in gopher_repetition_features(docs.drop("source", "lang")).collect()
    }
    assert got == want and want[1] is False


def test_pipeline_cluster_balance_stage(spark):
    """r17 wave 6 — D4 cluster balancing inside the composed build:
    with cluster_balance_cap set, the dedup survivors are embedded,
    clustered and capped exactly as the direct doc_embed_table →
    cluster_balanced_sample composition; the verdict frame ships as
    stages["cluster_balance"]; downstream sees only the survivors."""
    from pyspark.sql import functions as F

    from gcp_dataengineering_spark.llm_ops.embed import doc_embed_table
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.similarity import (
        cluster_balanced_sample,
    )

    # 14 docs in two obvious text families so the embedding space
    # has a dense and a sparse region
    fam_a = "the quick brown fox jumps over the lazy dog in the library"
    fam_b = "completely different financial ledger numbers and balance sheets"

    def page(i):
        base = fam_a if i < 11 else fam_b
        return (i, f"{base} unique marker token number {i} padded words "
                   f"fill the quality gates with enough length here", "s0", "en")

    docs = spark.createDataFrame(
        [page(i) for i in range(14)],
        "doc_id long, text string, source string, lang string",
    )
    cfg = PipelineConfig(
        cluster_balance_cap=4, cluster_balance_k=2,
        shard_budget_tokens=2000, minhash_hashes=8, lsh_bands=4,
    )
    stages = build_training_corpus(docs, config=cfg)
    assert "cluster_balance" in stages
    got = {
        r["doc_id"]: (r["cluster"], r["selected"])
        for r in stages["cluster_balance"].collect()
    }

    # direct twin over the pipeline's own dedup survivors
    survivors = stages["near_deduped"].select("doc_id", "text")
    emb = doc_embed_table(survivors, "doc_id", "text", "embedding",
                          dim=16, max_chars=256)
    direct = cluster_balanced_sample(
        emb.select(F.col("doc_id").alias("vec_id"), "embedding"),
        per_cluster_cap=4, n_clusters=2,
    )
    want = {
        r["vec_id"]: (r["cluster"], r["selected"]) for r in direct.collect()
    }
    assert got == want
    kept = {r["doc_id"] for r in stages["decontaminated"].select("doc_id").collect()}
    assert kept == {d for d, (_, s) in got.items() if s}
    # the cap actually bit: at most 4 per cluster, fewer docs than input
    from collections import Counter
    sizes = Counter(c for d, (c, s) in got.items() if s)
    assert all(v <= 4 for v in sizes.values()) and len(kept) < 14


def test_contamination_by_eval_census(spark):
    """r17 wave 6 — the eval-side validity census: per compromised
    eval item, distinct train docs hit and distinct contaminated
    grams; clean eval items are absent; the stop-gram cap applies."""
    from gcp_dataengineering_spark.llm_ops.decontam import (
        contamination_by_eval,
    )

    eval_rows = [
        (100, "the capital of france is paris obviously"),
        (101, "two plus two equals four in base ten"),
        (102, "a perfectly uncompromised benchmark question here"),
    ]
    train_rows = [
        (0, "filler then the capital of france is paris obviously end"),
        (1, "again the capital of france is paris obviously copied"),
        (2, "two plus two equals four in base ten verbatim"),
        (3, "clean unrelated training prose about shuffles"),
    ]
    tr = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r.eval_id: (r.n_train_docs, r.n_shared_grams)
        for r in contamination_by_eval(tr, ev, n=5).collect()
    }
    # item 100 hit by docs 0 and 1 (3 shared 5-grams each, same grams)
    assert got[100] == (2, 3)
    assert got[101] == (1, 4)
    assert 102 not in got


def test_script_profile_equals_standalone_operators(spark):
    """r18: the fused one-pass script_profile (shared residue + one
    set of per-script scans) is value-identical to the standalone
    operators on every leg — counts == script_counts, script ==
    detect_script, and lang routing: coalescing its script_lang with
    the stopword vote reproduces lang_id exactly — across Latin,
    Cyrillic, CJK (han/kana rule both ways), script-routed, mixed,
    empty and NULL text."""
    from pyspark.sql import functions as F

    from gcp_dataengineering_spark.llm_ops import text as T

    rows = [
        (1, "the cat and the dog were in the house that they have"),
        (2, "он сказал что это было не так и они не знали как"),
        (3, "这是用于测试的中文文本内容还有更多字符"),
        (4, "これはテストのための日本語ですもっと文字"),
        (5, "日本語の漢字ばかりの文 とかな"),   # han-dominant + kana → ja
        (6, "यह परीक्षण के लिए एक हिंदी वाक्य है"),
        (7, "ეს არის ქართული წინადადება ტესტისთვის"),
        (8, "mixed latin με ελληνικά words"),
        (9, ""),
        (10, None),
        (11, "12345 !!! ..."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flat = df.select(
        "doc_id", "text", F.inline(F.array(T.script_profile("text")))
    )
    probe = F.col("text").rlike("[Ͱ-퟿-￿]")
    fused_lang = T._bind1(
        T._stopword_vote(F.col("text")),
        lambda v: F.coalesce(
            F.when(probe, F.col("script_lang")),
            F.when(v["s"] > 0, v["l"]),
            F.lit("und"),
        ),
    )
    got = {
        r.doc_id: r
        for r in flat.select(
            "doc_id",
            *[f"n_{n}" for n in T.SCRIPT_RANGES],
            "script",
            fused_lang.alias("lang_fused"),
        ).collect()
    }
    counts = T.script_counts("text")
    want = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            *[c.alias(f"n_{n}") for n, c in counts.items()],
            T.detect_script("text").alias("script"),
            T.lang_id("text").alias("lang"),
        ).collect()
    }
    for did in want:
        for n in T.SCRIPT_RANGES:
            assert got[did][f"n_{n}"] == want[did][f"n_{n}"], (did, n)
        assert got[did]["script"] == want[did]["script"], did
        assert got[did]["lang_fused"] == want[did]["lang"], did


def _handwritten_pdf() -> bytes:
    """A PDF assembled BY HAND in a deliberately different style from
    the fixture writer: comments, odd whitespace, out-of-order
    object numbering, an indirect /Length, a /Contents ARRAY, CRLF
    stream delimiters — if the parser only handled the writer's
    layout, this file would break it."""
    objs = {}
    objs[7] = b"<< /Type /Catalog /Pages 3 0 R >>"
    objs[3] = b"<< /Type/Pages/Count 1/Kids[ 5 0 R ] >>"
    objs[5] = (b"<<\n  % a comment inside a dict is legal\n"
               b"  /Type /Page /Parent 3 0 R\n"
               b"  /MediaBox [0 0 200 200]\n"
               b"  /Resources << /Font << /F9 9 0 R >> >>\n"
               b"  /Contents [ 2 0 R 4 0 R ]\n>>")
    s1 = b"BT /F9 10 Tf (Hello \\(escaped\\) world) Tj ET"
    objs[2] = (b"<< /Length 8 0 R >>\r\nstream\r\n" + s1 +
               b"\r\nendstream")
    objs[8] = str(len(s1)).encode()
    s2 = b"BT /F9 10 Tf (second \\164ream) Tj ET"  # octal 164 = 't'
    objs[4] = (b"<< /Length " + str(len(s2)).encode() +
               b" >>\nstream\n" + s2 + b"\nendstream")
    objs[9] = b"<< /Type/Font/Subtype/Type1/BaseFont/Courier >>"
    out = bytearray(b"%PDF-1.3\n% handwritten fixture\n")
    offsets = {}
    for num in (7, 3, 5, 2, 8, 4, 9):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    maxn = 10
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for num in sorted(offsets):
        out += b"%d 1\n%010d 00000 n \n" % (num, offsets[num])
    out += (b"trailer\n<< /Size %d /Root 7 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (maxn, xref_at))
    return bytes(out)


def test_pdf_parser_generality_and_quarantine():
    """r18: the vendored PDF parser handles a HANDWRITTEN document in
    a different authoring style from the fixture writer (comments,
    odd whitespace, non-sequential object numbers, indirect /Length,
    /Contents array, CRLF stream delimiters, octal escapes) — and
    quarantines garbage with stable reasons instead of emitting
    wrong text."""
    from gcp_dataengineering_spark.llm_ops.pdf import parse_pdf

    ok, err, ver, n_pages, title, text = parse_pdf(_handwritten_pdf())
    assert ok, err
    assert ver == "1.3" and n_pages == 1 and title is None
    assert text == "Hello (escaped) world\nsecond tream"

    assert parse_pdf(None) == (False, "empty", None, None, None, None)
    assert parse_pdf(b"<html>not a pdf</html>")[1] == "no-header"
    assert parse_pdf(b"%PDF-1.4\ngarbage with no tail")[1] == "no-startxref"
    # a MALFORMED PDF-1.5 xref stream quarantines loudly (the
    # well-formed layouts are parsed — fixture variants 8/9)
    xs = (b"%PDF-1.5\n1 0 obj\n<< /Type /XRef >>\nstream\nx\nendstream\n"
          b"endobj\nstartxref\n9\n%%EOF\n")
    assert parse_pdf(xs)[1] == "bad-stream-length"


def test_pdf_fixture_variants_roundtrip():
    """Every writer variant round-trips through the parser with the
    exact closed-form text: plain, two-page, Flate, TJ-kerning
    (concatenated run, numbers ignored), escape/hex strings, the
    ToUnicode remap ('w' -> U+2192 everywhere), and the two planted
    quarantines."""
    from gcp_dataengineering_spark.llm_ops.pdf import (
        _pdf_line,
        parse_pdf,
        synth_pdf_payload,
    )

    for did in range(30):
        var = did % 10
        ok, err, ver, n_pages, title, text = parse_pdf(
            synth_pdf_payload(did)
        )
        if var in (6, 7):
            assert not ok and err in ("no-startxref", "encrypted")
            continue
        want_ver = "1.5" if var in (8, 9) else "1.4"
        assert ok and ver == want_ver and title == f"Fixture {did}"
        want_pages = 2 if var == 1 else 1
        assert n_pages == want_pages
        sep = "" if var == 3 else "\n"
        pages = [
            sep.join(_pdf_line(did, p, k) for k in range(3))
            for p in range(want_pages)
        ]
        want = "\n\n".join(pages)
        if var == 5:
            want = want.replace("w", "→")
        assert text == want, (did, var, text, want)


def test_pdf_text_extract_spark_schema_and_quarantine(spark):
    """The Spark operator keeps one row per document (quarantined
    rows with ok=False + reason, text NULL) and the Arrow batch
    boundary preserves ids."""
    from pyspark.sql import functions as F

    from gcp_dataengineering_spark.llm_ops.pdf import (
        pdf_text_extract,
        synth_pdf_corpus,
    )

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    out = pdf_text_extract(synth_pdf_corpus(docs)).collect()
    assert len(out) == 40
    by = {r.media_id: r for r in out}
    assert sum(1 for r in out if not r.ok) == 8  # variants 6,7 of 10
    for mid, r in by.items():
        if mid % 10 in (6, 7):
            assert not r.ok and r.text is None and r.err
        else:
            assert r.ok and r.err is None and f"pdf {mid} page 0" in r.text


def test_extract_documents_routes_formats(spark):
    """r18: the document-format ingestion router — raw binary
    payloads land in the right extractor leg: %PDF magic through the
    vendored parser (title/n_pages ride), HTML through the codegen
    extractor (leg pinned equal to html_to_text over the decoded
    string), clean UTF-8 as plain text, and undecodable bytes / NULs
    quarantine with a stable reason. One output row per input row."""
    from pyspark.sql import functions as F

    from gcp_dataengineering_spark.llm_ops.docformats import (
        extract_documents,
    )
    from gcp_dataengineering_spark.llm_ops.html import html_to_text
    from gcp_dataengineering_spark.llm_ops.pdf import (
        parse_pdf,
        synth_pdf_payload,
    )

    html_page = (b"<!DOCTYPE html><html><head><title>t</title>"
                 b"<script>var x=1;</script></head>"
                 b"<body><p>Hello &amp; welcome</p><div>to the page"
                 b"</div></body></html>")
    rows = [
        (1, synth_pdf_payload(10)),            # pdf, variant 0
        (2, html_page),                        # html
        (3, "plain utf-8 text with café".encode("utf-8")),
        (4, b"\x00\x01\x02\xff\xfe garbage"),  # binary junk
        (5, synth_pdf_payload(16)),            # pdf, truncated (6)
        (6, b""),                              # empty
        (7, None),                             # NULL payload
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in extract_documents(df).collect()}
    assert len(got) == 7

    assert got[1].format == "pdf" and got[1].ok
    want = parse_pdf(synth_pdf_payload(10))
    assert got[1].text == want[5] and got[1].title == want[4]
    assert got[1].n_pages == want[3]

    assert got[2].format == "html" and got[2].ok
    want_html = (
        df.filter(F.col("doc_id") == 2)
        .select(html_to_text(F.decode("payload", "UTF-8")).alias("t"))
        .collect()[0]["t"]
    )
    assert got[2].text == want_html
    assert "Hello & welcome" in got[2].text and "var x" not in got[2].text

    assert got[3].format == "text" and got[3].ok
    assert got[3].text == "plain utf-8 text with café"

    assert got[4].format == "binary" and not got[4].ok
    assert got[4].err == "binary-unknown" and got[4].text is None

    assert got[5].format == "pdf" and not got[5].ok and got[5].err

    assert got[6].format == "binary" and not got[6].ok
    # a NULL payload must not vanish from the output (null-safe
    # route predicate) — it quarantines like any junk row
    assert got[7].format == "binary" and not got[7].ok
