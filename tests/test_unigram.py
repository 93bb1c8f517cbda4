"""llm_ops/unigram.py: SentencePiece-style unigram-LM tokenizer
(hard-EM + Viterbi, integer fixed-point scores).

Falsification: the Spark trainer and segmenter are checked row-for-
row against an INDEPENDENT pure-Python implementation
(unigram_train_py / viterbi_py) across EM depths; the Viterbi
tie-break is pinned on crafted equal-score ties; segmentation
coverage (concat(pieces) == word) is a hard invariant; plan-shape
receipts pin the broadcast piece join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_dataengineering_spark.llm_ops import unigram as U

TEXTS = [
    "the cat sat on the mat",
    "the matter of the cats",
    "scattered cattle that sat on mats",
    "a mat a cat a rat",
    "",
] * 2


def _docs(spark, texts=None):
    texts = TEXTS if texts is None else texts
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@pytest.mark.parametrize("em_iters", [1, 2, 3])
def test_train_matches_python_twin(spark, em_iters):
    vocab = U.unigram_train(
        _docs(spark), vocab_size=25, max_piece_len=4, em_iters=em_iters
    )
    got = {r.piece: (r.cnt, r.score, r.piece_id) for r in vocab.collect()}
    want = U.unigram_train_py(
        TEXTS, vocab_size=25, max_piece_len=4, em_iters=em_iters
    )["pieces"]
    assert got == want, em_iters


def test_encode_words_matches_viterbi_py_and_covers(spark):
    vocab = U.unigram_train(_docs(spark), vocab_size=25, max_piece_len=4)
    scores = {r.piece: r.score for r in vocab.collect()}
    words = spark.createDataFrame(
        [("cats", 1), ("scattered", 1), ("zebra", 1), ("mat", 1), ("qq", 1)],
        "word string, n long",
    )
    out = {r.word: r for r in U.unigram_encode_words(words, vocab, 4).collect()}
    for w in ("cats", "scattered", "zebra", "mat", "qq"):
        want = U.viterbi_py(w, scores, 4)
        assert list(out[w].pieces) == want, (w, list(out[w].pieces), want)
        assert "".join(out[w].pieces) == w  # coverage invariant
    # OOV characters (z, b, r, q never trained) → NULL ids
    assert None in list(out["zebra"].piece_ids)
    assert all(i is None for i in out["qq"].piece_ids)


def test_encode_docs_order_oov_and_empty(spark):
    vocab = U.unigram_train(_docs(spark), vocab_size=25, max_piece_len=4)
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, ""), (3, "zebra mat zebra"), (4, "!!!"), (5, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in U.unigram_encode_docs(docs, vocab, max_piece_len=4).collect()}
    assert len(out) == 5
    assert out[2].n_pieces == 0 and list(out[2].pieces) == []
    assert out[4].n_pieces == 0
    # NULL text: kept, with an empty encoding
    assert list(out[5].pieces) == [] and out[5].n_pieces == 0 and out[5].n_oov == 0
    assert "".join(out[1].pieces) == "thecat"
    # word order preserved: zebra pieces, then mat, then zebra again
    joined = "".join(out[3].pieces)
    assert joined == "zebramatzebra"
    assert out[3].n_oov > 0
    scores = {r.piece: r.score for r in vocab.collect()}
    want = (
        U.viterbi_py("zebra", scores, 4)
        + U.viterbi_py("mat", scores, 4)
        + U.viterbi_py("zebra", scores, 4)
    )
    assert list(out[3].pieces) == want


def test_viterbi_tiebreak_prefers_longer_last_piece(spark):
    """Crafted equal-score tie: pieces ab/c and a/bc with identical
    scores — the pinned tie-break (smaller last boundary = longer
    LAST piece) must pick a+bc, in BOTH implementations."""
    rows = [("ab", 5, -100, 1), ("c", 5, -100, 2), ("a", 5, -100, 3),
            ("bc", 5, -100, 4), ("b", 5, -100, 5)]
    vocab = spark.createDataFrame(
        rows, "piece string, cnt long, score long, piece_id int"
    )
    words = spark.createDataFrame([("abc", 1)], "word string, n long")
    got = U.unigram_encode_words(words, vocab, 4).collect()[0]
    scores = {p: s for p, _, s, _ in [(r[0], r[1], r[2], r[3]) for r in rows]}
    assert U.viterbi_py("abc", scores, 4) == ["a", "bc"]
    assert list(got.pieces) == ["a", "bc"]


def test_fixture_corpus_roundtrip_and_compression(spark):
    """Real fixture: every document's pieces concatenate back to its
    word stream, and the learned vocab compresses (fewer pieces than
    characters)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = U.unigram_train(docs, vocab_size=120, max_piece_len=5, em_iters=2)
    enc = U.unigram_encode_docs(docs, vocab, max_piece_len=5)
    joined = enc.join(docs, "doc_id").select(
        "doc_id", "pieces", "n_pieces", "n_oov", "text"
    ).collect()
    import re

    total_pieces = total_chars = 0
    for r in joined:
        words = [w for w in re.split(U.WORD_PATTERN, (r.text or "").lower()) if w]
        assert "".join(r.pieces) == "".join(words), r.doc_id
        assert r.n_oov == 0  # training corpus: every char in vocab
        total_pieces += r.n_pieces
        total_chars += sum(len(w) for w in words)
    # measured 0.556 at vocab 120 on this fixture (31 distinct words,
    # ~26 of the 120 slots are the coverage single-chars): the vocab
    # genuinely compresses, pinned with headroom against regression
    assert total_pieces < total_chars * 0.65, (total_pieces, total_chars)


def test_segment_plan_broadcast_pieces_join(spark):
    """100 TB receipt: the piece-score join in the segmenter is a
    BROADCAST hash join (vocab is dimension-sized), never a
    sort-merge join of corpus against vocab."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = U.unigram_train(docs, vocab_size=40, max_piece_len=5)
    vocab_m = spark.createDataFrame(
        vocab.collect(), "piece string, cnt long, score long, piece_id int"
    )
    words = spark.createDataFrame([("cats", 1)], "word string, n long")
    plan = (
        U.unigram_encode_words(words, vocab_m, 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("em_iters", [1, 2, 3, 4])
def test_soft_train_matches_python_twin(spark, em_iters):
    """r14 soft-EM variant vs its independent python twin: micro-
    rounded expected counts, piece_ids, and probs match EXACTLY (the
    pinned fold-order + per-(word,piece) rounding contract makes the
    float path deterministic); the fixed-point log2 score may differ
    by ±1 unit (JVM vs libm last-ulp). r15: depth extended to 3-4
    iterations — each round feeds the previous round's float64
    posteriors back through the fold, so this is where accumulated
    drift would surface if the fold-order contract leaked."""
    vocab = U.unigram_train_soft(
        _docs(spark), vocab_size=25, max_piece_len=4, em_iters=em_iters
    )
    got = {
        r.piece: (r.cnt, r.score, r.piece_id, r.prob)
        for r in vocab.collect()
    }
    want = U.unigram_train_soft_py(
        TEXTS, vocab_size=25, max_piece_len=4, em_iters=em_iters
    )["pieces"]
    assert set(got) == set(want), em_iters
    for p, (cnt, score, pid, prob) in want.items():
        g = got[p]
        assert g[0] == cnt, (p, g, cnt)
        assert abs(g[1] - score) <= 1, (p, g[1], score)
        assert g[2] == pid, (p, g[2], pid)
        assert g[3] == pytest.approx(prob, rel=1e-12), p


def test_soft_train_fuzz_vs_twin(spark):
    """Seeded fuzz over random corpora: exact micro-count parity on
    every piece, every corpus — the determinism contract holds off
    the fixture too. r15 (r14 verdict item 7): depth/width extended —
    trials cycle em_iters 1→3 and the last trial runs a LARGER vocab
    (40 pieces, max_piece_len 4, 8-char alphabet) at em_iters 3,
    pinning drift accumulation where the posterior recursion is
    deepest and the candidate lattice widest."""
    import random

    rng = random.Random(14)
    alphabet = "abcdef"
    for trial in range(4):
        texts = [
            " ".join(
                "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(1, 8))
                )
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(rng.randint(3, 10))
        ]
        iters = trial % 3 + 1
        vocab = U.unigram_train_soft(
            _docs(spark, texts), vocab_size=20, max_piece_len=3,
            em_iters=iters,
        )
        got = {r.piece: (r.cnt, r.piece_id) for r in vocab.collect()}
        want = {
            p: (c, pid)
            for p, (c, _s, pid, _pr) in U.unigram_train_soft_py(
                texts, vocab_size=20, max_piece_len=3, em_iters=iters
            )["pieces"].items()
        }
        assert got == want, (trial, iters, texts)

    rng = random.Random(151)
    wide = "abcdefgh"
    texts = [
        " ".join(
            "".join(rng.choice(wide) for _ in range(rng.randint(2, 10)))
            for _ in range(rng.randint(4, 16))
        )
        for _ in range(8)
    ]
    vocab = U.unigram_train_soft(
        _docs(spark, texts), vocab_size=40, max_piece_len=4, em_iters=3
    )
    got = {r.piece: (r.cnt, r.piece_id) for r in vocab.collect()}
    want = {
        p: (c, pid)
        for p, (c, _s, pid, _pr) in U.unigram_train_soft_py(
            texts, vocab_size=40, max_piece_len=4, em_iters=3
        )["pieces"].items()
    }
    assert got == want


def test_soft_vocab_drops_into_integer_encoder(spark):
    """The soft-trained table ships (piece, score, piece_id) in the
    hard-EM shape: unigram_encode_docs segments under it, coverage
    holds, and a soft-expected-count-dominant piece wins
    segmentation. Soft vs hard on the same corpus: same schema
    contract, different statistic."""
    docs = _docs(spark)
    soft = U.unigram_train_soft(
        docs, vocab_size=25, max_piece_len=4, em_iters=1
    )
    import re

    out = U.unigram_encode_docs(
        docs, soft.select("piece", "cnt", "score", "piece_id"),
        max_piece_len=4,
    ).collect()
    texts = {i: t for i, t in enumerate(TEXTS)}
    assert {r.doc_id for r in out} == set(range(len(TEXTS)))
    for r in out:
        words = [
            w
            for w in re.split(U.WORD_PATTERN, texts[r.doc_id].lower())
            if w
        ]
        assert "".join(r.pieces) == "".join(words), r.doc_id
        assert r.n_oov == 0


def test_sample_words_matches_python_twin_and_covers(spark):
    """Subword-regularization sampling (r14): exact piece-sequence
    parity with the python twin (same md5 uniforms, same float ops in
    the same order) across salts and alphas; coverage invariant
    (concat(pieces) == word) always; different salts actually produce
    different segmentations somewhere (it IS sampling)."""
    docs = _docs(spark)
    soft = U.unigram_train_soft(
        docs, vocab_size=25, max_piece_len=4, em_iters=1
    )
    probs = {r.piece: r.prob for r in soft.collect()}
    words = spark.createDataFrame(
        [(w, 1) for w in
         ["cat", "scattered", "matter", "thematic", "a", "zebra"]],
        "word string, n long",
    )
    segs = {}
    for salt in ("ep0", "ep1"):
        for alpha in (0.2, 1.0):
            out = {
                r.word: list(r.pieces)
                for r in U.unigram_sample_words(
                    words, soft, max_piece_len=4, alpha=alpha, salt=salt
                ).collect()
            }
            for w, pieces in out.items():
                assert "".join(pieces) == w, (salt, alpha, w, pieces)
                want = U.unigram_sample_words_py(
                    w, probs, max_piece_len=4, alpha=alpha, salt=salt
                )
                assert pieces == want, (salt, alpha, w, pieces, want)
            segs[(salt, alpha)] = out
    # resampling across epochs changes at least one segmentation
    assert segs[("ep0", 0.2)] != segs[("ep1", 0.2)] or segs[
        ("ep0", 1.0)
    ] != segs[("ep1", 1.0)]
    # hard-EM vocab (no prob column) is accepted too: scores convert
    hard = U.unigram_train(docs, vocab_size=25, max_piece_len=4)
    out_h = U.unigram_sample_words(
        words, hard, max_piece_len=4, alpha=0.5, salt="ep0"
    ).collect()
    for r in out_h:
        assert "".join(r.pieces) == r.word


def test_byte_fallback_lossless_roundtrip_any_script(spark):
    """r18 (r17 verdict item 5): SentencePiece-style byte fallback —
    vocab-unknown pieces encode to reserved <0xNN> byte pieces with
    negative ids instead of NULL-id OOVs, so ANY word round-trips
    losslessly through unigram_decode_pieces: mixed-case Latin,
    CJK, emoji (astral, 4-byte UTF-8), combining accents, digits and
    punctuation the classic [^a-z]+ tokenizer would have discarded."""
    vocab = U.unigram_train(_docs(spark), vocab_size=25, max_piece_len=4)
    texts = {
        11: "The cat sat, naturally.",
        12: "这是中文文本 and the mat",
        13: "emoji 😀🎉 here",
        14: "héllo café naïve",
        15: "한국어 テスト текст",
        16: "mat 3.14159 (cat)",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in U.unigram_encode_docs(
            docs, vocab, max_piece_len=4, byte_fallback=True
        ).collect()
    }
    for did, text in texts.items():
        r = out[did]
        assert all(i is not None for i in r.piece_ids), (did, r.piece_ids)
        assert r.n_oov == 0
        # word-lossless: decoding re-joins the whitespace-split words
        got = U.unigram_decode_pieces(list(r.pieces), list(r.piece_ids))
        assert got == " ".join(text.split()), (did, got)
    # byte pieces carry the reserved ids: <0xNN> <-> -(byte+1)
    emoji = out[13]
    byte_ids = [i for i in emoji.piece_ids if i < 0]
    assert byte_ids, "emoji must fall back to byte pieces"
    for p, i in zip(emoji.pieces, emoji.piece_ids):
        if i < 0:
            assert p == f"<0x{-i - 1:02X}>", (p, i)


def test_byte_fallback_inert_on_covered_text(spark):
    """Fallback only ever touches NULL-id pieces: on text the vocab
    fully covers, encode with byte_fallback on vs off produces
    byte-identical segmentations (per word — the doc tokenization
    convention differs by design: whitespace vs [^a-z]+)."""
    vocab = U.unigram_train(_docs(spark), vocab_size=25, max_piece_len=4)
    words = spark.createDataFrame(
        [("cats", 1), ("scattered", 1), ("mat", 1), ("thematter", 1)],
        "word string, n long",
    )
    off = {
        r.word: (list(r.pieces), list(r.piece_ids))
        for r in U.unigram_encode_words(words, vocab, 4).collect()
    }
    on = {
        r.word: (list(r.pieces), list(r.piece_ids))
        for r in U.unigram_encode_words(
            words, vocab, 4, byte_fallback=True
        ).collect()
    }
    assert on == off
    # and the classic doc path is byte-identical to r17 (default off)
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    )
    d_off = U.unigram_encode_docs(docs, vocab, max_piece_len=4).collect()[0]
    assert d_off.n_oov == 0 and "".join(d_off.pieces) == "thecatsatonthemat"


def test_byte_fallback_mixed_word_splits_only_unknown_pieces(spark):
    """A word that is PART in-vocab, part unknown falls back only on
    the unknown pieces: 'catsé' keeps the learned 'cats'
    segmentation and expands only 'é' (2 UTF-8 bytes, C3 A9) — the
    in-vocab prefix is not degraded to bytes."""
    vocab = U.unigram_train(_docs(spark), vocab_size=25, max_piece_len=4)
    scores = {r.piece: r.score for r in vocab.collect()}
    words = spark.createDataFrame([("catsé", 1)], "word string, n long")
    r = U.unigram_encode_words(words, vocab, 4, byte_fallback=True).collect()[0]
    want_prefix = U.viterbi_py("cats", scores, 4)
    assert list(r.pieces) == want_prefix + ["<0xC3>", "<0xA9>"]
    assert U.unigram_decode_pieces(list(r.pieces), list(r.piece_ids)) == "catsé"
    assert [i for i in r.piece_ids if i < 0] == [-(0xC3 + 1), -(0xA9 + 1)]


def test_byte_fallback_straggler_cap_and_empty(spark):
    """The byte-mode straggler cap mirrors bpe_encode_docs: a word
    over max_word_len (pre-mapping characters) is dropped with the
    same garbage-not-language contract; empty docs keep a row."""
    vocab = U.unigram_train(_docs(spark), vocab_size=25, max_piece_len=4)
    long_word = "x" * 80
    docs = spark.createDataFrame(
        [(1, f"cat {long_word} mat"), (2, "   ")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in U.unigram_encode_docs(
            docs, vocab, max_piece_len=4, byte_fallback=True, max_word_len=64
        ).collect()
    }
    assert U.unigram_decode_pieces(
        list(out[1].pieces), list(out[1].piece_ids)
    ) == "cat mat"
    assert list(out[2].pieces) == [] and out[2].n_pieces == 0
