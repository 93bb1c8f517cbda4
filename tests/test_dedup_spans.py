"""Span-level exact-substring dedup (llm_ops/dedup.py:
positional_gram_rows / duplicate_spans / strip_duplicate_spans) —
the Lee et al. 2022 duplicated-span primitive re-expressed as
posting-list + window ops (no suffix array, no all-pairs)."""

from __future__ import annotations


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_positional_gram_rows_positions(spark):
    from gcp_dataengineering_spark.llm_ops.dedup import positional_gram_rows

    df = _docs(
        spark,
        [(1, "a b c d"), (2, "x y"), (3, ""), (4, None), (5, " \t\n "),
         (6, "\tP\nq  R\ts\n")],
    )
    out = positional_gram_rows(df, k=3).collect()
    got = {(r.doc_id, r.pos): r.gram for r in out}
    # doc 1: two 3-grams at positions 0 and 1; docs 2-5 too short or
    # no words -> none; doc 6: TAB/newline/double-space separators
    # and uppercase split and lowercase like doc 1's spaces
    assert got == {
        (1, 0): "a b c", (1, 1): "b c d", (6, 0): "p q r", (6, 1): "q r s",
    }


def test_duplicate_spans_semantics(spark):
    """Shared prefix across two docs -> one maximal span each; a doc
    with two separated shared regions -> two spans; a unique doc ->
    none; intra-doc-only repetition does NOT count (min_docs=2)."""
    from gcp_dataengineering_spark.llm_ops.dedup import duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog"  # 9 words
    df = _docs(
        spark,
        [
            (1, shared + " unique tail one two three"),
            (2, "different head words here " + shared),
            # two shared regions split by a long unique middle
            (3, shared + " z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 " + shared),
            (4, "completely unrelated text with no overlap at all"),
            # repeats ITSELF but matches no other doc
            (5, "solo phrase repeated often " * 4),
        ],
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end): r.n_grams
        for r in duplicate_spans(df, k=4, min_docs=2).collect()
    }
    by_doc = {}
    for (d, s, e), n in spans.items():
        by_doc.setdefault(d, []).append((s, e, n))
    # doc 1: words 0..8 duplicated -> grams at 0..5 -> span [0, 8]
    assert by_doc[1] == [(0, 8, 6)]
    # doc 2: shared starts at word 4 -> span [4, 12]
    assert by_doc[2] == [(4, 12, 6)]
    # doc 3: two disjoint spans [0,8] and [19,27] (9 + 10 + 9 words)
    assert sorted(by_doc[3]) == [(0, 8, 6), (19, 27, 6)]
    assert 4 not in by_doc and 5 not in by_doc


def test_duplicate_spans_adjacent_grams_merge(spark):
    """Positions p and q merge while q <= p + k — overlapping AND
    abutting k-word windows form one span, a gap of > k breaks it."""
    from gcp_dataengineering_spark.llm_ops.dedup import duplicate_spans

    # doc 6/7 share "a b c" and "d e f" with ONE unique word between
    # them in doc 6: gram hits at 0 and 4 with k=3 -> 4 <= 0+3 is
    # false -> two spans
    df = _docs(
        spark,
        [
            (6, "a b c q1 d e f"),
            (7, "a b c zz d e f"),
        ],
    )
    by_doc = {}
    for r in duplicate_spans(df, k=3, min_docs=2).collect():
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert sorted(by_doc[6]) == [(0, 2), (4, 6)]


def test_strip_duplicate_spans_rebuild(spark):
    """Covered words drop, survivors rejoin with single spaces in
    ORIGINAL case; untouched docs keep every word."""
    from gcp_dataengineering_spark.llm_ops.dedup import strip_duplicate_spans

    shared = "The Quick Brown Fox Jumps Over The Lazy Dog"
    df = _docs(
        spark,
        [
            (1, shared + " Unique Tail One Two Three"),
            (2, "Other   Start Words Here " + shared),  # multi-space too
            (3, "nothing shared in this one"),
        ],
    )
    out = {r.doc_id: r.clean_text for r in strip_duplicate_spans(df, k=4).collect()}
    assert out[1] == "Unique Tail One Two Three"
    assert out[2] == "Other Start Words Here"
    assert out[3] == "nothing shared in this one"


def test_duplicate_spans_plan_shape(spark):
    """Scale receipt: no cartesian/broadcast-nested-loop anywhere in
    the plan — candidate generation is the posting-list join, span
    assembly one doc-keyed window."""
    from gcp_dataengineering_spark.llm_ops.dedup import duplicate_spans

    df = _docs(spark, [(i, f"w{i} x y z common phrase words here") for i in range(50)])
    plan = (
        duplicate_spans(df, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_strip_duplicate_spans_long_doc_linear(spark):
    """Scale receipt for the LINEAR rebuild (r10 verdict item 1): a
    100k-word doc duplicated wholesale (covered ≈ words — the exact
    shape this operator exists for) plus a 1.5k-span alternating doc
    strip in seconds. The retired covered-index-set filter was
    O(words × covered) per doc — ~1e10 array_contains comparisons for
    doc 1 alone, inside ONE task — i.e. minutes-to-hours, no amount
    of partitioning helps. The rebuild is O(words + n_spans): gap
    boundaries from the sorted disjoint spans, slice + flatten."""
    import time

    from gcp_dataengineering_spark.llm_ops.dedup import (
        duplicate_spans,
        strip_duplicate_spans,
    )

    n = 100_000
    big = " ".join(f"w{i % 5003}" for i in range(n))
    chunk = " ".join(f"c{j}" for j in range(40))
    alt_parts = []
    for i in range(1500):
        alt_parts.append(chunk)
        alt_parts.append(" ".join(f"u{i}x{j}" for j in range(10)))
    df = _docs(
        spark,
        [
            (1, big),
            (2, big),  # full duplicate -> 1 span covering every word
            (3, " ".join(alt_parts)),  # 1500 disjoint spans
            (4, chunk),  # the shared chunk's partner doc
            (5, "untouched unique words stay intact here"),
        ],
    )
    spans = duplicate_spans(df, k=8, min_docs=2)
    t0 = time.monotonic()
    out = {
        r.doc_id: r.clean_text
        for r in strip_duplicate_spans(df, k=8, spans=spans).collect()
    }
    dt = time.monotonic() - t0
    assert out[1] == "" and out[2] == ""
    # doc 3: every chunk word covered; unique separators survive
    surv = out[3].split(" ")
    assert all(w.startswith("u") for w in surv) and len(surv) == 15_000
    assert out[5] == "untouched unique words stay intact here"
    assert dt < 60.0, f"long-doc strip took {dt:.1f}s — rebuild not linear?"


def test_strip_duplicate_spans_plan_shape(spark):
    """The strip adds ONE per-doc span aggregate + one left join on
    the id — no cartesian, no nested-loop, and no explode of covered
    indices (the plan never materializes one row per covered word)."""
    from gcp_dataengineering_spark.llm_ops.dedup import strip_duplicate_spans

    df = _docs(spark, [(i, "a shared phrase here and a tail " + f"t{i}") for i in range(20)])
    plan = (
        strip_duplicate_spans(df, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the retired quadratic path exploded sequence(span_start,
    # span_end) into one row per covered word and re-collected it —
    # neither the explode nor the per-word membership scan may return
    assert "explode(sequence(span_start" not in plan
    assert "array_contains" not in plan


def test_strip_duplicate_spans_preserve_whitespace(spark):
    """r11: preserve_whitespace mode keeps each surviving word's
    ORIGINAL trailing whitespace — newline structure survives the
    strip (the r10 verdict's latent gopher-after-strip misscore).
    Token indices align with the \\s+ word indices the spans were
    computed on, so the SAME words drop in both modes."""
    from gcp_dataengineering_spark.llm_ops.dedup import strip_duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    df = _docs(
        spark,
        [
            (1, f"keep one\nkeep two\n{shared} tail"),
            (2, "other head " + shared),
            (3, "lines stay\nexactly as\nthey were"),
        ],
    )
    out = {
        r.doc_id: r.clean_text
        for r in strip_duplicate_spans(
            df, k=4, preserve_whitespace=True
        ).collect()
    }
    # doc 1: shared words drop; the newlines BETWEEN survivors stay
    assert out[1] == "keep one\nkeep two\ntail"
    assert out[2] == "other head"          # trailing ws rtrimmed
    assert out[3] == "lines stay\nexactly as\nthey were"

    # default mode unchanged: single-space rejoin
    norm = {
        r.doc_id: r.clean_text
        for r in strip_duplicate_spans(df, k=4).collect()
    }
    assert norm[1] == "keep one keep two tail"
    assert norm[3] == "lines stay exactly as they were"


def test_strip_duplicate_spans_property_fuzz(spark):
    """Seeded fuzz over random small-vocabulary corpora (shared
    grams everywhere) × random k: the gap-slicing rebuild must equal
    the obvious Python reference — drop every word whose index falls
    in any span, in BOTH modes (single-space rejoin and
    preserve_whitespace) — and the span frames themselves must be
    valid (within bounds, >= k words, pairwise disjoint, merged)."""
    import random
    import re

    from gcp_dataengineering_spark.llm_ops.dedup import (
        duplicate_spans,
        strip_duplicate_spans,
    )

    rng = random.Random(20260815)
    vocab = [f"v{j}" for j in range(7)]
    ws = [" ", "  ", "\n", " \n ", "\t"]
    for case in range(5):
        k = rng.randint(2, 4)
        docs = []
        for d in range(12):
            nwords = rng.randint(0, 30)
            t = ""
            for j in range(nwords):
                t += rng.choice(vocab) + rng.choice(ws)
            docs.append((d, t))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sp = duplicate_spans(df, k=k, min_docs=2)
        spans = {}
        for r in sp.collect():
            spans.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.n_grams)
            )
        out_norm = {
            r.doc_id: r.clean_text
            for r in strip_duplicate_spans(df, k=k, spans=sp).collect()
        }
        out_pres = {
            r.doc_id: r.clean_text
            for r in strip_duplicate_spans(
                df, k=k, spans=sp, preserve_whitespace=True
            ).collect()
        }
        for d, t in docs:
            words = [w for w in re.split(r"\s+", t) if w]
            toks = re.findall(r"\S+\s*", t)
            ss = sorted(spans.get(d, []))
            # span validity: in-bounds, >= k long, disjoint, merged
            # (gap > 1 between consecutive spans — abutting merged)
            for (s, e, ng) in ss:
                assert 0 <= s <= e < len(words), (case, d, ss)
                assert e - s + 1 >= k
            for (s1, e1, _), (s2, e2, _) in zip(ss, ss[1:]):
                assert e1 + 1 < s2, (case, d, ss)
            covered = {
                i for (s, e, _) in ss for i in range(s, e + 1)
            }
            want_norm = " ".join(
                w for i, w in enumerate(words) if i not in covered
            )
            want_pres = "".join(
                tk for i, tk in enumerate(toks) if i not in covered
            ).rstrip()
            assert out_norm[d] == want_norm, (case, d, k, t)
            assert out_pres[d] == want_pres, (case, d, k, t)


def test_duplicate_spans_exact_partner_verified(spark):
    """r12 exactness option: every (doc, partner, span) row is a
    verified literal claim — the doc's word slice appears verbatim
    as a contiguous word run in the partner. Includes the
    cross-partner chain case the relaxed form merges: exact reports
    per-partner spans, never a chimera span no single partner
    contains."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        duplicate_spans,
        duplicate_spans_exact,
    )

    k = 3
    # doc 1 stitches a run shared with doc 2 and a run shared with
    # doc 3, abutting — the relaxed form chains them into one span
    d1 = "x1 x2 x3 y1 y2 y3 tail1 tail2"
    d2 = "head x1 x2 x3 other words here now"
    d3 = "y1 y2 y3 closing words of three"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    words = {r.doc_id: r.text.split() for r in docs.collect()}
    exact = duplicate_spans_exact(docs, k=k, min_docs=2).collect()
    assert exact  # something found
    for r in exact:
        piece = words[r.doc_id][r.span_start : r.span_end + 1]
        partner = words[r.partner_id]
        assert any(
            partner[i : i + len(piece)] == piece
            for i in range(len(partner) - len(piece) + 1)
        ), (r, piece)
    # doc 1's exact spans are per-partner: [0,2] with 2 and [3,5]
    # with 3 — never the relaxed chimera [0,5]
    d1_spans = {(r.partner_id, r.span_start, r.span_end)
                for r in exact if r.doc_id == 1}
    assert d1_spans == {(2, 0, 2), (3, 3, 5)}
    relaxed = {
        (r.span_start, r.span_end)
        for r in duplicate_spans(docs, k=k, min_docs=2).collect()
        if r.doc_id == 1
    }
    assert relaxed == {(0, 5)}  # the documented superset behavior


def test_duplicate_spans_exact_covers_same_positions_as_relaxed(spark):
    """The strip semantics were already exact: on a fuzz corpus with
    planted shared sentences (no gram over the pairing cap), the
    UNION of covered word positions per doc is identical between the
    relaxed and the exact form — the exact form adds attribution,
    not coverage."""
    import random

    from gcp_dataengineering_spark.llm_ops.dedup import (
        duplicate_spans,
        duplicate_spans_exact,
    )

    rng = random.Random(20260817)
    shared = [
        " ".join(f"s{j}w{i}" for i in range(rng.randint(4, 9)))
        for j in range(6)
    ]

    def doc(i):
        parts = []
        for _ in range(rng.randint(2, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(shared))
            parts.append(" ".join(f"u{i}x{rng.randrange(1000)}"
                                  for _ in range(rng.randint(1, 6))))
        return (i, " ".join(parts))

    docs = spark.createDataFrame([doc(i) for i in range(30)],
                                 "doc_id long, text string")
    k = 4
    relaxed = duplicate_spans(docs, k=k, min_docs=2).collect()
    exact = duplicate_spans_exact(docs, k=k, min_docs=2).collect()

    def covered(rows):
        cov = {}
        for r in rows:
            cov.setdefault(r.doc_id, set()).update(
                range(r.span_start, r.span_end + 1)
            )
        return cov

    assert covered(relaxed) == covered(exact)


def test_duplicate_spans_exact_hot_gram_cap(spark):
    """Grams above max_gram_occurrences are excluded from the pair
    expansion (the documented guardrail): a gram planted in many
    docs disappears from the exact output under a small cap while
    the relaxed form still reports it."""
    from gcp_dataengineering_spark.llm_ops.dedup import (
        duplicate_spans,
        duplicate_spans_exact,
    )

    hot = "boiler plate footer line"
    docs = spark.createDataFrame(
        [(i, f"unique{i} words{i} here{i} " + hot) for i in range(12)],
        "doc_id long, text string",
    )
    k = 4
    capped = duplicate_spans_exact(docs, k=k, min_docs=2,
                                   max_gram_occurrences=5).collect()
    assert capped == []
    uncapped = duplicate_spans_exact(docs, k=k, min_docs=2,
                                     max_gram_occurrences=100).collect()
    assert uncapped
    assert duplicate_spans(docs, k=k, min_docs=2).count() > 0
