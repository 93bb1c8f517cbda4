"""The composed training-corpus pipeline: raw documents in, training
splits + shard plan out — every stage an operator this package
already oracle- or pytest-gates individually, chained in the order a
production pretraining-data build runs them:

0. optional registrable-domain blocklist (config.blocked_domains +
   config.url_col — drop whole sites before any text work),
1. page quality gate (quality_features + the corpus policy),
2. source reputation gate (judge the site, not just the page),
2b. optional boilerplate removal (corpus-frequency repeated-segment
   strip, judged on raw text — config.boilerplate_max_doc_frac),
2c. optional MODEL quality gate (r12 — quality_model.nb_train +
   nb_quality_gate: the hashed-n-gram Naive Bayes trained on
   config.quality_model_labeled, the CCNet/FineWeb-style learned
   filter the heuristic gates pair with; scores ride as nbq_score),
3. PII scrubbing (before fingerprinting, so PII-only variants
   collapse and the stored fingerprint matches the stored text),
4. exact dedup (md5 fingerprint, min-id keeper),
5. near-dup dedup (MinHash → LSH bands → connected components →
   keeper per group),
5a. optional SemDeDup-style SEMANTIC dedup (config.semantic_dedup_cos
   — in-engine char-n-gram embeddings → sign-LSH blocking →
   integer-exact cosine threshold → CC keepers; catches re-phrasings
   lexical minhash misses, r13),
5b. optional span-level exact-substring dedup (config.span_dedup_k —
   strip residual cross-document duplicated spans from surviving
   docs, Lee et al. 2022 style),
6. eval-set decontamination (13-gram overlap anti-join; skipped when
   no eval sets given),
7. per-source token cap (anti-overrepresentation; optional),
7b. optional temperature-weighted source mixing (p_s ∝ n_s^alpha
   plan + content-stable hash downsample —
   config.mixture_budget_tokens / mixture_alpha),
8. content-stable train/val/test split,
9. token-budget shard planning per (split, lang).

Laziness contract: the returned DataFrames are plans, not results —
`corpus` is the cleaned corpus, `shards` the shard plan; nothing is
collected here. `stage_counts` is the release report; it persists
each stage around its count. With ``materialize`` on, its counts read
the branch points the build already pinned; fully lazy, the persist
alone keeps the report to one pipeline pass, not one per stage.

Scale shape: every stage is the shape its own module documents —
scan-speed projections for gates/scrub, fingerprint-only shuffles
for dedup, capped posting joins for near-dup/decontam, a reputation
broadcast, one window per cap/shard stage. Composing them adds no
new shuffle: consecutive stages either reuse partitioning or are
narrow."""

from __future__ import annotations

from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .corpus import (
    apply_dedup_keepers,
    cap_source_tokens,
    hash_bucket,
    hash_split,
    remove_boilerplate,
    shard_by_token_budget,
    source_reputation_filter,
)
from .decontam import decontaminate
from .dedup import (
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signatures,
    resolve_dup_groups,
)
from .text import (
    corpus_quality_gate,
    quality_features,
    scrub_pii,
    whitespace_token_count,
)


@dataclass
class PipelineConfig:
    gate: Column | None = None          # page policy (default corpus_quality_gate)
    # conjoin the published Gopher rule set (text.gopher_features +
    # gopher_pass) into the page gate; gopher_min_words is the one
    # knob deployments tune (the paper's 50-word floor is aggressive
    # for short-form corpora)
    gopher: bool = False
    gopher_min_words: int = 50
    # the OTHER half of the published Gopher gate (r17 wave 5):
    # §A1.2's thirteen repetition thresholds (dup lines/paragraphs,
    # top 2/3/4-gram character coverage, dup 5..10-gram coverage).
    # A separate stage from `gopher` because these are aggregations
    # (explodes + doc-keyed groupBys), not row-map projections — they
    # run right after the reputation gate, before the learned gates,
    # so the n-gram fan-out only prices the reputable survivors.
    gopher_repetition: bool = False
    min_source_pass_pct: int = 50       # source reputation bar
    min_source_docs: int = 1
    minhash_hashes: int = 8
    lsh_bands: int = 4
    decontam_ngram: int = 13
    # PaLM-style fraction rule for the exact decontam stage (r17
    # wave 4): flag a doc only when the contaminated share of its
    # distinct n-grams reaches num/den (None = the GPT-3 count rule,
    # any collision flags). Exact integer verdict.
    decontam_min_shared_frac: tuple | None = None
    # MinHash FUZZY decontamination (r17 wave 4): also drop docs
    # whose est_jaccard against any eval item reaches this threshold
    # — the near-duplicate overlap (light paraphrases) the exact
    # n-gram rule misses. None = stage off. Runs right after the
    # exact rule, reusing minhash_hashes/lsh_bands; needs eval_df.
    decontam_fuzzy_min_est_jaccard: float | None = None
    max_tokens_per_source: int | None = None
    shard_budget_tokens: int = 2_000_000
    # strip sep-split segments appearing in at least ceil(total *
    # frac) documents (None = stage off); runs BEFORE the PII scrub
    # so segment identity is judged on raw text
    boilerplate_max_doc_frac: float | None = None
    boilerplate_sep: str = "\n"
    # learned BPE merge table (left, right, rank) — e.g. from
    # bpe.bpe_train. When set, documents are BPE-encoded after
    # decontamination: token budgets (max_tokens_per_source,
    # shard_budget_tokens) switch from whitespace words to real
    # tokenizer counts and the `tokens` sequences ride to the shards.
    # bpe_word_pattern MUST match the corpus's scripts: the
    # lowercase-Latin default tokenizes non-Latin text to ZERO tokens,
    # which would silently un-cap those documents' budgets — widen it
    # (e.g. r"[^\p{L}]+") for multilingual builds. A Future of the
    # table is accepted too (a trainer still running on another
    # driver thread, see session.submit): the build takes its
    # .result() at the encode step, the first stage that reads it.
    bpe_merges: object | None = None
    # None resolves in llm_ops.bpe to the classic "[^a-z]+" (or
    # whitespace when bpe_byte_level — the lossless-per-word choice)
    bpe_word_pattern: str | None = None
    bpe_max_word_len: int = 64
    # byte-level BPE (r11): keep case, map each word's UTF-8 bytes to
    # the 256-symbol printable alphabet — no script ever dropped; the
    # merge table must have been trained byte-level too
    bpe_byte_level: bool = False
    # learned unigram-LM piece table (piece, cnt, score, piece_id) —
    # e.g. from unigram.unigram_train (r14: the SentencePiece-family
    # alternative to bpe_merges). When set, documents are
    # Viterbi-segmented after decontamination and the SAME budget
    # switch happens: max_tokens_per_source / shard_budget_tokens /
    # mixture_budget_tokens are denominated in unigram pieces, the
    # piece sequences ride to the shards as `tokens`, and the vocab
    # ids ride as `token_ids` (NULL id = OOV single char). Mutually
    # exclusive with bpe_merges — one tokenizer denominates a build.
    # Like bpe_merges it may be a Future of the table, resolved at
    # the encode step.
    unigram_vocab: object | None = None
    unigram_max_piece_len: int = 6
    # r18 (r17 verdict item 5): SentencePiece-style byte fallback for
    # the Viterbi encoder — vocab-unknown pieces become reserved
    # <0xNN> byte pieces (negative ids), the doc tokenization
    # switches to the lossless-per-word convention (case kept,
    # whitespace split), and budgets count those byte pieces like
    # any other token. Exclusive with unigram_sample_alpha (the
    # sampled lattice has no fallback path).
    unigram_byte_fallback: bool = False
    # subword REGULARIZATION (r14): with unigram_vocab set, a non-None
    # alpha switches the encode from Viterbi to SAMPLED segmentation
    # (unigram.unigram_sample_docs — md5-seeded lattice filtration at
    # temperature alpha). Budgets then count the pieces THIS epoch's
    # sampled corpus actually consumes; vary unigram_sample_salt per
    # epoch to resample.
    unigram_sample_alpha: float | None = None
    unigram_sample_salt: str = "ep0"
    # registrable-domain blocklist (urls.filter_blocked_domains),
    # applied FIRST — before any text is even featurized — when the
    # frame carries url_col. A pure isin/anti-join filter: the
    # cheapest possible place to drop a whole site.
    blocked_domains: tuple[str, ...] = ()
    url_col: str | None = None
    # span-level exact-substring dedup (dedup.strip_duplicate_spans,
    # Lee et al. 2022): None = stage off. Runs AFTER doc-level dedup
    # (whole-dup docs are gone, this strips residual cross-document
    # duplicated spans) and BEFORE decontamination + tokenization, so
    # n-gram overlap checks and token budgets see the final text.
    # Surviving words keep their original trailing whitespace
    # (preserve_whitespace mode), so line structure survives for any
    # later gating.
    span_dedup_k: int | None = None
    span_dedup_min_docs: int = 2
    # SemDeDup-style SEMANTIC dedup (embed.semantic_dedup, r13):
    # cosine threshold in hundredths (e.g. 95 → cos ≥ 0.95); None =
    # stage off. Runs AFTER the lexical near-dup stage — minhash
    # catches shared phrasing, this catches re-phrasings whose
    # char-n-gram embeddings still align — and BEFORE span dedup /
    # decontamination so downstream budgets see the final doc set.
    # In-engine embeddings (no vectors needed), LSH-blocked
    # candidates, integer-exact threshold decisions.
    semantic_dedup_cos: int | None = None
    semantic_dedup_dim: int = 16
    semantic_dedup_max_chars: int = 256
    semantic_dedup_planes: int = 8
    # LSH table count L: a true pair at cosine c collides in one
    # 8-plane table with p^8, p = 1 − acos(c)/π, so pair recall is
    # 1 − (1 − p^8)^L. The default L=6 trades ~6 points of pair
    # recall at the cos≥0.92 edge (≈0.90 vs ≈0.96 at the suite key's
    # L=8) for 25% less bucket work — raise to 8 to match the oracle
    # key's setting when recall matters more than cost.
    semantic_dedup_tables: int = 6
    # D4-style cluster balancing (similarity.cluster_balanced_sample,
    # r17 wave 6): None = stage off. Embeds the dedup survivors
    # in-engine (embed.doc_embed_table — no vector column needed),
    # k-means them with the IVF build, and keeps at most this many
    # documents per embedding-space cluster — dense semantic regions
    # (template families, topic gluts) are capped AFTER near/semantic
    # dedup removed their outright duplicates; sparse clusters
    # survive whole. The per-doc (cluster, verdict) frame ships as
    # stages["cluster_balance"].
    cluster_balance_cap: int | None = None
    cluster_balance_k: int = 16
    cluster_balance_dim: int = 16
    cluster_balance_max_chars: int = 256
    # temperature-weighted source mixing (corpus.mixture_plan +
    # apply_mixture, r11): None = stage off. Runs AFTER the per-source
    # cap and right before the split, so the plan is computed from
    # the REAL final token counts (BPE counts when bpe_merges is
    # set). Downsampling only — upsampling is reported as epochs in
    # the plan frame (stages["mixture_plan"]) for the training loop.
    mixture_budget_tokens: int | None = None
    mixture_alpha: float = 0.5
    # model-based quality gate (quality_model.nb_train +
    # nb_quality_gate, r12): a labeled DataFrame[text, label] (1 =
    # high quality, 0 = reject) to train the hashed-n-gram Naive
    # Bayes on; None = stage off. Runs after reputation/boilerplate
    # and before the PII scrub — a scan-speed row map (broadcast
    # weight array, zero corpus shuffle), so gating early drops junk
    # before the expensive dedup joins. threshold is in fixed-point
    # llog2 units (0 = the NB decision boundary); the per-doc
    # nbq_score column rides through to the corpus for re-ranking.
    quality_model_labeled: object | None = None
    quality_model_threshold: int = 0
    quality_model_buckets: int = 4096
    # calibrate the gate threshold FROM DATA instead of
    # quality_model_threshold (r12): split the labeled frame 80/20 by
    # content-stable hash, train on the 80, pick the max-recall
    # threshold achieving this precision on the held-out 20
    # (quality_model.nb_calibrate_threshold). Raises if the target is
    # unreachable — a gate that can't hit its precision bar should
    # fail the build loudly, not ship a silently weaker corpus.
    quality_model_target_precision_pct: int | None = None
    # 1 | 2 | 'char3_5' (r13: character 3-5-gram features)
    quality_model_ngrams: int | str = 1
    # CCNet-style n-gram LM perplexity filter (ngram_lm.
    # bigram_perplexity, r16): keep documents scoring at most this
    # many bits/token under the bigram backoff LM; None = stage off.
    # The LM trains on perplexity_ref when given (the published
    # recipe: a trusted reference corpus, e.g. Wikipedia) and on the
    # gated corpus itself otherwise (self-scored — still separates
    # gibberish from prose, since junk n-grams don't repeat). Runs
    # after reputation/boilerplate/model gates and before the PII
    # scrub, like the NB gate: drop junk before the expensive dedup
    # joins. Zero-token documents fail the gate (they cannot certify
    # fluency). The per-doc scores frame is a release artifact
    # (stages["perplexity"]).
    perplexity_max_bits: float | None = None
    perplexity_ref: object | None = None
    perplexity_min_count: int = 2
    perplexity_backoff_bits: int = 4
    # n-gram order of the LM: 2 (bigram, the oracle-keyed default),
    # 3 (trigram — one order closer to CCNet's 5-gram), or 4/5 (the
    # published CCNet depth). Laplace exists at orders 2 and 3 only
    # (ngram_lm.bigram_perplexity / trigram_perplexity; the
    # tri→bi→uni escape chain uses perplexity_backoff_bits for the
    # first escape and 2× it for the second), so orders 4 and 5
    # require perplexity_smoothing="kn".
    perplexity_order: int = 2
    # smoothing family (r17): "laplace" (fixed-escape Laplace-unigram
    # backoff, the oracle-keyed default) or "kn" (absolute-discount
    # Kneser-Ney with continuation counts — the family CCNet's KenLM
    # uses; changes which borderline docs the gate keeps, notably
    # novel-but-fluent word combinations). "kn" runs
    # ngram_kn.kn_perplexity at perplexity_order, whatever the order;
    # perplexity_backoff_bits does not apply to it.
    perplexity_smoothing: str = "laplace"
    # KenLM-style count-threshold pruning (r17 wave 3): {order: min
    # count to keep}, any order 2..perplexity_order; requires
    # perplexity_smoothing="kn" (ngram_kn.kn_perplexity prunes at
    # every order). Shrinks the model tables by the singleton mass
    # with exact escape renormalization — at 100 TB an unpruned
    # 5-gram type table is itself crawl-sized.
    perplexity_prune: dict | None = None
    # CCNet's head/middle/tail gate (r17 wave 3): keep only docs in
    # these buckets (e.g. ("head", "middle") — the published
    # recipe's quality cut). Buckets come from
    # ngram_lm.perplexity_buckets over the stage's scores, per
    # perplexity_bucket_by (the corpus' language column). Composes
    # with perplexity_max_bits (both gates apply); with max_bits
    # None, the buckets ARE the gate. NULL-ppl docs fail either way.
    perplexity_bucket_keep: tuple | None = None
    perplexity_bucket_by: str = "lang"
    # DSIR distribution-matching selection (llm_ops/dsir.py, r17
    # wave 4 — Xie et al. 2023): a TARGET-domain DataFrame[text]
    # (e.g. Wikipedia/books) to fit the hashed-n-gram density ratio
    # against; None = stage off. Runs AFTER the quality/perplexity
    # gates (raw = what survived cleaning, matching the paper's
    # lightly-cleaned-pool setup) and BEFORE the PII scrub + dedup
    # joins, so the expensive stages only see the selected fraction.
    # dsir_keep is the (num, den) keep fraction; selection is
    # Gumbel-top-k ∝ importance weight (dsir_gumbel=False is the
    # paper's deterministic top-k ablation). The fitted model and
    # the scored/keyed/selected frame ship as release artifacts.
    dsir_target: object | None = None
    dsir_keep: tuple = (1, 4)
    dsir_buckets: int = 4096
    dsir_ngrams: int | str = 2
    dsir_gumbel: bool = True
    # re-derive the language column with the r12 two-stage lang_id
    # (script router + 20-language stopword vote) instead of
    # trusting the input's lang column: crawl metadata lies, and the
    # shard plan + any per-language budgeting are only as good as
    # this tag. Runs with the page gate (stateless row map).
    retag_lang: bool = False
    # group the temperature-mixture stage by this column instead of
    # the source: e.g. "lang" (with retag_lang) gives the published
    # per-LANGUAGE token budgets (p_lang ∝ n_lang^alpha) instead of
    # per-source ones. None = the pipeline's source column.
    mixture_by: str | None = None
    extra: dict = field(default_factory=dict)


def _resolved(table):
    """A tokenizer table, waiting for it when it is a ``Future``."""
    return table.result() if isinstance(table, Future) else table


def build_training_corpus(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    config: PipelineConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    materialize=False,
) -> dict[str, DataFrame]:
    """Run the full build. Returns a dict of stage outputs:
    ``gated`` → ``reputable`` → ``scrubbed`` → ``exact_deduped`` →
    ``near_deduped`` → ``decontaminated`` → ``capped`` → ``corpus``
    (with `split`), plus ``shards`` (the shard plan). Each value is
    a lazy DataFrame; see `stage_counts` for the report.

    ``materialize`` pins every branch point, the frames that more
    than one consumer reads, so lineage does not re-run per consumer:

    - ``scrubbed``: the exact-dedup fingerprint join and everything
      downstream;
    - ``exact_deduped``: the minhash / CC / keeper trio;
    - ``perplexity`` (when the LM gate is on): the bucket cut, the
      fluent-id semi-join and the report;
    - ``capped``: the tokenized corpus, read by the mixture plan,
      the split, the shard plan, and every write and count of them —
      so the encoder runs once per build;
    - the gated corpus ahead of each optional stage whose operator
      references its input more than once (boilerplate, Gopher
      repetition, self-trained LM, DSIR, semantic dedup, cluster
      balance, span dedup, the tokenizers) and the small trained
      models (quality model, DSIR weights, duplicate spans).

    Pass ``None`` to pin (localCheckpoint, or a reliable checkpoint
    when the session has a checkpoint directory, as on a cluster;
    see llm_ops.materialize). The caller owns the pins and releases
    them when done (``llm_build.main`` unpersists every RDD the build
    pinned). Keep the default ``False`` to stay fully lazy: the
    stage_counts path persists every stage itself, and one-stage
    consumers don't pay for materialization they don't need."""
    from .materialize import materialize as _materialize

    cfg = config or PipelineConfig()
    if cfg.unigram_byte_fallback and cfg.unigram_sample_alpha is not None:
        raise ValueError(
            "unigram_byte_fallback and unigram_sample_alpha are mutually "
            "exclusive — the sampled lattice encoder has no fallback path"
        )
    if cfg.bpe_merges is not None and cfg.unigram_vocab is not None:
        raise ValueError(
            "bpe_merges and unigram_vocab are mutually exclusive — a "
            "build's budgets must be denominated in ONE tokenizer's "
            "counts"
        )

    if cfg.blocked_domains and cfg.url_col is not None:
        from .urls import filter_blocked_domains

        docs = filter_blocked_domains(
            docs, list(cfg.blocked_domains), cfg.url_col
        )

    if cfg.retag_lang:
        # 0b. trust the text, not the crawl metadata: the r12
        # two-stage lang_id re-derives the language column every
        # downstream per-language decision (shard partitioning,
        # mixture_by="lang") keys on. Stateless row map.
        from .text import lang_id as _lang_id

        docs = docs.withColumn(lang_col, _lang_id(text_col))

    feats = quality_features(docs, text_col)
    gate = cfg.gate if cfg.gate is not None else corpus_quality_gate()
    gopher_cols: list[str] = []
    if cfg.gopher:
        from .text import gopher_features, gopher_pass

        feats = gopher_features(feats, text_col)
        gate = gate & gopher_pass(min_words=cfg.gopher_min_words)
        gopher_cols = [
            "g_n_words", "g_mean_word_len", "g_symbol_ratio",
            "g_bullet_line_frac", "g_ellipsis_line_frac",
            "g_alpha_word_frac", "g_stopword_hits",
        ]
    flagged = feats.withColumn("_page_pass", gate)
    reputable_src = source_reputation_filter(
        flagged,
        "_page_pass",
        source_col=source_col,
        min_pass_pct=cfg.min_source_pass_pct,
        min_docs=cfg.min_source_docs,
    )
    gated = flagged.filter(F.col("_page_pass"))
    reputable = reputable_src.filter(F.col("_page_pass")).drop("_page_pass").drop(
        "n_chars_calc", "n_tokens", "avg_token_len", "punct_ratio",
        "stopword_ratio", *gopher_cols
    )

    if cfg.boilerplate_max_doc_frac is not None:
        # remove_boilerplate's plan references its input 4x (total,
        # frequency, kept segments, final join) — pin the gated
        # corpus first or the quality/reputation gates re-run 4x
        # per downstream execution (the documented branch-point rule)
        reputable = _materialize(reputable, materialize)
        reputable = remove_boilerplate(
            reputable,
            text_col,
            id_col,
            sep=cfg.boilerplate_sep,
            max_doc_frac=cfg.boilerplate_max_doc_frac,
        ).filter(F.trim(F.col(text_col)) != "")
        # ^ re-gate: a document that was ALL chrome passes the quality
        # gate on its raw text but is empty after the strip — an empty
        # string has no place in a training corpus

    gopher_rep: DataFrame | None = None
    if cfg.gopher_repetition:
        # 2b. Gopher §A1.2 repetition thresholds (r17 wave 5): the
        # features reference their input three times (units, grams,
        # word lengths) — pin the branch point per the documented
        # rule; the verdict frame is a release artifact
        # (stages["gopher_repetition"]).
        from .text import gopher_repetition_features

        reputable = _materialize(reputable, materialize)
        gopher_rep = gopher_repetition_features(
            reputable, text_col, id_col,
            materialize=materialize,
        )
        keep = gopher_rep.filter(F.col("rep_pass")).select(
            F.col("doc_id").alias(id_col)
        )
        reputable = reputable.join(keep, id_col, "left_semi")

    quality_model: DataFrame | None = None
    model_gated: DataFrame | None = None
    quality_calibration: DataFrame | None = None
    if cfg.quality_model_labeled is not None:
        # 2c. learned vocabulary gate: train on the caller's labeled
        # frame (dimension-sized model, B buckets), score+filter the
        # corpus at scan speed. The model frame is a release
        # artifact (stages["quality_model"]), like the mixture plan.
        from .quality_model import (
            nb_calibrate_threshold,
            nb_quality_gate,
            nb_train,
        )

        labeled = cfg.quality_model_labeled
        threshold = cfg.quality_model_threshold
        if cfg.quality_model_target_precision_pct is not None:
            # hold out a content-stable 20% for calibration — the
            # threshold must be judged on examples the weights never
            # saw, or precision is flattered
            b = hash_bucket(text_col, salt="nbq_cal", buckets=100)
            train_split = labeled.filter(b < 80)
            holdout = labeled.filter(b >= 80)
            quality_model = nb_train(
                train_split,
                text_col=text_col,
                num_buckets=cfg.quality_model_buckets,
                ngrams=cfg.quality_model_ngrams,
            )
            quality_model = _materialize(quality_model, materialize)
            quality_calibration = nb_calibrate_threshold(
                holdout,
                quality_model,
                cfg.quality_model_target_precision_pct,
                text_col=text_col,
                ngrams=cfg.quality_model_ngrams,
            )
            cal = quality_calibration.collect()[0]
            if cal.threshold is None:
                raise ValueError(
                    "quality-model calibration: no threshold reaches "
                    f"{cfg.quality_model_target_precision_pct}% precision "
                    "on the held-out labeled split — improve the labels "
                    "or lower the target"
                )
            threshold = cal.threshold
        else:
            quality_model = nb_train(
                labeled,
                text_col=text_col,
                num_buckets=cfg.quality_model_buckets,
                ngrams=cfg.quality_model_ngrams,
            )
            # the trained weights feed every downstream row: pin
            # the B-row model so training aggregations run once,
            # not per consumer of the corpus lineage
            quality_model = _materialize(quality_model, materialize)
        model_gated = nb_quality_gate(
            reputable,
            quality_model,
            text_col=text_col,
            threshold=threshold,
            ngrams=cfg.quality_model_ngrams,
        )
        reputable = model_gated

    perplexity_scores: DataFrame | None = None
    perplexity_bucketed: DataFrame | None = None
    if cfg.perplexity_max_bits is not None or cfg.perplexity_bucket_keep is not None:
        # 2d. CCNet-style perplexity gate (r16): n-gram backoff LM in
        # integer fixed-point log2 (Laplace: ngram_lm at order 2/3;
        # Kneser-Ney: ngram_kn at any order), trained on the reference corpus
        # (or self-trained). Self-trained, the scorer references its
        # input for BOTH training counts and scoring transitions —
        # pin the branch point first per the documented rule.
        from .ngram_lm import (
            bigram_perplexity,
            perplexity_gate,
            trigram_perplexity,
        )

        if cfg.perplexity_order not in (2, 3, 4, 5):
            raise ValueError(
                f"perplexity_order must be 2..5, got {cfg.perplexity_order}"
            )
        if cfg.perplexity_order in (4, 5) and cfg.perplexity_smoothing != "kn":
            raise ValueError(
                "perplexity_order 4/5 requires perplexity_smoothing='kn' "
                "(the generalized-order LM has no laplace-escape form)"
            )
        if cfg.perplexity_prune and cfg.perplexity_smoothing != "kn":
            raise ValueError(
                "perplexity_prune requires perplexity_smoothing='kn' "
                "(count-threshold pruning is a Kneser-Ney model knob)"
            )
        if cfg.perplexity_ref is None:
            reputable = _materialize(reputable, materialize)
        if cfg.perplexity_smoothing == "kn":
            from .ngram_kn import kn_perplexity

            perplexity_scores = kn_perplexity(
                reputable,
                ref=cfg.perplexity_ref,
                order=cfg.perplexity_order,
                text_col=text_col,
                id_col=id_col,
                min_count=cfg.perplexity_min_count,
                prune=cfg.perplexity_prune,
            )
        elif cfg.perplexity_order == 3:
            perplexity_scores = trigram_perplexity(
                reputable,
                ref=cfg.perplexity_ref,
                text_col=text_col,
                id_col=id_col,
                min_count=cfg.perplexity_min_count,
                backoff_bits_bi=cfg.perplexity_backoff_bits,
                backoff_bits_uni=2 * cfg.perplexity_backoff_bits,
                smoothing=cfg.perplexity_smoothing,
            )
        else:
            perplexity_scores = bigram_perplexity(
                reputable,
                ref=cfg.perplexity_ref,
                text_col=text_col,
                id_col=id_col,
                min_count=cfg.perplexity_min_count,
                backoff_bits=cfg.perplexity_backoff_bits,
                smoothing=cfg.perplexity_smoothing,
            )
        # three consumers (the bucket cut, the fluent-id semi-join
        # and the `perplexity` report stage): pin the scores so
        # the LM trains and scores once, not once per consumer
        perplexity_scores = _materialize(perplexity_scores, materialize)
        if cfg.perplexity_bucket_keep is not None:
            # 2e. CCNet's head/middle/tail cut (r17 wave 3): bucket
            # the SCORES per language and keep only the configured
            # buckets. Computed over all scored docs (the tercile
            # boundaries are a property of the corpus, not of the
            # max_bits survivors); both gates then apply.
            from .ngram_lm import perplexity_buckets

            by = cfg.perplexity_bucket_by
            if by not in reputable.columns:
                raise ValueError(
                    f"perplexity_bucket_keep requires a {by!r} column "
                    "(perplexity_bucket_by) on the corpus — CCNet buckets "
                    "per language"
                )
            with_by = perplexity_scores.join(
                reputable.select(F.col(id_col).alias("doc_id"), by), "doc_id"
            )
            perplexity_bucketed = perplexity_buckets(with_by, part_cols=(by,))
            keep_ids = perplexity_bucketed.filter(
                F.col("bucket").isin(*cfg.perplexity_bucket_keep)
            ).select(F.col("doc_id").alias(id_col))
            reputable = reputable.join(keep_ids, id_col, "left_semi")
        if cfg.perplexity_max_bits is not None:
            fluent_ids = perplexity_scores.filter(
                perplexity_gate(cfg.perplexity_max_bits)
            ).select(F.col("doc_id").alias(id_col))
            reputable = reputable.join(fluent_ids, id_col, "left_semi")

    dsir_scored: DataFrame | None = None
    dsir_model: DataFrame | None = None
    if cfg.dsir_target is not None:
        # 2f. DSIR distribution-matching selection (r17 wave 4): fit
        # the density-ratio weights target-vs-survivors, score at
        # scan speed (dense broadcast array, zero corpus shuffle),
        # Gumbel-top-k the keep fraction. The corpus feeds BOTH the
        # raw-side fit counts and the scoring pass — pin the branch
        # point first per the documented rule.
        from .dsir import dsir_fit, dsir_resample, dsir_score

        reputable = _materialize(reputable, materialize)
        dsir_model = dsir_fit(
            cfg.dsir_target,
            reputable.select(F.col(text_col)),
            text_col=text_col,
            num_buckets=cfg.dsir_buckets,
            ngrams=cfg.dsir_ngrams,
        )
        # the B-row model feeds every scored row: pin it so the
        # fit aggregations run once, not per corpus consumer
        dsir_model = _materialize(dsir_model, materialize)
        sel = dsir_resample(
            dsir_score(
                reputable, dsir_model, text_col=text_col,
                ngrams=cfg.dsir_ngrams,
            ),
            *cfg.dsir_keep,
            id_col=id_col,
            gumbel=cfg.dsir_gumbel,
            materialize=materialize,
        )
        dsir_scored = sel.select(
            F.col(id_col).alias("doc_id"), "dsir_logw", "dsir_key", "selected"
        )
        reputable = sel.filter(F.col("selected")).drop(
            "dsir_logw", "dsir_key", "selected"
        )

    scrubbed = (
        scrub_pii(reputable, text_col, out_col="_scrubbed")
        .withColumn(text_col, F.col("_scrubbed"))
        .drop("_scrubbed")
    )
    scrubbed = _materialize(scrubbed, materialize)

    fps = dedup_exact(scrubbed, text_col, id_col)
    exact_deduped = scrubbed.join(
        fps.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )
    exact_deduped = _materialize(exact_deduped, materialize)

    sigs = minhash_signatures(
        exact_deduped, text_col, id_col, num_hashes=cfg.minhash_hashes
    )
    pairs = lsh_candidate_pairs(sigs, num_hashes=cfg.minhash_hashes, bands=cfg.lsh_bands)
    groups = resolve_dup_groups(exact_deduped.select(id_col), pairs, id_col)
    near_deduped = apply_dedup_keepers(exact_deduped, groups, id_col)

    semantic_deduped: DataFrame | None = None
    if cfg.semantic_dedup_cos is not None:
        # 5a. SemDeDup-style semantic dedup (r13): embeddings are
        # generated in-engine from the text itself, so this stage
        # needs no vector column. The group resolver references the
        # near-dup survivors twice (ids + pair generation) — pin the
        # branch point first per the documented rule.
        from .embed import semantic_dedup as _semantic_dedup

        near_deduped = _materialize(near_deduped, materialize)
        sgroups = _semantic_dedup(
            near_deduped,
            id_col,
            text_col,
            dim=cfg.semantic_dedup_dim,
            max_chars=cfg.semantic_dedup_max_chars,
            cos_num=cfg.semantic_dedup_cos,
            cos_den=100,
            n_planes=cfg.semantic_dedup_planes,
            n_tables=cfg.semantic_dedup_tables,
            materialize=materialize,
        )
        semantic_deduped = apply_dedup_keepers(near_deduped, sgroups, id_col)

    # downstream consumes the last enabled dedup stage; the stages
    # dict keeps BOTH frames so the release report shows what each
    # removed
    deduped = semantic_deduped if semantic_deduped is not None else near_deduped

    cluster_balance: DataFrame | None = None
    if cfg.cluster_balance_cap is not None:
        # 5b. D4 cluster balancing (r17 wave 6): runs AFTER the dedup
        # family (outright duplicates are gone; this caps what's left
        # of each dense semantic region). The embedding feeds the
        # iterative Lloyd's build — pin the branch point per the
        # documented rule.
        from .embed import doc_embed_table
        from .similarity import cluster_balanced_sample

        deduped = _materialize(deduped, materialize)
        emb = doc_embed_table(
            deduped.select(id_col, text_col), id_col, text_col,
            "embedding", dim=cfg.cluster_balance_dim,
            max_chars=cfg.cluster_balance_max_chars,
        )
        verdicts = cluster_balanced_sample(
            emb.select(F.col(id_col).alias("vec_id"), "embedding"),
            per_cluster_cap=cfg.cluster_balance_cap,
            n_clusters=cfg.cluster_balance_k,
            materialize=materialize,
        )
        cluster_balance = verdicts.select(
            F.col("vec_id").alias("doc_id"), "cluster", "selected"
        )
        keep = verdicts.filter(F.col("selected")).select(
            F.col("vec_id").alias(id_col)
        )
        deduped = deduped.join(keep, id_col, "left_semi")

    span_stripped: DataFrame | None = None
    if cfg.span_dedup_k is not None:
        # the span machinery references its input three times (gram
        # census, dup-gram join, covered-index rejoin) — pin the
        # branch point first per the documented rule, and pin the
        # tiny span frame so the posting pipeline runs once, not per
        # consumer
        from .dedup import duplicate_spans, strip_duplicate_spans

        deduped = _materialize(deduped, materialize)
        spans = duplicate_spans(
            deduped, text_col, id_col,
            k=cfg.span_dedup_k, min_docs=cfg.span_dedup_min_docs,
        )
        spans = _materialize(spans, materialize)
        span_stripped = (
            strip_duplicate_spans(
                deduped, text_col, id_col,
                k=cfg.span_dedup_k, spans=spans,
                # keep each survivor's original trailing whitespace so
                # newline structure (gopher line ratios) survives the
                # strip (r11; single-space rejoin destroyed it)
                preserve_whitespace=True,
            )
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text")
            .filter(F.trim(F.col(text_col)) != "")
            # ^ re-gate, same rule as boilerplate: a doc that was ALL
            # duplicated spans is empty after the strip
        )

    cleaned = span_stripped if span_stripped is not None else deduped
    if eval_df is not None:
        decontaminated = decontaminate(
            cleaned, eval_df, text_col, id_col, n=cfg.decontam_ngram,
            min_shared_frac=cfg.decontam_min_shared_frac,
        )
        if cfg.decontam_fuzzy_min_est_jaccard is not None:
            # 6b. the fuzzy complement (r17 wave 4): near-dup eval
            # overlap the exact rule misses. Both rules share the
            # minhash/LSH family settings; the eval index broadcasts.
            from .decontam import decontaminate_fuzzy

            decontaminated = decontaminate_fuzzy(
                decontaminated, eval_df, text_col, id_col,
                num_hashes=cfg.minhash_hashes, bands=cfg.lsh_bands,
                min_est_jaccard=cfg.decontam_fuzzy_min_est_jaccard,
                materialize=materialize,
            )
    else:
        if cfg.decontam_fuzzy_min_est_jaccard is not None:
            raise ValueError(
                "decontam_fuzzy_min_est_jaccard needs eval_df — there is "
                "no eval set to decontaminate against"
            )
        decontaminated = cleaned

    if cfg.bpe_merges is not None:
        # real-tokenizer accounting: every downstream budget (source
        # cap, shard plan) is denominated in LEARNED BPE tokens, not
        # whitespace words, and the token sequences ride to the
        # shards. bpe_encode references its input three times (word
        # census, distinct-word encode, rejoin) — pin the branch
        # point first per the documented rule.
        from .bpe import bpe_encode

        decontaminated = _materialize(decontaminated, materialize)
        tok = bpe_encode(
            decontaminated.select(id_col, text_col),
            _resolved(cfg.bpe_merges),
            text_col=text_col,
            id_col=id_col,
            word_pattern=cfg.bpe_word_pattern,
            max_word_len=cfg.bpe_max_word_len,
            byte_level=cfg.bpe_byte_level,
        )
        with_tokens = decontaminated.join(tok, id_col).withColumn(
            "n_tokens", F.size("tokens").cast("long")
        )
    elif cfg.unigram_vocab is not None:
        # r14: same real-tokenizer budget switch, unigram-LM family —
        # Viterbi segmentation over the DISTINCT-WORD table (one word
        # explode + one word-keyed join at corpus scale, never
        # per-word DP re-runs), counts flow into the source cap /
        # mixture / shard budgets exactly as BPE counts do.
        # unigram_encode_docs references its input twice (the word
        # explode and the empty-doc anti-join) — pin the branch point
        # first per the documented rule.
        from .unigram import unigram_encode_docs, unigram_sample_docs

        decontaminated = _materialize(decontaminated, materialize)
        vocab = _resolved(cfg.unigram_vocab)
        if cfg.unigram_sample_alpha is not None:
            # subword regularization: budgets count the pieces this
            # epoch's SAMPLED corpus consumes (salt picks the epoch)
            tok = unigram_sample_docs(
                decontaminated.select(id_col, text_col),
                vocab,
                id_col=id_col,
                text_col=text_col,
                max_piece_len=cfg.unigram_max_piece_len,
                alpha=cfg.unigram_sample_alpha,
                salt=cfg.unigram_sample_salt,
            )
        else:
            tok = unigram_encode_docs(
                decontaminated.select(id_col, text_col),
                vocab,
                id_col=id_col,
                text_col=text_col,
                max_piece_len=cfg.unigram_max_piece_len,
                byte_fallback=cfg.unigram_byte_fallback,
            )
        tok = tok.select(
            id_col,
            F.col("pieces").alias("tokens"),
            F.col("piece_ids").alias("token_ids"),
            "n_oov",
        )
        with_tokens = decontaminated.join(tok, id_col).withColumn(
            "n_tokens", F.size("tokens").cast("long")
        )
    else:
        with_tokens = decontaminated.withColumn(
            "n_tokens", whitespace_token_count(text_col).cast("long")
        )
    capped = (
        cap_source_tokens(
            with_tokens, cfg.max_tokens_per_source, source_col=source_col,
            order_col=id_col,
        )
        if cfg.max_tokens_per_source is not None
        else with_tokens
    )
    # the tokenized corpus fans out to the mixture plan, the
    # split/shard steps, and every write and count of them: pin
    # it so the encoder (BPE, unigram, or the whitespace count)
    # runs once per build
    capped = _materialize(capped, materialize)

    mixture: DataFrame | None = None
    mixed = capped
    if cfg.mixture_budget_tokens is not None:
        # 7b. temperature-weighted source mixing (r11): plan from the
        # REAL token counts this late stage sees (post-dedup,
        # post-cap, BPE counts when enabled), then the content-stable
        # hash downsample. The plan frame references `capped` once
        # more (its aggregation); `capped` is already pinned above.
        # cfg.mixture_by (r12) regroups the budgets — e.g. "lang"
        # (with retag_lang) gives the published per-LANGUAGE
        # temperature mixture instead of per-source.
        from .corpus import apply_mixture, mixture_plan

        mix_col = cfg.mixture_by or source_col
        mixture = mixture_plan(
            capped,
            alpha=cfg.mixture_alpha,
            budget_tokens=cfg.mixture_budget_tokens,
            source_col=mix_col,
        )
        mixed = apply_mixture(
            capped, mixture, source_col=mix_col, id_col=id_col
        )

    corpus = hash_split(mixed, id_col)
    shards = shard_by_token_budget(
        corpus.withColumn("_shard_part", F.concat_ws("|", "split", lang_col)),
        budget_tokens=cfg.shard_budget_tokens,
        part_col="_shard_part",
    )

    stages = {
        "gated": gated,
        "reputable": reputable,
        "scrubbed": scrubbed,
        "exact_deduped": exact_deduped,
        "near_deduped": near_deduped,
        "decontaminated": decontaminated,
        "capped": capped,
        "corpus": corpus,
        "shards": shards,
    }
    if semantic_deduped is not None:
        # optional stage, keyed only when enabled. near_deduped above
        # stays the PRE-semantic (lexical-dedup) frame — that's what
        # the release report wants, so adjacent counts show what each
        # dedup family removed; downstream consumed the separate
        # `deduped` variable, which points at this frame when the
        # stage is on
        stages["semantic_deduped"] = semantic_deduped
    if span_stripped is not None:
        # optional stage, keyed only when enabled (stage_counts and
        # existing consumers see the unchanged default dict)
        stages["span_stripped"] = span_stripped
    if model_gated is not None:
        # the trained model is a release artifact (bucket weights +
        # prior — the exact gate this corpus shipped under)
        stages["quality_model"] = quality_model
        stages["model_gated"] = model_gated
    if quality_calibration is not None:
        # the calibration verdict ships with the release too: which
        # threshold, and the held-out precision/recall it bought
        stages["quality_calibration"] = quality_calibration
    if perplexity_scores is not None:
        # the per-doc perplexity frame is a release artifact: which
        # bits/token each shipped document scored, and what the
        # rejected tail looked like
        stages["perplexity"] = perplexity_scores
    if perplexity_bucketed is not None:
        stages["perplexity_buckets"] = perplexity_bucketed
    if cluster_balance is not None:
        # the per-doc cluster + verdict frame: the release report's
        # evidence for what the balancing cut and where
        stages["cluster_balance"] = cluster_balance
    if gopher_rep is not None:
        # the per-doc repetition fractions + verdicts: the release
        # report's evidence for what the §A1.2 gate removed
        stages["gopher_repetition"] = gopher_rep
    if dsir_scored is not None:
        # both are release artifacts: the density-ratio model the
        # selection shipped under, and every candidate's weight /
        # noisy key / verdict (the paper's selection is a SAMPLE —
        # auditing it needs the keys, not just the survivors)
        stages["dsir_model"] = dsir_model
        stages["dsir"] = dsir_scored
    if mixture is not None:
        # the plan frame itself is a release artifact (weights,
        # targets, epochs per source); "mixed" is the downsampled
        # corpus the split consumed
        stages["mixture_plan"] = mixture
        stages["mixed"] = mixed
    return stages


def stage_counts(stages: dict[str, DataFrame]) -> dict[str, int]:
    """The release report: row count per stage, in pipeline order —
    how many documents each gate removed is the difference between
    adjacent entries.

    Stages share lineage, so naive counting would re-execute the
    whole upstream pipeline once per stage (regexes, fingerprints,
    dedup joins × #stages). Each stage is persisted before its count
    and released afterwards: one pipeline pass total, each count
    reading its own (and its parent's) cache."""
    cached = {name: df.persist() for name, df in stages.items()}
    try:
        return {name: df.count() for name, df in cached.items()}
    finally:
        for df in cached.values():
            df.unpersist()
