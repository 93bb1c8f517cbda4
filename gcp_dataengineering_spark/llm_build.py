"""Executable entry for the composed training-corpus build (the
beyond-reference product surface; the reference pipelines keep their
own ``python -m gcp_dataengineering_spark`` entry):

    python -m gcp_dataengineering_spark.llm_build \\
        --docs /data/documents.parquet \\
        --out /data/corpus_v2 \\
        [--eval /data/eval.parquet] [--max-tokens-per-source N] \\
        [--shard-budget 2000000] [--cpus 8]

Writes under --out:
  corpus/   the cleaned, split corpus (parquet, partitioned by split)
  shards/   the shard plan (doc_id → split/lang shard assignment)
  report.json  one JSON object of per-stage row counts

and prints the report JSON to stdout (one line — scriptable).

With --bpe-train or --unigram-train the tokenizer trains on its own
driver thread (``session.submit``), beside the gate → LM → scrub →
dedup → semantic chain, which reads the vocabulary only at its encode
step. Both are chains of small Spark jobs, so each fills the other's
driver gaps. The build waits for the trainer before it releases its
pins, whether it returned or raised; a trainer error is re-raised
unless the chain failed first."""

from __future__ import annotations

import argparse
import json
import os
from concurrent.futures import wait
from contextlib import ExitStack, contextmanager

from .llm_ops.pipeline import PipelineConfig, build_training_corpus, stage_counts
from .session import get_spark, submit


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="gcp_dataengineering_spark.llm_build",
        description="Run the composed training-corpus build.",
    )
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument("--eval", default=None, help="eval-set parquet for decontamination")
    p.add_argument("--max-tokens-per-source", type=int, default=None)
    p.add_argument("--shard-budget", type=int, default=2_000_000)
    p.add_argument("--min-source-pass-pct", type=int, default=50)
    p.add_argument(
        "--tokenizer",
        choices=["bpe", "unigram"],
        default="bpe",
        help="tokenizer family denominating the build's token budgets "
        "(r14): 'bpe' (default) uses the --bpe-* flags; 'unigram' "
        "trains/loads a SentencePiece-family unigram-LM piece table "
        "(--unigram-* flags) and feeds its Viterbi piece counts into "
        "the SAME source-cap/mixture/shard accounting. With neither "
        "--bpe-train/--bpe-merges nor --unigram-train/--unigram-vocab "
        "set, budgets stay whitespace-word denominated",
    )
    p.add_argument(
        "--unigram-train",
        action="store_true",
        help="train a unigram-LM vocabulary on the input documents "
        "(requires --tokenizer unigram), tokenize the corpus with it, "
        "and write it to <out>/unigram_vocab.parquet",
    )
    p.add_argument(
        "--unigram-vocab",
        default=None,
        metavar="PARQUET",
        help="pre-trained (piece, cnt, score, piece_id) unigram table "
        "to tokenize with (requires --tokenizer unigram; mutually "
        "exclusive with --unigram-train)",
    )
    p.add_argument(
        "--unigram-vocab-size",
        type=int,
        default=2000,
        help="unigram-LM vocabulary size for --unigram-train "
        "(single-character pieces always survive for coverage)",
    )
    p.add_argument(
        "--unigram-max-piece-len",
        type=int,
        default=6,
        help="maximum unigram piece length (train and encode must "
        "agree; the encode default follows this flag)",
    )
    p.add_argument(
        "--unigram-em-iters",
        type=int,
        default=2,
        help="hard-EM training rounds for --unigram-train (the suite "
        "oracle replays 2)",
    )
    p.add_argument(
        "--unigram-sample-alpha",
        type=float,
        default=None,
        metavar="ALPHA",
        help="subword REGULARIZATION (r14): encode with SAMPLED "
        "segmentations at this temperature instead of Viterbi "
        "(Kudo 2018 s4; requires --tokenizer unigram) — budgets count "
        "the pieces this epoch's sampled corpus consumes",
    )
    p.add_argument(
        "--unigram-byte-fallback",
        action="store_true",
        help="SentencePiece-style byte fallback (r18): vocab-unknown "
        "pieces encode as reserved <0xNN> byte pieces (negative ids) "
        "and the doc tokenization switches to the lossless-per-word "
        "convention (case kept, whitespace split) — any script "
        "round-trips; mutually exclusive with --unigram-sample-alpha",
    )
    p.add_argument(
        "--unigram-sample-salt",
        default="ep0",
        help="epoch salt for --unigram-sample-alpha: the sampling is "
        "a pure function of (salt, word, position), so a different "
        "salt resamples the whole corpus deterministically",
    )
    p.add_argument(
        "--bpe-train",
        type=int,
        default=None,
        metavar="N_MERGES",
        help="train an N-rule BPE vocabulary on the input documents, "
        "tokenize the corpus with it (budgets switch to real token "
        "counts), and write it to <out>/merges.parquet",
    )
    p.add_argument(
        "--bpe-merges",
        default=None,
        metavar="PARQUET",
        help="pre-trained (left, right, rank) merge table to tokenize "
        "with (mutually exclusive with --bpe-train)",
    )
    p.add_argument(
        "--bpe-word-pattern",
        choices=["ascii", "unicode", "whitespace"],
        default=None,
        help="word segmentation for BPE train/encode: 'ascii' splits "
        "on [^a-z]+ (the pinned bench/oracle default), 'unicode' on "
        "any non-letter ([^\\p{L}]+ — use for multilingual crawls; "
        "see llm_ops.bpe.UNICODE_WORD_PATTERN), 'whitespace' on \\s+ "
        "(the lossless-per-word choice for --bpe-byte-level). "
        "Unset: ascii, or whitespace when --bpe-byte-level",
    )
    p.add_argument(
        "--bpe-byte-level",
        action="store_true",
        help="byte-level BPE (r11): keep case and map each word's "
        "UTF-8 bytes to the 256-symbol printable alphabet before "
        "merging — no script is ever dropped (the production-crawl "
        "fallback); tokens decode via llm_ops.bpe.byte_symbols_decode",
    )
    p.add_argument(
        "--mixture-budget",
        type=int,
        default=None,
        metavar="TOKENS",
        help="temperature-weighted source mixing (r11): plan per-source "
        "token targets as p_s ~ n_s^alpha against this total budget and "
        "hash-downsample over-represented sources (upsampling is "
        "reported as epochs in the mixture_plan stage, never minted "
        "rows)",
    )
    p.add_argument(
        "--mixture-alpha",
        type=float,
        default=0.5,
        help="mixing temperature (1 = natural proportions, 0 = uniform; "
        "default 0.5, the published multilingual-sampling choice)",
    )
    p.add_argument(
        "--mixture-by",
        default=None,
        metavar="COL",
        help="group the temperature mixture by this column instead of "
        "'source' — e.g. 'lang' (with --retag-lang) for the published "
        "per-language token budgets",
    )
    p.add_argument(
        "--retag-lang",
        action="store_true",
        help="re-derive the lang column from the text with the r12 "
        "two-stage lang_id (script router + 20-language stopword vote) "
        "instead of trusting input metadata",
    )
    p.add_argument(
        "--quality-model-ngrams",
        choices=["1", "2", "char3_5"],
        default="1",
        help="model-gate features: 1 = bag of words, 2 = + adjacent "
        "word bigrams (sees local word order), char3_5 = + character "
        "3-5-grams (r13; catches letter-obfuscated spam like "
        "'f.r.e.e m0ney' whose word tokens shatter)",
    )
    p.add_argument(
        "--semantic-dedup-cos",
        type=int,
        default=None,
        metavar="PCT",
        help="enable the SemDeDup-style semantic dedup stage (r13) at "
        "this cosine threshold in hundredths (e.g. 95 = cos >= 0.95): "
        "in-engine char-n-gram embeddings, LSH-blocked candidates, "
        "integer-exact threshold, connected-component keepers; runs "
        "after the lexical near-dup stage",
    )
    p.add_argument(
        "--quality-model-labels",
        default=None,
        metavar="PARQUET",
        help="labeled (text, label) parquet to train the hashed-n-gram "
        "Naive Bayes quality gate on (r12; label 1 = high quality, 0 = "
        "reject); enables the model gate stage and writes the trained "
        "bucket weights to <out>/quality_model.parquet",
    )
    p.add_argument(
        "--quality-model-threshold",
        type=int,
        default=0,
        help="model-gate score threshold in fixed-point llog2 units "
        "(0 = the Naive Bayes decision boundary; raise for precision)",
    )
    p.add_argument(
        "--quality-model-buckets",
        type=int,
        default=4096,
        help="hashed-feature bucket count for the model gate",
    )
    p.add_argument(
        "--quality-model-precision",
        type=int,
        default=None,
        metavar="PCT",
        help="calibrate the model-gate threshold from a held-out 20%% "
        "of the labels at this precision target (max recall subject "
        "to it) instead of --quality-model-threshold; the build fails "
        "loudly if the target is unreachable",
    )
    p.add_argument(
        "--gopher",
        action="store_true",
        help="conjoin the published Gopher quality rules into the page "
        "gate (text.gopher_features + gopher_pass)",
    )
    p.add_argument(
        "--gopher-min-words",
        type=int,
        default=50,
        help="word-count floor for the Gopher gate (the paper's 50 is "
        "aggressive for short-form corpora)",
    )
    p.add_argument(
        "--gopher-repetition",
        action="store_true",
        help="also apply Gopher's thirteen repetition thresholds "
        "(A1.2: dup lines/paragraphs, top/dup n-gram character "
        "coverage) after the reputation gate",
    )
    p.add_argument(
        "--perplexity-max-bits",
        type=float,
        default=None,
        metavar="BITS",
        help="enable the CCNet-style n-gram LM perplexity gate (r16): "
        "keep documents scoring at most this many bits/token; trains "
        "on --perplexity-ref when given, self-trained otherwise",
    )
    p.add_argument(
        "--perplexity-ref",
        default=None,
        metavar="PARQUET",
        help="trusted reference corpus (text column) to train the LM "
        "on — the published CCNet recipe (e.g. Wikipedia)",
    )
    p.add_argument(
        "--perplexity-order",
        type=int,
        default=2,
        choices=(2, 3, 4, 5),
        help="n-gram order of the LM (4/5 require --perplexity-smoothing kn)",
    )
    p.add_argument(
        "--perplexity-smoothing",
        default="laplace",
        choices=("laplace", "kn"),
        help="LM smoothing family (kn = Kneser-Ney, the KenLM family)",
    )
    p.add_argument(
        "--perplexity-bucket-keep",
        default=None,
        metavar="BUCKETS",
        help="CCNet's head/middle/tail cut: comma list of buckets to "
        "keep (e.g. head,middle — the published quality recipe); "
        "buckets are per-language terciles of the LM scores",
    )
    p.add_argument(
        "--dsir-target",
        default=None,
        metavar="PARQUET",
        help="target-domain corpus (text column) for DSIR importance "
        "resampling (r17): select the documents that make the corpus "
        "look like this distribution; writes the fitted density-ratio "
        "model to <out>/dsir_model.parquet",
    )
    p.add_argument(
        "--dsir-keep",
        default="1/4",
        metavar="NUM/DEN",
        help="DSIR keep fraction (default 1/4 of the corpus)",
    )
    p.add_argument(
        "--dsir-buckets",
        type=int,
        default=4096,
        help="hashed-feature bucket count for the DSIR model",
    )
    p.add_argument(
        "--dsir-top-k",
        action="store_true",
        help="deterministic highest-weight-first selection (the "
        "paper's top-k ablation) instead of Gumbel sampling",
    )
    p.add_argument(
        "--decontam-min-shared-frac",
        default=None,
        metavar="NUM/DEN",
        help="PaLM-style fraction rule for the exact decontam stage: "
        "flag a doc only when this share of its distinct n-grams is "
        "contaminated (e.g. 7/10); default = any collision flags",
    )
    p.add_argument(
        "--decontam-fuzzy-min-est-jaccard",
        type=float,
        default=None,
        metavar="J",
        help="also run MinHash FUZZY decontamination at this estimated "
        "Jaccard threshold (near-dup eval overlap the exact n-gram "
        "rule misses); requires --eval",
    )
    p.add_argument("--cpus", default=None)
    return p


def _parse_frac(text: str, flag: str) -> tuple[int, int]:
    """'NUM/DEN' → (num, den) with loud failures — fraction flags
    must not silently parse to garbage."""
    parts = text.split("/")
    if len(parts) != 2:
        raise SystemExit(f"{flag} expects NUM/DEN (e.g. 1/4), got {text!r}")
    try:
        num, den = int(parts[0]), int(parts[1])
    except ValueError:
        raise SystemExit(f"{flag} expects NUM/DEN (e.g. 1/4), got {text!r}")
    if num <= 0 or den <= 0:
        raise SystemExit(f"{flag} expects a positive NUM/DEN, got {text!r}")
    return num, den


@contextmanager
def released_pins(spark):
    """Release, on exit, every pin made inside the block, whether the
    block returned or raised: unpersist each RDD that became
    persistent (the build's localCheckpoint / persist blocks), then
    delete each entry that appeared under the session's checkpoint
    directory (the reliable-checkpoint files of pins made while one
    is set). RDDs persistent before the block (frames the caller
    cached) keep their storage, and checkpoint entries that existed
    before it stay."""
    sc = spark.sparkContext
    jsc = sc._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    ckpt = sc.getCheckpointDir()
    if ckpt is not None:
        ckpt_path = sc._jvm.org.apache.hadoop.fs.Path(ckpt)
        fs = ckpt_path.getFileSystem(jsc.hadoopConfiguration())
        kept = _entries(fs, ckpt_path)
    try:
        yield
    finally:
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(True)
        if ckpt is not None:
            for name, path in _entries(fs, ckpt_path).items():
                if name not in kept:
                    fs.delete(path, True)


def _entries(fs, path) -> dict:
    """Name -> Hadoop path of each entry in the directory ``path``."""
    if not fs.exists(path):
        return {}
    return {st.getPath().getName(): st.getPath() for st in fs.listStatus(path)}


def _write_table(df, out: str, name: str) -> None:
    """``df`` as the one-file parquet table ``<out>/<name>``: the
    tokenizer and models a release ships beside its corpus (a release
    without them is not reproducible)."""
    os.makedirs(out, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, name))


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    if args.bpe_train is not None and args.bpe_merges is not None:
        raise SystemExit("--bpe-train and --bpe-merges are mutually exclusive")
    if args.unigram_train and args.unigram_vocab is not None:
        raise SystemExit(
            "--unigram-train and --unigram-vocab are mutually exclusive"
        )
    if args.tokenizer == "unigram" and (
        args.bpe_train is not None or args.bpe_merges is not None
    ):
        raise SystemExit(
            "--tokenizer unigram conflicts with --bpe-train/--bpe-merges "
            "— one tokenizer family denominates a build's budgets"
        )
    if args.tokenizer == "bpe" and (
        args.unigram_train
        or args.unigram_vocab is not None
        or args.unigram_sample_alpha is not None
    ):
        raise SystemExit(
            "--unigram-train/--unigram-vocab/--unigram-sample-alpha "
            "require --tokenizer unigram"
        )
    if args.tokenizer == "unigram" and not (
        args.unigram_train or args.unigram_vocab is not None
    ):
        # without a piece vocabulary the pipeline would silently fall
        # back to whitespace-word budgets (and --unigram-sample-alpha
        # would be ignored) — the within-family misuse must be as loud
        # as the cross-family one above (ADVICE r14)
        raise SystemExit(
            "--tokenizer unigram requires --unigram-train or "
            "--unigram-vocab: without a vocabulary the budgets would "
            "silently count whitespace words, not pieces"
        )
    if args.bpe_byte_level and args.bpe_word_pattern == "ascii":
        # the ascii pattern splits on [^a-z]+, so every uppercase and
        # non-ASCII character becomes a separator and is silently
        # dropped — contradicting --bpe-byte-level's "no script is
        # ever dropped" contract (ADVICE r11)
        raise SystemExit(
            "--bpe-word-pattern ascii discards uppercase/non-ASCII text, "
            "which contradicts --bpe-byte-level's lossless contract; use "
            "'whitespace' (the byte-level default) or 'unicode'"
        )
    if args.decontam_fuzzy_min_est_jaccard is not None and not args.eval:
        raise SystemExit(
            "--decontam-fuzzy-min-est-jaccard requires --eval — there is "
            "no eval set to decontaminate against"
        )
    if args.perplexity_order in (4, 5) and args.perplexity_smoothing != "kn":
        raise SystemExit(
            "--perplexity-order 4/5 requires --perplexity-smoothing kn "
            "(the generalized-order LM has no laplace-escape form)"
        )
    bucket_keep = None
    if args.perplexity_bucket_keep is not None:
        bucket_keep = tuple(
            b.strip() for b in args.perplexity_bucket_keep.split(",") if b.strip()
        )
        bad = [b for b in bucket_keep if b not in ("head", "middle", "tail")]
        if bad or not bucket_keep:
            raise SystemExit(
                "--perplexity-bucket-keep expects a comma list from "
                f"head,middle,tail — got {args.perplexity_bucket_keep!r}"
            )
    dsir_keep = _parse_frac(args.dsir_keep, "--dsir-keep")
    decontam_frac = (
        _parse_frac(args.decontam_min_shared_frac, "--decontam-min-shared-frac")
        if args.decontam_min_shared_frac is not None
        else None
    )
    spark = get_spark("llm_build", cpus=args.cpus)
    with released_pins(spark), ExitStack() as waits:
        docs = spark.read.parquet(args.docs)
        eval_df = spark.read.parquet(args.eval) if args.eval else None
        from .llm_ops.bpe import UNICODE_WORD_PATTERN

        word_pattern = {
            "ascii": "[^a-z]+",
            "unicode": UNICODE_WORD_PATTERN,
            "whitespace": r"\s+",
            # unset: let llm_ops.bpe resolve (ascii, or whitespace when
            # byte-level)
            None: None,
        }[args.bpe_word_pattern]
        # the tokenizer trains on its own driver thread while the
        # gate-and-dedup chain runs; the build waits for the table
        # only at its encode step (PipelineConfig takes the Future)
        merges_df = unigram_df = trainer = None
        if args.bpe_train is not None:
            from .llm_ops.bpe import bpe_train

            def train_bpe():
                learned = bpe_train(
                    docs, args.bpe_train, word_pattern=word_pattern,
                    byte_level=args.bpe_byte_level,
                )
                merges = spark.createDataFrame(
                    learned, "left string, right string, rank long"
                )
                _write_table(merges, args.out, "merges.parquet")
                return merges

            merges_df = trainer = submit(spark, train_bpe)
        elif args.bpe_merges is not None:
            merges_df = spark.read.parquet(args.bpe_merges)
        if args.unigram_train:
            from .llm_ops.unigram import unigram_train

            def train_unigram():
                vocab = unigram_train(
                    docs,
                    vocab_size=args.unigram_vocab_size,
                    max_piece_len=args.unigram_max_piece_len,
                    em_iters=args.unigram_em_iters,
                    # EM rounds + every downstream encode consume this
                    # table: pin it, the same contract bpe_train honors
                    # by returning driver-side rules
                    materialize=None,
                )
                _write_table(vocab, args.out, "unigram_vocab.parquet")
                return vocab

            unigram_df = trainer = submit(spark, train_unigram)
        elif args.unigram_vocab is not None:
            unigram_df = spark.read.parquet(args.unigram_vocab)
        if trainer is not None:
            # whether the build returns or raises, the trainer ends
            # before released_pins releases: it must not pin after the
            # release or run on a stopped session. A trainer error
            # reaches the build at its encode step; an earlier build
            # error wins.
            waits.callback(wait, [trainer])
        stages = build_training_corpus(
            docs,
            eval_df,
            PipelineConfig(
                min_source_pass_pct=args.min_source_pass_pct,
                max_tokens_per_source=args.max_tokens_per_source,
                shard_budget_tokens=args.shard_budget,
                bpe_merges=merges_df,
                bpe_word_pattern=word_pattern,
                bpe_byte_level=args.bpe_byte_level,
                unigram_vocab=unigram_df,
                unigram_max_piece_len=args.unigram_max_piece_len,
                unigram_byte_fallback=args.unigram_byte_fallback,
                unigram_sample_alpha=args.unigram_sample_alpha,
                unigram_sample_salt=args.unigram_sample_salt,
                mixture_budget_tokens=args.mixture_budget,
                mixture_alpha=args.mixture_alpha,
                quality_model_labeled=(
                    spark.read.parquet(args.quality_model_labels)
                    if args.quality_model_labels
                    else None
                ),
                quality_model_threshold=args.quality_model_threshold,
                quality_model_buckets=args.quality_model_buckets,
                quality_model_target_precision_pct=args.quality_model_precision,
                quality_model_ngrams=(
                    args.quality_model_ngrams
                    if args.quality_model_ngrams == "char3_5"
                    else int(args.quality_model_ngrams)
                ),
                semantic_dedup_cos=args.semantic_dedup_cos,
                retag_lang=args.retag_lang,
                mixture_by=args.mixture_by,
                gopher=args.gopher,
                gopher_min_words=args.gopher_min_words,
                gopher_repetition=args.gopher_repetition,
                perplexity_max_bits=args.perplexity_max_bits,
                perplexity_ref=(
                    spark.read.parquet(args.perplexity_ref)
                    if args.perplexity_ref
                    else None
                ),
                perplexity_order=args.perplexity_order,
                perplexity_smoothing=args.perplexity_smoothing,
                perplexity_bucket_keep=bucket_keep,
                dsir_target=(
                    spark.read.parquet(args.dsir_target)
                    if args.dsir_target
                    else None
                ),
                dsir_keep=dsir_keep,
                dsir_buckets=args.dsir_buckets,
                dsir_gumbel=not args.dsir_top_k,
                decontam_min_shared_frac=decontam_frac,
                decontam_fuzzy_min_est_jaccard=args.decontam_fuzzy_min_est_jaccard,
            ),
            # CLI writes corpus AND shards and counts every stage: pin
            # the branch points so each layer (the tokenizer encode
            # and the LM scoring included) runs once per build;
            # released_pins drops the pins when the build returns
            materialize=None,
        )
        corpus_dir = os.path.join(args.out, "corpus")
        shards_dir = os.path.join(args.out, "shards")
        if "quality_model" in stages:
            # the gate the corpus shipped under
            _write_table(stages["quality_model"], args.out, "quality_model.parquet")
        if "dsir_model" in stages:
            # the density-ratio weights the corpus was sampled under
            _write_table(stages["dsir_model"], args.out, "dsir_model.parquet")
        stages["corpus"].write.mode("overwrite").partitionBy("split").parquet(corpus_dir)
        stages["shards"].select(
            "doc_id", "_shard_part", "shard_id", "n_tokens"
        ).write.mode("overwrite").parquet(shards_dir)
        # count the WRITTEN artifacts for corpus/shards (cheap metadata
        # scans) and the stages for the rest (pinned ones read their pin)
        report = stage_counts({k: v for k, v in stages.items() if k not in ("corpus", "shards")})
        report["corpus"] = spark.read.parquet(corpus_dir).count()
        report["shards"] = spark.read.parquet(shards_dir).count()
        with open(os.path.join(args.out, "report.json"), "w") as f:
            json.dump(report, f)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
