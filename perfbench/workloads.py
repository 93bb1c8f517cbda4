"""The benchmark's workloads: inputs, the job a user runs, its
correctness check, and the layer-by-layer replay for the traced run.

A workload object points at its input directory. ``generate`` writes
the inputs from a seed and keeps what the check needs; ``job`` calls
the program's public entry point; ``check`` reads what the job wrote
(with DuckDB and the standard library, never Spark) and returns the
problems it found plus a digest of the output; ``replay`` re-runs the
job's layers one at a time inside tracer spans, writing the same
outputs, so the same check applies to them.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os

import duckdb

import gen


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _norm(row: tuple) -> tuple:
    """Round doubles to 4 decimals, the oracle suite's policy."""
    return tuple(round(v, 4) if isinstance(v, float) else v for v in row)


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, v) for v in row)


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-4 + 1e-9 * abs(b):
                    return False
            elif a != b:
                return False
    return True


def _pin(df):
    """Compute and hold a frame: the program's own materialize rule."""
    return df.localCheckpoint(eager=True)


# ------------------------------------------------------------ mars_etl
TAM_COLS = ("product_brand_name", "source", "year_month", "zip", "audience",
            "channel", "reach", "engage", "cost")
DIGITAL_COLS = ("brand", "channel", "audience", "year", "month", "zip_code",
                "dma", "state", "country", "reach", "engage", "cost")
OUT_TABLES = (("mars_tam_nvs", TAM_COLS), ("mars_combined_nvs_data", DIGITAL_COLS))


class MarsEtl:
    """The reference job: ``pipelines.jobs.run_all`` over the
    reference-shaped tables (nvs_tam + nvs_digital, each persisted,
    counted, written as a snapshot and a versioned history, audited)."""

    name = "mars_etl"

    def __init__(self, in_dir: str):
        self.in_dir = in_dir

    @property
    def names(self) -> list[str]:
        return sorted(f[:-len(".parquet")] for f in os.listdir(self.in_dir))

    def generate(self, seed: int) -> None:
        self.rows, self.bytes = gen.write_tables(gen.etl_tables(seed), self.in_dir)
        self.expected = self._oracle()

    def _path(self, name: str) -> str:
        return os.path.join(self.in_dir, f"{name}.parquet")

    def _oracle(self) -> dict[str, list[tuple]]:
        """The DuckDB replay of the reference SQL over the same files."""
        from gcp_dataengineering_spark.suite.e2e import DIGITAL_SQL, TAM_SQL

        con = duckdb.connect()
        try:
            for name in self.names:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self._path(name)}')")
            return {
                table: [_norm(r) for r in con.execute(
                    f"SELECT {', '.join(cols)} FROM ({sql}) q").fetchall()]
                for (table, cols), sql in zip(OUT_TABLES, (TAM_SQL, DIGITAL_SQL))
            }
        finally:
            con.close()

    def _tables(self, spark) -> dict:
        return {name: spark.read.parquet(self._path(name)) for name in self.names}

    def job(self, spark, out: str) -> dict:
        from gcp_dataengineering_spark.pipelines.jobs import run_all

        results = run_all(spark, self._tables(spark), out)
        return {r["table"]: r["rows"] for r in results}

    def check(self, out: str, result: dict) -> tuple[list[str], str]:
        problems = []
        got_all = {}
        con = duckdb.connect()
        try:
            for table, cols in OUT_TABLES:
                got = [_norm(r) for r in con.execute(
                    f"SELECT {', '.join(cols)} FROM read_parquet('{out}/{table}_staging/*.parquet')"
                ).fetchall()]
                got_all[table] = sorted(got, key=_sort_key)
                if not _rows_match(got, self.expected[table]):
                    problems.append(f"{table}: snapshot differs from the DuckDB replay")
                if result.get(table) != len(got):
                    problems.append(f"{table}: job reported {result.get(table)} rows, wrote {len(got)}")
                versions = sorted(d for d in os.listdir(f"{out}/{table}_historical")
                                  if d.startswith("version="))
                if versions != ["version=1"]:
                    problems.append(f"{table}: history versions {versions}")
            audit = sorted(con.execute(
                "SELECT table_name, rows_updated, log_id_status "
                f"FROM read_parquet('{out}/audit_job_info/*.parquet')").fetchall())
        finally:
            con.close()
        n = {t: len(rows) for t, rows in got_all.items()}
        want = sorted([("job", 0, "INITIATED"), ("job", sum(n.values()), "COMPLETED")] + [
            (f"{t}_{kind}", n[t], "COMPLETED")
            for t, _ in OUT_TABLES for kind in ("staging", "historical")
        ])
        if audit != want:
            problems.append(f"audit rows {audit} != {want}")
        return problems, _digest(got_all)

    def replay(self, spark, tracer, out: str) -> dict:
        """run_all, one layer per span (pipelines/jobs.py order)."""
        from gcp_dataengineering_spark.pipelines.digital import hcp_all_channels, nvs_digital
        from gcp_dataengineering_spark.pipelines.tam import nvs_tam
        from gcp_dataengineering_spark.sources.io import (
            append_audit, audit_rows, write_snapshot, write_versioned_history)

        tables = {name: _pin(df) for name, df in self._tables(spark).items()}
        audit_path = os.path.join(out, "audit_job_info")

        def audit(table: str, n: int, status: str) -> None:
            with tracer.span("io.append_audit"):
                append_audit(audit_rows(spark, table, n, status, "gcp_dataengineering_spark",
                                        "normalized", "local"), audit_path)

        audit("job", 0, "INITIATED")
        with tracer.span("tam.nvs_tam"):
            tam = _pin(nvs_tam(spark, tables))
        with tracer.span("digital.hcp_all_channels"):
            _pin(hcp_all_channels(spark, tables))
        with tracer.span("digital.nvs_digital"):
            digital = _pin(nvs_digital(spark, tables))
        rows = {}
        for (table, _), df in zip(OUT_TABLES, (tam, digital)):
            rows[table] = n = df.count()
            with tracer.span("io.write_snapshot"):
                write_snapshot(df, os.path.join(out, f"{table}_staging"))
            with tracer.span("io.write_versioned_history"):
                write_versioned_history(df, spark, os.path.join(out, f"{table}_historical"))
            audit(f"{table}_staging", n, "COMPLETED")
            audit(f"{table}_historical", n, "COMPLETED")
        audit("job", sum(rows.values()), "COMPLETED")
        return rows


# ------------------------------------------------------------- corpus
REPORT_ORDER = ("gated", "reputable", "scrubbed", "exact_deduped", "near_deduped",
                "semantic_deduped", "decontaminated", "capped", "corpus")


class CorpusBuild:
    """``llm_build.main`` in-process over a corpus with planted
    duplicates and word salad, with semantic dedup, a trained unigram
    tokenizer and a Kneser-Ney trigram perplexity gate on. Its time
    goes to the connected-components loop, the semantic stage, the
    unigram EM round and the LM."""

    name = "corpus_build"
    n_docs = 1_000
    args = [
        "--shard-budget", "20000",
        "--semantic-dedup-cos", "90",
        "--tokenizer", "unigram", "--unigram-train", "--unigram-vocab-size", "300",
        "--unigram-em-iters", "1",
        # the cut sits between the topic documents (at most ~2.6
        # bits/token) and the word salad (~3.4 and up), so the gate
        # drops the salad: about a tenth of the reputable documents
        "--perplexity-order", "3", "--perplexity-smoothing", "kn",
        "--perplexity-max-bits", "3.0",
    ]

    def __init__(self, in_dir: str):
        self.docs = os.path.join(in_dir, "docs.parquet")

    def generate(self, seed: int) -> None:
        table, self.families = gen.corpus_docs(seed, self.n_docs)
        self.rows, self.bytes = gen.write_tables(
            {"docs": table}, os.path.dirname(self.docs))

    def _argv(self, out: str) -> list[str]:
        return ["--docs", self.docs, "--out", out, *self.args]

    def job(self, spark, out: str) -> dict:
        from gcp_dataengineering_spark import llm_build

        with contextlib.redirect_stdout(io.StringIO()):  # main prints the report
            if llm_build.main(self._argv(out)) != 0:
                raise RuntimeError("llm_build.main returned non-zero")
        with open(os.path.join(out, "report.json")) as f:
            return json.load(f)

    def check(self, out: str, report: dict) -> tuple[list[str], str]:
        problems = []
        con = duckdb.connect()
        try:
            corpus = sorted(con.execute(
                f"SELECT doc_id, split FROM read_parquet('{out}/corpus/*/*.parquet', "
                "hive_partitioning = true)").fetchall())
            shards = sorted(con.execute(
                "SELECT doc_id, _shard_part, shard_id, n_tokens "
                f"FROM read_parquet('{out}/shards/*.parquet')").fetchall())
        finally:
            con.close()
        ids = [r[0] for r in corpus]
        if len(set(ids)) != len(ids):
            problems.append("corpus holds a doc_id twice")
        if ids != [r[0] for r in shards]:
            problems.append("shards do not cover the corpus exactly")
        kept = set(ids)
        for fam in self.families:
            if sum(d in kept for d in fam) > 1:
                problems.append(f"exact-duplicate family {fam[:3]}... kept more than one copy")
                break
        chain = [report[k] for k in REPORT_ORDER if k in report]
        if any(a < b for a, b in zip(chain, chain[1:])):
            problems.append(f"report counts increase along the stage order: {chain}")
        if report.get("corpus") != len(corpus) or report.get("shards") != len(shards):
            problems.append("report corpus/shards counts differ from the written files")
        return problems, _digest((corpus, shards))

    def replay(self, spark, tracer, out: str) -> dict:
        """llm_build.main and build_training_corpus for this workload's
        flags, one layer per span, in the order the build runs them.
        Returns the report it writes, which must equal the job's."""
        from pyspark.sql import functions as F

        from gcp_dataengineering_spark import llm_build
        from gcp_dataengineering_spark.llm_ops.corpus import (
            apply_dedup_keepers, hash_split, shard_by_token_budget,
            source_reputation_filter)
        from gcp_dataengineering_spark.llm_ops.dedup import (
            dedup_exact, lsh_candidate_pairs, minhash_signatures, resolve_dup_groups)
        from gcp_dataengineering_spark.llm_ops.embed import semantic_dedup
        from gcp_dataengineering_spark.llm_ops.ngram_lm import perplexity_gate, trigram_perplexity
        from gcp_dataengineering_spark.llm_ops.pipeline import PipelineConfig, stage_counts
        from gcp_dataengineering_spark.llm_ops.text import (
            corpus_quality_gate, quality_features, scrub_pii, whitespace_token_count)
        from gcp_dataengineering_spark.llm_ops.unigram import unigram_encode_docs, unigram_train

        a = llm_build.build_arg_parser().parse_args(self._argv(out))
        cfg = PipelineConfig()
        docs = _pin(spark.read.parquet(a.docs))

        vocab = None
        if a.unigram_train:
            with tracer.span("unigram.unigram_train"):
                vocab = unigram_train(docs, vocab_size=a.unigram_vocab_size,
                                      max_piece_len=a.unigram_max_piece_len,
                                      em_iters=a.unigram_em_iters, materialize=None)
        with tracer.span("text.quality_features"):
            flagged = _pin(quality_features(docs).withColumn("_page_pass", corpus_quality_gate()))
        with tracer.span("corpus.source_reputation_filter"):
            reputable = _pin(
                source_reputation_filter(flagged, "_page_pass",
                                         min_pass_pct=a.min_source_pass_pct,
                                         min_docs=cfg.min_source_docs)
                .filter(F.col("_page_pass")).drop("_page_pass")
                .drop("n_chars_calc", "n_tokens", "avg_token_len", "punct_ratio",
                      "stopword_ratio"))
        stages = {"gated": _pin(flagged.filter(F.col("_page_pass")))}
        if a.perplexity_max_bits is not None:
            with tracer.span("ngram_lm.trigram_perplexity"):
                stages["perplexity"] = _pin(trigram_perplexity(
                    reputable, min_count=cfg.perplexity_min_count,
                    backoff_bits_bi=cfg.perplexity_backoff_bits,
                    backoff_bits_uni=2 * cfg.perplexity_backoff_bits,
                    smoothing=a.perplexity_smoothing))
                reputable = _pin(reputable.join(
                    stages["perplexity"].filter(perplexity_gate(a.perplexity_max_bits))
                    .select("doc_id"), "doc_id", "left_semi"))
        stages["reputable"] = reputable
        with tracer.span("text.scrub_pii"):
            scrubbed = stages["scrubbed"] = _pin(
                scrub_pii(reputable, out_col="_scrubbed")
                .withColumn("text", F.col("_scrubbed")).drop("_scrubbed"))
        with tracer.span("dedup.dedup_exact"):
            fps = dedup_exact(scrubbed)
            exact = stages["exact_deduped"] = _pin(scrubbed.join(
                fps.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"))
        with tracer.span("dedup.minhash_signatures"):
            sigs = _pin(minhash_signatures(exact, num_hashes=cfg.minhash_hashes))
        with tracer.span("dedup.lsh_candidate_pairs"):
            pairs = _pin(lsh_candidate_pairs(sigs, num_hashes=cfg.minhash_hashes,
                                             bands=cfg.lsh_bands))
        with tracer.span("dedup.resolve_dup_groups"):
            groups = resolve_dup_groups(exact.select("doc_id"), pairs)
            deduped = stages["near_deduped"] = _pin(apply_dedup_keepers(exact, groups))
        n_pairs = pairs.count()
        tracer.count("dedup.lsh_candidate_pairs.pairs", n_pairs)
        tracer.count("dedup.lsh_candidate_pairs.pair_yield",
                     (exact.count() - deduped.count()) / n_pairs if n_pairs else 0.0)
        if a.semantic_dedup_cos is not None:
            with tracer.span("embed.semantic_dedup"):
                sgroups = semantic_dedup(
                    deduped, dim=cfg.semantic_dedup_dim,
                    max_chars=cfg.semantic_dedup_max_chars,
                    cos_num=a.semantic_dedup_cos, cos_den=100,
                    n_planes=cfg.semantic_dedup_planes, n_tables=cfg.semantic_dedup_tables,
                    materialize=None)
                deduped = stages["semantic_deduped"] = _pin(
                    apply_dedup_keepers(deduped, sgroups))
        stages["decontaminated"] = deduped
        if vocab is not None:
            with tracer.span("unigram.unigram_encode_docs"):
                tok = unigram_encode_docs(deduped.select("doc_id", "text"), vocab,
                                          max_piece_len=a.unigram_max_piece_len)
                capped = _pin(deduped.join(
                    tok.select("doc_id", F.col("pieces").alias("tokens"),
                               F.col("piece_ids").alias("token_ids"), "n_oov"), "doc_id")
                    .withColumn("n_tokens", F.size("tokens").cast("long")))
        else:
            capped = _pin(deduped.withColumn(
                "n_tokens", whitespace_token_count("text").cast("long")))
        stages["capped"] = capped
        with tracer.span("corpus.hash_split"):
            corpus = _pin(hash_split(capped))
        with tracer.span("corpus.shard_by_token_budget"):
            shards = _pin(shard_by_token_budget(
                corpus.withColumn("_shard_part", F.concat_ws("|", "split", "lang")),
                budget_tokens=a.shard_budget, part_col="_shard_part"))
        with tracer.span("llm_build.writes"):
            if vocab is not None:
                vocab.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(out, "unigram_vocab.parquet"))
            corpus.write.mode("overwrite").partitionBy("split").parquet(
                os.path.join(out, "corpus"))
            shards.select("doc_id", "_shard_part", "shard_id", "n_tokens").write.mode(
                "overwrite").parquet(os.path.join(out, "shards"))
        with tracer.span("pipeline.stage_counts"):
            report = stage_counts(stages)
        report["corpus"] = corpus.count()
        report["shards"] = shards.count()
        with open(os.path.join(out, "report.json"), "w") as f:
            json.dump(report, f)
        return report


WORKLOADS = {w.name: w for w in (MarsEtl, CorpusBuild)}
