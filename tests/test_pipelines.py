"""Pipeline parity tests: the DataFrame-native reconstructions must
produce exactly what the reference's SQL produces. DuckDB runs an
ANSI translation of the reference queries (stage_1:93-1084) over the
SAME synthesized inputs; results are compared order-insensitively
with doubles rounded to 4 decimals.

The SQL translations live in gcp_dataengineering_spark.suite.e2e
(single source of truth — the driver-gated pipeline_e2e oracles use
the same strings against parquet-materialized fixtures).
"""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from gcp_dataengineering_spark.pipelines.digital import (
    dtc_display,
    dtc_paid_search,
    dtc_paid_social,
    dtc_poc,
    hcp_all_channels,
    hcp_paid_search,
    nvs_digital,
)
from gcp_dataengineering_spark.pipelines.jobs import run_tam_job
from gcp_dataengineering_spark.pipelines.tam import nvs_tam
from gcp_dataengineering_spark.suite.e2e import (
    DTC_DISPLAY_SQL,
    DTC_PAID_SEARCH_SQL,
    DTC_PAID_SOCIAL_SQL,
    DTC_POC_SQL,
    HCP_ALL_SQL,
    HCP_SEARCH_SQL,
    TAM_SQL,
)


def _norm(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def assert_matches_sql(df, duck, sql):
    srows = [tuple(r) for r in df.collect()]
    res = duck.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(df.columns) == sorted(ocols), (sorted(df.columns), sorted(ocols))
    sn, on = _norm(srows, df.columns), _norm(orows, ocols)
    assert len(sn) == len(on), (len(sn), len(on))
    for a, b in zip(sn, on):
        assert a == b, (a, b)




def test_tam_parity(spark, ref_tables, duck):
    assert_matches_sql(nvs_tam(spark, ref_tables), duck, TAM_SQL)








def test_dtc_display_parity(spark, ref_tables, duck):
    assert_matches_sql(dtc_display(spark, ref_tables), duck, DTC_DISPLAY_SQL)


def test_dtc_paid_search_parity(spark, ref_tables, duck):
    assert_matches_sql(dtc_paid_search(spark, ref_tables), duck, DTC_PAID_SEARCH_SQL)


def test_dtc_poc_parity(spark, ref_tables, duck):
    assert_matches_sql(dtc_poc(spark, ref_tables), duck, DTC_POC_SQL)


def test_dtc_paid_social_parity(spark, ref_tables, duck):
    assert_matches_sql(dtc_paid_social(spark, ref_tables), duck, DTC_PAID_SOCIAL_SQL)




def test_hcp_paid_search_parity(spark, ref_tables, duck):
    assert_matches_sql(hcp_paid_search(spark, ref_tables), duck, HCP_SEARCH_SQL)




@pytest.fixture
def pins():
    """hcp_all_channels' persisted intermediates, unpersisted after the
    test. Its constant frames are local relations, so an intermediate
    left cached over the same inputs would be reused by a later test's
    call, and show in that call's plan as a cached subplan."""
    held = []
    yield held
    for df in held:
        df.unpersist()


def test_hcp_all_channels_parity(spark, ref_tables, duck, pins):
    assert_matches_sql(hcp_all_channels(spark, ref_tables, pins), duck, HCP_ALL_SQL)


def test_digital_union_schema_and_rows(spark, ref_tables, pins):
    df = nvs_digital(spark, ref_tables, pins)
    assert df.columns == [
        "brand", "channel", "audience", "year", "month", "zip_code", "dma",
        "state", "country", "reach", "engage", "cost",
    ]
    # month coerced to string across the union (SURVEY §4 quirk 4)
    assert dict(df.dtypes)["month"] == "string"
    n = df.count()
    parts = sum(
        fn(spark, ref_tables).count()
        for fn in (dtc_display, dtc_paid_search, dtc_poc, dtc_paid_social,
                   hcp_paid_search, functools.partial(hcp_all_channels, pins=pins))
    )
    assert n == parts > 0


def test_tam_job_protocol(spark, ref_tables, tmp_path):
    """Golden e2e: persist/count/snapshot/history/audit, twice →
    versions 1 then 2 and identical snapshot contents."""
    out = str(tmp_path / "out")
    r1 = run_tam_job(spark, ref_tables, out, batch_id="b1")
    r2 = run_tam_job(spark, ref_tables, out, batch_id="b2")
    assert (r1["version"], r2["version"]) == (1, 2)
    assert r1["rows"] == r2["rows"] > 0
    snap = spark.read.parquet(r1["snapshot"])
    hist = spark.read.parquet(r1["history"])
    assert snap.count() == r1["rows"]
    assert hist.count() == 2 * r1["rows"]
    audit = spark.read.parquet(str(tmp_path / "out" / "audit_job_info"))
    assert audit.count() == 4


def test_hcp_all_shared_intermediates_persisted(spark, ref_tables, pins):
    """all_hcp_unioned / monthly_reach / channel_allocations are
    multiply-consumed; the pipeline persists them explicitly so a
    non-AQE (or AQE-cache-miss) deployment still computes each once.
    Receipt: the AQE-off executed plan reads them via
    InMemoryTableScan at every reuse site, and results are identical
    with AQE on."""
    from gcp_dataengineering_spark.pipelines.digital import hcp_all_channels

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        out = hcp_all_channels(spark, ref_tables, pins)
        n_off = out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # every reuse site reads the cache, not the raw lineage
        assert plan.count("InMemoryTableScan") >= 6
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        n_on = hcp_all_channels(spark, ref_tables, pins).count()
        assert n_off == n_on
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_digital_plan_shape_at_scale(spark, ref_tables, pins):
    """Scale insurance for the e2e gate: the parity fixtures are tiny,
    so a plan that only breaks when the fact side is big (e.g. a
    literal-join broadcast degenerating into a cartesian product, or a
    nested-loop join against a now-large feed) would pass every other
    test. Replicate the feed tables x100 (dims stay small, as at
    production scale), execute the full 6-channel union, and assert
    the executed plan still contains zero CartesianProduct and at most
    the two intended BroadcastNestedLoopJoins (the deliberate
    literal-row/degenerate-key joins, which broadcast the SMALL side).

    AQE is disabled for the assertion pass: under AQE the plan
    toString echoes every cached subplan twice (Final + Initial
    sections), so string-counting operators overcounts; the AQE-off
    static plan is the deterministic receipt (same convention as
    test_hcp_all_shared_intermediates_persisted). A second pass
    re-executes with AQE on to confirm the production config yields
    no CartesianProduct either."""
    import pyspark.sql.functions as F

    SCALE = 100
    dims = {"mdm", "hcp_org", "demographics", "costs_wide", "costs_unpivot"}
    scaled = {
        name: df if name in dims
        else df.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(SCALE - 1)))
        ).drop("_rep")
        for name, df in ref_tables.items()
    }
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        out = nvs_digital(spark, scaled, pins)
        assert out.count() > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("CartesianProduct") == 0, "cartesian product at scale"
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 2, f"{n_bnlj} BroadcastNestedLoopJoins (2 intended)"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    out_aqe = nvs_digital(spark, scaled, pins)
    assert out_aqe.count() > 0
    assert "CartesianProduct" not in out_aqe._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- round 6: composed LLM pipeline
def test_build_training_corpus_composition(spark):
    """The end-to-end training-corpus build: every planted defect is
    removed by exactly the stage that owns it, survivors flow
    through unchanged, the split column lands on the final corpus,
    and the shard plan covers every surviving doc within (split,
    lang) budgets."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
        stage_counts,
    )

    def fill(tag):
        return " ".join(f"{tag}{j}" for j in range(40))

    rows = [
        # good source (srcA): plenty of passing docs, each with its
        # OWN filler vocabulary (shared filler would make everything
        # a near-dup of everything)
        (1, f"alpha {fill('a')} one", "en", "srcA"),
        (2, f"beta {fill('b')} two", "en", "srcA"),
        (3, "junk", "en", "srcA"),                       # page-gated (short)
        (4, f"gamma {fill('c')} three", "en", "srcA"),
        # PII variants: identical after scrubbing → exact dedup keeps 5
        (5, f"delta {fill('d')} mail bob@x.com end", "en", "srcA"),
        (6, f"delta {fill('d')} mail eve@y.org end", "en", "srcA"),
        # exact dup of 1 → dropped
        (7, f"alpha {fill('a')} one", "en", "srcA"),
        # near dup of 2 (one token differs) → dropped by LSH+CC
        (8, f"beta {fill('b')} twoX", "en", "srcA"),
        # contaminated: contains the eval text verbatim
        (9, f"epsilon {fill('f')} THE EVAL SENTENCE IS HERE NOW OK " + " ".join(f"e{i}" for i in range(13)), "en", "srcA"),
        # bad source (srcB): most docs fail the page gate → reputation drops ALL of it
        (20, f"zeta {fill('g')} ok", "en", "srcB"),
        (21, "tiny", "en", "srcB"),
        (22, "small", "en", "srcB"),
        (23, "short", "en", "srcB"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    eval_df = spark.createDataFrame(
        [(900, " ".join(f"e{i}" for i in range(13)))], "doc_id long, text string"
    )
    stages = build_training_corpus(
        docs, eval_df, PipelineConfig(min_source_pass_pct=60, decontam_ngram=13)
    )
    counts = stage_counts(stages)

    # page gate: drops 3 (short) and srcB's three shorts
    gated_ids = {r.doc_id for r in stages["gated"].select("doc_id").collect()}
    assert gated_ids == {1, 2, 4, 5, 6, 7, 8, 9, 20}
    # reputation: srcB passes 1/4 (25% < 60%) → 20 gone too
    rep_ids = {r.doc_id for r in stages["reputable"].select("doc_id").collect()}
    assert rep_ids == {1, 2, 4, 5, 6, 7, 8, 9}
    # scrub: text changed, count unchanged
    assert counts["scrubbed"] == len(rep_ids)
    scrub5 = stages["scrubbed"].filter(F.col("doc_id").isin(5, 6)).collect()
    assert all("<EMAIL>" in r.text for r in scrub5)
    # exact dedup: 7 (dup of 1) and 6 (scrub-identical to 5) drop
    ex_ids = {r.doc_id for r in stages["exact_deduped"].select("doc_id").collect()}
    assert ex_ids == {1, 2, 4, 5, 8, 9}
    # near dedup: 8 collapses into 2
    near_ids = {r.doc_id for r in stages["near_deduped"].select("doc_id").collect()}
    assert near_ids == {1, 2, 4, 5, 9}
    # decontam: 9 carries the eval 13-gram
    dec_ids = {r.doc_id for r in stages["decontaminated"].select("doc_id").collect()}
    assert dec_ids == {1, 2, 4, 5}

    corpus = stages["corpus"].collect()
    assert {r.doc_id for r in corpus} == dec_ids
    assert all(r.split in ("train", "val", "test") for r in corpus)

    shards = stages["shards"].collect()
    assert {r.doc_id for r in shards} == dec_ids
    assert all(r.shard_id >= 0 for r in shards)


def test_build_training_corpus_boilerplate_stage(spark):
    """With boilerplate_max_doc_frac set, the composed build strips
    corpus-frequent segments before the scrub (so fingerprints and
    dedup see clean text); off by default."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    footer = "subscribe to our newsletter"
    rows = [
        (i, f"real content number {i} with enough words to pass the "
            f"quality gate and more words here\n{footer}", "s1", "en")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")

    on = build_training_corpus(
        docs, config=PipelineConfig(boilerplate_max_doc_frac=0.5)
    )
    texts_on = [r.text for r in on["corpus"].collect()]
    assert texts_on and all(footer not in t for t in texts_on)

    off = build_training_corpus(docs)
    texts_off = [r.text for r in off["corpus"].collect()]
    assert texts_off and all(footer in t for t in texts_off)

    # a document that is ALL chrome passes the quality gate on raw
    # text but must NOT reach the corpus as an empty string
    chrome_only = docs.union(
        spark.createDataFrame(
            [(99, f"{footer}\n{footer}\n{footer}\n{footer}\n{footer}\n{footer}",
              "s1", "en")],
            "doc_id long, text string, source string, lang string",
        )
    )
    on2 = build_training_corpus(
        chrome_only, config=PipelineConfig(boilerplate_max_doc_frac=0.5)
    )
    ids = {r.doc_id for r in on2["corpus"].collect()}
    assert 99 not in ids
    assert all(r.text.strip() for r in on2["corpus"].collect())


def test_build_training_corpus_runs_on_real_documents(spark):
    """Smoke at sf0.001: the composition runs end-to-end on the real
    documents table and the stage counts are monotone after the
    branch point (each stage only removes)."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        build_training_corpus,
        stage_counts,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stages = build_training_corpus(docs)
    counts = stage_counts(stages)
    order = ["reputable", "scrubbed", "exact_deduped", "near_deduped",
             "decontaminated", "capped", "corpus"]
    for a, b in zip(order, order[1:]):
        assert counts[b] <= counts[a], counts
    assert counts["corpus"] > 0
    assert counts["shards"] == counts["corpus"]


def test_llm_build_cli(spark, tmp_path):
    """The llm_build executable: runs the composed build end-to-end
    in a subprocess, writes corpus (partitioned by split), shards and
    report.json, and prints the report as one JSON line."""
    import json
    import os
    import subprocess
    import sys

    docs_path = str(tmp_path / "docs.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(docs_path)
    out = str(tmp_path / "build_out")
    proc = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark.llm_build",
         "--docs", docs_path, "--out", out, "--cpus", "4",
         "--shard-budget", "2000"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-500:]
    line = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    report = json.loads(line)
    assert report == json.load(open(out + "/report.json"))
    assert report["corpus"] > 0 and report["shards"] == report["corpus"]
    assert report["corpus"] <= report["reputable"]

    corpus = spark.read.parquet(out + "/corpus")
    assert set(corpus.select("split").distinct().toPandas()["split"]) <= {"train", "val", "test"}
    assert sorted(os.listdir(out + "/corpus"))[0].startswith("split=") or any(
        d.startswith("split=") for d in os.listdir(out + "/corpus")
    )
    shards = spark.read.parquet(out + "/shards")
    assert shards.count() == report["corpus"]


def test_llm_build_cli_bpe_train(spark, tmp_path):
    """--bpe-train N: the CLI trains an N-rule vocabulary on the
    input, persists it next to the corpus (a release without its
    tokenizer is not reproducible), and the written corpus carries
    BPE token sequences whose counts drive the budgets."""
    import json
    import os
    import subprocess
    import sys

    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (i, " ".join(f"w{j} banana band" for j in range(30)), "en", "srcA")
            for i in range(8)
        ],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "build_out")
    proc = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark.llm_build",
         "--docs", docs_path, "--out", out, "--cpus", "4",
         "--shard-budget", "500", "--bpe-train", "6"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-500:]
    report = json.loads(
        [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert report["corpus"] > 0
    merges = spark.read.parquet(out + "/merges.parquet")
    # the trainer stops early if the tiny vocabulary exhausts its pairs
    assert 1 <= merges.count() <= 6
    assert set(merges.columns) == {"left", "right", "rank"}
    corpus = spark.read.parquet(out + "/corpus")
    row = corpus.first()
    assert row.n_tokens == len(row.tokens) and len(row.tokens) > 0
    # mutual exclusion guard
    proc2 = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark.llm_build",
         "--docs", docs_path, "--out", out,
         "--bpe-train", "4", "--bpe-merges", out + "/merges.parquet"],
        capture_output=True, text=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc2.returncode != 0
    assert "mutually exclusive" in proc2.stderr


def test_llm_pipeline_plan_shape_at_scale(spark):
    """Scale insurance for the composed corpus build (same convention
    as test_digital_plan_shape_at_scale): replicate the documents
    fixture ×20 and assert the full pipeline's executed plan contains
    no CartesianProduct and no BroadcastNestedLoopJoin — every join
    in the build (reputation semi, fingerprint semi, band self-join,
    CC label joins, decontam posting join, split/shard windows) must
    stay an equi-join at any scale."""
    from gcp_dataengineering_spark.llm_ops.pipeline import build_training_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    big = (
        docs.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(19))))
        .withColumn("doc_id", F.col("doc_id") * 100 + F.col("_rep"))
        .withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.concat(F.lit("rep"), F.col("_rep")))
        )
        .drop("_rep")
    )
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        stages = build_training_corpus(big)
        out = stages["shards"]
        assert out.count() > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("CartesianProduct") == 0, "cartesian product at scale"
        assert plan.count("BroadcastNestedLoopJoin") == 0, "non-equi join at scale"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_build_training_corpus_bpe_tokenized_budgets(spark):
    """With cfg.bpe_merges set, the composed build's token accounting
    switches from whitespace words to LEARNED BPE tokens: n_tokens
    equals the classic sequential encoder's per-doc count, the token
    sequences ride to the shards, and the shard budget is
    denominated in those counts."""
    import re as _re
    from collections import Counter

    from gcp_dataengineering_spark.llm_ops.bpe import bpe_train
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from tests.test_llm_ops import _classic_bpe

    def fill(tag):
        return " ".join(f"{tag}{j}" for j in range(40))

    rows = [
        (1, f"alpha {fill('a')} one", "en", "srcA"),
        (2, f"beta {fill('b')} two", "en", "srcA"),
        (4, f"gamma {fill('c')} three", "en", "srcA"),
        (5, f"delta {fill('d')} four", "en", "srcA"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    merges = bpe_train(docs, 12)
    assert merges
    ranks = {(l, r): k for l, r, k in merges}
    mdf = spark.createDataFrame(merges, "left string, right string, rank long")

    stages = build_training_corpus(
        docs,
        config=PipelineConfig(bpe_merges=mdf, shard_budget_tokens=120),
        materialize=None,
    )
    corpus = {r.doc_id: r for r in stages["corpus"].collect()}
    assert set(corpus) == {1, 2, 4, 5}

    def words_of(text):
        return [
            w
            for w in _re.split("[^a-z]+", text.lower())
            if w and len(w) <= 64
        ]

    for doc_id, text, _, _ in rows:
        want = [t for w in words_of(text) for t in _classic_bpe(w, ranks)]
        assert list(corpus[doc_id].tokens) == want, doc_id
        assert corpus[doc_id].n_tokens == len(want)

    # shard plan: budgeted in BPE tokens, sequences present
    shards = stages["shards"].collect()
    assert {r.doc_id for r in shards} == {1, 2, 4, 5}
    per_shard = {}
    for r in sorted(shards, key=lambda r: r.doc_id):
        assert list(r.tokens)  # sequences ride through
        per_shard.setdefault((r.split, r.lang, r.shard_id), []).append(r.n_tokens)
    for toks in per_shard.values():
        # the documented fill rule: every member's EXCLUSIVE prefix
        # sum is under the budget (the closing doc may overflow)
        run = 0
        for t in toks:
            assert run < 120
            run += t


def test_build_training_corpus_blocklist_and_span_stages(spark):
    """r10 verdict item 3: the two r10-added stages exercised at the
    PIPELINE level, not just as units. Stage 0 (blocked_domains +
    url_col) drops a planted spam domain before any text work — its
    text would pass every gate. Stage 5b (span_dedup_k) strips a
    planted cross-document span from survivors, re-gates an all-span
    doc to nothing, and provably runs BEFORE decontamination and
    tokenization: a doc whose ONLY eval contamination sat inside the
    stripped span survives decontam, while one contaminated outside
    any span is dropped, and n_tokens counts the stripped text. The
    span_stripped stage key appears only when the knob is on."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    def fill(tag, n=80):
        return " ".join(f"{tag}{j}" for j in range(n))

    span = " ".join(f"sp{j}" for j in range(24))          # cross-doc span
    eval_in_span = " ".join(f"sp{j}" for j in range(5, 18))  # 13-gram inside it
    eval_unique = " ".join(f"ev{j}" for j in range(13))      # 13-gram outside

    rows = [
        (1, f"{fill('a')} {span} zqone zqtwo", "en", "srcA", "https://good.example.com/a"),
        (2, f"{fill('b')} {span} xkone xktwo", "en", "srcA", "https://good.example.com/b"),
        # contaminated OUTSIDE any cross-doc span -> decontam drops it
        (3, f"{fill('c')} {eval_unique} tail three", "en", "srcA", "https://good.example.com/c"),
        # clean control
        (4, f"{fill('d')} tail four", "en", "srcA", "https://good.example.com/d"),
        # spam domain: text passes every gate; must die at stage 0
        (10, f"{fill('e')} tail ten", "en", "srcA", "https://spam.tracking.badsite.com/x"),
        # ALL cross-doc span -> empty after strip -> re-gated out
        (11, span, "en", "srcA", "https://good.example.com/k"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, url string"
    )
    eval_df = spark.createDataFrame(
        [(900, eval_in_span), (901, eval_unique)], "doc_id long, text string"
    )
    cfg = PipelineConfig(
        blocked_domains=("badsite.com",), url_col="url", span_dedup_k=8
    )
    stages = build_training_corpus(docs, eval_df, cfg)

    # stage key contract: present iff enabled
    assert "span_stripped" in stages
    assert "span_stripped" not in build_training_corpus(docs)

    # stage 0 ordering: 10 never reaches the gate, though its text
    # passes (control build without the blocklist keeps it)
    gated_ids = {r.doc_id for r in stages["gated"].select("doc_id").collect()}
    assert gated_ids == {1, 2, 3, 4, 11}
    no_block = build_training_corpus(docs, eval_df, PipelineConfig(span_dedup_k=8))
    assert 10 in {r.doc_id for r in no_block["gated"].select("doc_id").collect()}

    # stage 5b: the shared span is stripped from survivors; the
    # all-span doc re-gates to nothing
    stripped = {r.doc_id: r.text for r in stages["span_stripped"].collect()}
    assert 11 not in stripped
    assert {1, 2} <= set(stripped)
    assert all("sp" not in stripped[i] for i in (1, 2))
    assert stripped[1].split(" ")[-2:] == ["zqone", "zqtwo"]

    # ordering vs decontam: 1 and 2's contamination sat inside the
    # stripped span -> they SURVIVE; 3's sat outside -> dropped
    dec_ids = {r.doc_id for r in stages["decontaminated"].select("doc_id").collect()}
    assert dec_ids == {1, 2, 4}

    # ordering vs tokenization: budgets count the STRIPPED text
    corpus = {r.doc_id: r for r in stages["corpus"].collect()}
    assert set(corpus) == {1, 2, 4}
    assert corpus[1].n_tokens == 82  # 80 filler + 2 tail words; 24 span words gone
    assert corpus[1].n_tokens == len(corpus[1].text.split(" "))


def test_llm_build_cli_byte_level(spark, tmp_path):
    """--bpe-byte-level (r11): the CLI trains a byte-level vocabulary
    (case kept, whitespace default split) and the written corpus's
    token sequences decode back to each doc's exact non-space text —
    mixed-script input included, nothing dropped."""
    import json
    import os
    import subprocess
    import sys

    from gcp_dataengineering_spark.llm_ops.bpe import byte_symbols_decode

    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (i, "Mixed CASE texte with ümlaut and мир "
                + " ".join(f"w{j} banana" for j in range(25)),
             "en", "srcA")
            for i in range(8)
        ],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "byte_out")
    proc = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark.llm_build",
         "--docs", docs_path, "--out", out, "--cpus", "4",
         "--shard-budget", "500", "--bpe-train", "8", "--bpe-byte-level",
         "--mixture-budget", "100000"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-500:]
    report = json.loads(
        [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert report["corpus"] > 0
    # --mixture-budget rode through the CLI: the plan stage reports
    # (#sources rows) and the budget is generous, so nothing dropped
    assert report["mixture_plan"] == 1  # one source in this fixture
    assert report["mixed"] == report["capped"]
    corpus = spark.read.parquet(out + "/corpus").collect()
    assert corpus
    for row in corpus:
        assert row.n_tokens == len(row.tokens) > 0
        decoded = byte_symbols_decode("".join(row.tokens))
        assert decoded == "".join(row.text.split())
        assert "мир" in decoded and "CASE" in decoded  # case + script kept


def test_llm_build_rejects_ascii_pattern_in_byte_mode():
    """r12 (ADVICE r11): --bpe-byte-level + --bpe-word-pattern ascii
    would silently drop every uppercase/non-ASCII character (ascii
    splits on [^a-z]+), contradicting byte mode's lossless contract —
    the CLI rejects the combination before any Spark work starts."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_build import main

    with _pytest.raises(SystemExit, match="lossless"):
        main(["--docs", "x.parquet", "--out", "y",
              "--bpe-train", "8", "--bpe-byte-level",
              "--bpe-word-pattern", "ascii"])


def test_build_training_corpus_model_quality_gate(spark):
    """r12: quality_model_labeled composes into the build as stage
    2c — the learned hashed-n-gram NB drops the spam-vocabulary docs
    the heuristic gate can't see (they are well-formed prose), the
    nbq_score column rides through to the corpus, the trained model
    is a stage artifact, and the stage is off by default."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    hamv = "analysis research evidence chapter history science".split()
    spamv = "casino jackpot lottery unsubscribe winner promo".split()

    def doc(i, vocab, tag):
        words = " ".join(f"{vocab[j % len(vocab)]}" for j in range(30))
        return (i, f"the {tag}{i} report and {words} with more of it", "en")

    labeled = spark.createDataFrame(
        [(doc(i, hamv, "h")[1], 1) for i in range(12)]
        + [(doc(i, spamv, "s")[1], 0) for i in range(12)],
        "text string, label int",
    )
    corpus_rows = [doc(i, hamv, "x") + ("srcA",) for i in range(10)] + [
        doc(100 + i, spamv, "y") + ("srcA",) for i in range(10)
    ]
    docs = spark.createDataFrame(
        corpus_rows, "doc_id long, text string, lang string, source string"
    )
    stages = build_training_corpus(
        docs,
        config=PipelineConfig(
            quality_model_labeled=labeled, quality_model_buckets=256
        ),
    )
    assert "quality_model" in stages and "model_gated" in stages
    kept = {r.doc_id for r in stages["model_gated"].select("doc_id").collect()}
    assert kept == set(range(10)), kept  # spam docs (100+) gone
    # the score rides to the final corpus for re-ranking
    corpus = stages["corpus"]
    assert "nbq_score" in corpus.columns
    assert all(r.nbq_score > 0 for r in corpus.select("nbq_score").collect())
    # the model artifact is dense (one row per bucket)
    assert stages["quality_model"].count() == 256
    # off by default
    off = build_training_corpus(docs)
    assert "quality_model" not in off and "model_gated" not in off
    assert "nbq_score" not in off["corpus"].columns


def test_llm_build_cli_quality_model(spark, tmp_path):
    """--quality-model-labels rides through the CLI: the model gate
    runs, the report carries the stage counts, and the trained
    bucket weights persist to <out>/quality_model.parquet."""
    import json
    import os
    import subprocess
    import sys

    hamv = "analysis research evidence chapter history science".split()
    spamv = "casino jackpot lottery unsubscribe winner promo".split()

    def text(i, vocab, tag):
        words = " ".join(vocab[j % len(vocab)] for j in range(30))
        return f"the {tag}{i} report and {words} with more of it"

    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, text(i, hamv, "x"), "en", "srcA") for i in range(8)]
        + [(100 + i, text(i, spamv, "y"), "en", "srcA") for i in range(8)],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(docs_path)
    labels_path = str(tmp_path / "labels.parquet")
    spark.createDataFrame(
        [(text(i, hamv, "h"), 1) for i in range(10)]
        + [(text(i, spamv, "s"), 0) for i in range(10)],
        "text string, label int",
    ).write.parquet(labels_path)
    out = str(tmp_path / "qm_out")
    proc = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark.llm_build",
         "--docs", docs_path, "--out", out, "--cpus", "4",
         "--shard-budget", "500",
         "--quality-model-labels", labels_path,
         "--quality-model-buckets", "256"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-500:]
    report = json.loads(
        [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert report["model_gated"] == 8  # spam half dropped
    assert report["quality_model"] == 256
    # near-dup dedup later collapses the near-identical ham docs —
    # the gate's guarantee is that whatever SURVIVES is ham-only
    assert report["corpus"] >= 1
    surv = {r.doc_id for r in spark.read.parquet(out + "/corpus").collect()}
    assert surv and all(d < 100 for d in surv), surv
    model = spark.read.parquet(out + "/quality_model.parquet")
    assert model.count() == 256
    assert set(model.columns) == {"bucket", "c1", "c0", "weight", "prior"}


def test_build_training_corpus_mixture_stage(spark):
    """r11: mixture_budget_tokens composes into the build — the
    over-represented source is hash-downsampled toward its
    temperature weight, the small source keeps every doc (its
    upsampling is reported as epochs in the plan frame, never minted
    rows), the plan rides out as a stage artifact, and the split
    consumes the MIXED corpus. Off by default."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    def doc(i, src):
        return (i, " ".join(f"{src}{i}w{j}" for j in range(40)), "en", src)

    rows = [doc(i, "big") for i in range(30)] + [
        doc(100 + i, "small") for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    stages = build_training_corpus(
        docs, config=PipelineConfig(mixture_budget_tokens=600)
    )
    assert "mixture_plan" in stages and "mixed" in stages
    off = build_training_corpus(docs)
    assert "mixture_plan" not in off and "mixed" not in off

    plan = {r.source: r for r in stages["mixture_plan"].collect()}
    assert plan["big"].sample_rate < 1.0
    assert plan["small"].sample_rate == 1.0 and plan["small"].epochs > 1.0

    corpus = stages["corpus"].collect()
    by_src = {}
    for r in corpus:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert by_src["small"] == 3          # never dropped
    assert 0 < by_src["big"] < 30        # downsampled
    assert len(corpus) == stages["mixed"].count()
    assert all(r.split in ("train", "val", "test") for r in corpus)


def test_build_training_corpus_calibrated_model_gate(spark):
    """r12: quality_model_target_precision_pct calibrates the gate
    threshold from a held-out labeled split instead of the fixed 0 —
    the calibration verdict rides out as a stage artifact with the
    held-out precision it bought, and an unreachable target fails
    the build loudly."""
    import random

    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    rng = random.Random(11)
    shared = ["about", "world", "report", "time", "year", "with", "more"]
    hamv = ["analysis", "research", "evidence", "chapter", "science"]
    spamv = ["casino", "jackpot", "lottery", "winner", "promo"]

    def text(i, vocab, mix):
        pool = shared + vocab + (spamv if mix else [])
        return f"the u{i} " + " ".join(rng.choice(pool) for _ in range(25))

    labeled = spark.createDataFrame(
        [(text(i, hamv, i % 7 == 0), 1) for i in range(120)]
        + [(text(200 + i, spamv, False), 0) for i in range(120)],
        "text string, label int",
    )
    # corpus docs far from the decision boundary (the 90%-precision
    # threshold legitimately admits borderline cases; the pipeline
    # guarantee under test is the calibration plumbing, so probe it
    # with unambiguous documents)
    docs = spark.createDataFrame(
        [(i, f"the x{i} " + " ".join(hamv * 5), "en", "srcA") for i in range(10)]
        + [(100 + i, f"the y{i} " + " ".join(spamv * 5), "en", "srcA")
           for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    stages = build_training_corpus(
        docs,
        config=PipelineConfig(
            quality_model_labeled=labeled,
            quality_model_buckets=256,
            quality_model_target_precision_pct=90,
        ),
    )
    assert "quality_calibration" in stages
    cal = stages["quality_calibration"].collect()[0]
    assert cal.threshold is not None
    assert cal.precision_ppm >= 900_000
    kept = {r.doc_id for r in stages["model_gated"].select("doc_id").collect()}
    assert kept and all(d < 100 for d in kept), (kept, cal)
    # the gate really used the calibrated threshold: every surviving
    # score clears it
    assert all(
        r.nbq_score > cal.threshold
        for r in stages["model_gated"].select("nbq_score").collect()
    )

    # unreachable target fails the build loudly: every distinct text
    # appears in BOTH classes, mostly negative, so no threshold can
    # reach 99% precision wherever the content-stable split cuts
    # (and any text landing in the train split carries both classes)
    junk_texts = [f"junkword{i} filler{i} common body" for i in range(6)]
    junk = spark.createDataFrame(
        [(t, 1) for t in junk_texts] * 2 + [(t, 0) for t in junk_texts] * 8,
        "text string, label int",
    )
    with _pytest.raises(ValueError, match="calibration"):
        build_training_corpus(
            docs,
            config=PipelineConfig(
                quality_model_labeled=junk,
                quality_model_buckets=64,
                quality_model_target_precision_pct=99,
            ),
        )


def test_build_training_corpus_retag_lang_and_language_mixture(spark):
    """r12: retag_lang re-derives the lang column from the text (the
    crawl metadata lies: every row arrives labeled 'xx'), and
    mixture_by='lang' budgets per LANGUAGE — the over-represented
    language downsamples toward its temperature weight while the
    small one keeps every doc; the shard plan partitions by the
    RETAGGED languages."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    en = "the and of to a in is it that was"
    es = "el la de que y en los del las por"

    def doc(i, base):
        # stopword prefix routes the language; the unique body keeps
        # the docs distinct through exact AND near-dup dedup
        uniq = " ".join(f"u{i}w{j}" for j in range(15))
        return (i, f"{base} {uniq}", "xx", "srcA")

    docs = spark.createDataFrame(
        [doc(i, en) for i in range(40)] + [doc(100 + i, es) for i in range(4)],
        "doc_id long, text string, lang string, source string",
    )
    stages = build_training_corpus(
        docs,
        config=PipelineConfig(
            retag_lang=True,
            mixture_budget_tokens=400,
            mixture_by="lang",
        ),
    )
    plan = {r.lang: r for r in stages["mixture_plan"].collect()}
    assert set(plan) == {"en", "es"}  # metadata 'xx' was overridden
    assert plan["en"].sample_rate < 1.0
    assert plan["es"].sample_rate == 1.0 and plan["es"].epochs > 1.0
    mixed = {r.lang: r["count"]
             for r in stages["mixed"].groupBy("lang").count().collect()}
    assert mixed["es"] == 4
    assert mixed["en"] < 40
    shard_parts = {
        r._shard_part.split("|")[1]
        for r in stages["shards"].select("_shard_part").collect()
    }
    assert shard_parts <= {"en", "es"} and "xx" not in shard_parts
    # off by default: lang column passes through untouched
    off = build_training_corpus(docs)
    assert {r.lang for r in off["corpus"].select("lang").collect()} == {"xx"}


def test_build_training_corpus_semantic_dedup_stage(spark):
    """r13 stage 5a: with semantic_dedup_cos set, the composed build
    drops near-SEMANTIC duplicates the lexical stages keep, the
    stage frame appears in the release dict, and downstream stages
    consume the reduced doc set."""
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )

    import random

    rng = random.Random(13)
    vocab = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu "
             "anchor binder copper dancer ember fabric garden harbor "
             "island jacket kernel ladder marble nickel orchid pillar").split()
    rows = []
    for i in range(12):
        # per-subject DISTINCT word salad: lexically unrelated across
        # subjects (minhash keeps them apart), ~28 words each
        words = rng.sample(vocab, 14) * 2
        rows.append((i, " ".join(words), "web", "en"))
        # the SAME words REORDERED: word-shingle jaccard collapses
        # (minhash misses it) but the char-n-gram count vector is
        # almost unchanged → embedding cosine ≈ 1. Exactly the
        # re-phrasing class the semantic stage exists to catch.
        shuffled = list(words)
        rng.shuffle(shuffled)
        rows.append((100 + i, " ".join(shuffled), "web", "en"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )

    off = build_training_corpus(
        docs, config=PipelineConfig(), materialize=False
    )
    on = build_training_corpus(
        docs,
        config=PipelineConfig(semantic_dedup_cos=90),
        materialize=None,
    )
    assert "semantic_deduped" not in off
    assert "semantic_deduped" in on
    kept_off = off["near_deduped"].count()
    kept_on = on["semantic_deduped"].count()
    assert kept_on < kept_off, (kept_on, kept_off)
    # for every CAUGHT pair the keeper is the min id — the original
    # (i < 100) always survives, its shuffled twin is the drop
    ids = {r.doc_id for r in on["semantic_deduped"].collect()}
    assert all(i in ids for i in range(12)), ids
    # downstream consumed the reduced set
    assert on["corpus"].count() == kept_on


def test_llm_build_cli_semantic_dedup_flag(spark, tmp_path):
    """--semantic-dedup-cos plumbs through the CLI into the stage."""
    import os

    from gcp_dataengineering_spark.llm_build import main

    import random

    rng = random.Random(7)
    vocab = ("the quick brown fox jumps over a lazy dog while many other "
             "animals watch from nearby hills and valleys because nature "
             "documentaries always describe scenes with plenty of varied "
             "vocabulary tokens sentences paragraphs").split()
    docs = spark.createDataFrame(
        [
            (i,
             ". ".join(
                 " ".join(rng.choice(vocab) for _ in range(12))
                 for _ in range(6)
             ) + ".",
             "web", "en")
            for i in range(16)
        ],
        "doc_id long, text string, source string, lang string",
    )
    src = os.path.join(tmp_path, "docs.parquet")
    out = os.path.join(tmp_path, "out")
    docs.write.parquet(src)
    rc = main([
        "--docs", src, "--out", out, "--semantic-dedup-cos", "95",
        "--cpus", "4",
    ])
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "corpus"))


def test_build_training_corpus_unigram_tokenized_budgets(spark):
    """r14 (r13 verdict item 1): with cfg.unigram_vocab set, the
    composed build's token accounting switches from whitespace words
    to LEARNED unigram-LM pieces — the budget-parity mirror of the
    BPE test above. n_tokens equals the independent python twin's
    Viterbi piece count per document, the piece sequences ride to the
    shards as `tokens` (vocab ids as `token_ids`), and the shard
    budget is denominated in those counts."""
    import re as _re

    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.unigram import (
        unigram_train,
        unigram_train_py,
        viterbi_py,
    )

    def fill(tag):
        return " ".join(f"{tag}{j}" for j in range(40))

    rows = [
        (1, f"alpha {fill('a')} one", "en", "srcA"),
        (2, f"beta {fill('b')} two", "en", "srcA"),
        (4, f"gamma {fill('c')} three", "en", "srcA"),
        (5, f"delta {fill('d')} four", "en", "srcA"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    vocab = unigram_train(docs, vocab_size=60, max_piece_len=4, em_iters=1)
    twin = unigram_train_py(
        [t for _, t, _, _ in rows], vocab_size=60, max_piece_len=4,
        em_iters=1,
    )["pieces"]
    # spark trainer and python twin agree before the pipeline runs
    got = {
        r.piece: (r.cnt, r.score, r.piece_id) for r in vocab.collect()
    }
    assert got == twin
    scores = {p: s for p, (_, s, _) in twin.items()}
    ids = {p: i for p, (_, _, i) in twin.items()}

    stages = build_training_corpus(
        docs,
        config=PipelineConfig(
            unigram_vocab=vocab, unigram_max_piece_len=4,
            shard_budget_tokens=120,
        ),
        materialize=None,
    )
    corpus = {r.doc_id: r for r in stages["corpus"].collect()}
    assert set(corpus) == {1, 2, 4, 5}

    for doc_id, text, _, _ in rows:
        want = [
            p
            for w in _re.split("[^a-z]+", text.lower())
            if w
            for p in viterbi_py(w, scores, max_piece_len=4)
        ]
        assert list(corpus[doc_id].tokens) == want, doc_id
        assert corpus[doc_id].n_tokens == len(want)
        assert list(corpus[doc_id].token_ids) == [
            ids.get(p) for p in want
        ], doc_id

    # shard plan: budgeted in unigram pieces, sequences present
    shards = stages["shards"].collect()
    assert {r.doc_id for r in shards} == {1, 2, 4, 5}
    per_shard = {}
    for r in sorted(shards, key=lambda r: r.doc_id):
        assert list(r.tokens)
        per_shard.setdefault((r.split, r.lang, r.shard_id), []).append(r.n_tokens)
    for toks in per_shard.values():
        # the documented fill rule: every member's EXCLUSIVE prefix
        # sum is under the budget (the closing doc may overflow)
        run = 0
        for t in toks:
            assert run < 120
            run += t

    # one tokenizer denominates a build: both families set -> loud
    import pytest as _pytest

    mdf = spark.createDataFrame(
        [("a", "b", 0)], "left string, right string, rank long"
    )
    with _pytest.raises(ValueError, match="mutually exclusive"):
        build_training_corpus(
            docs,
            config=PipelineConfig(bpe_merges=mdf, unigram_vocab=vocab),
        )


def test_llm_build_cli_unigram_train(spark, tmp_path):
    """--tokenizer unigram --unigram-train: the CLI trains the piece
    table on the input, persists it next to the corpus
    (unigram_vocab.parquet — a release without its tokenizer is not
    reproducible), and the written corpus carries piece sequences
    whose counts drive the budgets. Flag-combination guards are
    loud."""
    import json
    import os

    from gcp_dataengineering_spark.llm_build import main

    docs_path = os.path.join(tmp_path, "docs.parquet")
    spark.createDataFrame(
        [
            (i, " ".join(f"w{j} banana band" for j in range(30)), "en", "srcA")
            for i in range(8)
        ],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(docs_path)
    out = os.path.join(tmp_path, "build_out")
    rc = main([
        "--docs", docs_path, "--out", out, "--cpus", "4",
        "--shard-budget", "500", "--tokenizer", "unigram",
        "--unigram-train", "--unigram-vocab-size", "50",
        "--unigram-max-piece-len", "4", "--unigram-em-iters", "1",
    ])
    assert rc == 0
    with open(os.path.join(out, "report.json")) as f:
        report = json.load(f)
    assert report["corpus"] > 0
    vocab = spark.read.parquet(out + "/unigram_vocab.parquet")
    assert set(vocab.columns) == {"piece", "cnt", "score", "piece_id"}
    # tiny alphabet (w/banana/band): at least every single char plus
    # some learned multi-char pieces
    assert vocab.count() >= 5
    corpus = spark.read.parquet(out + "/corpus")
    row = corpus.first()
    assert row.n_tokens == len(row.tokens) and len(row.tokens) > 0
    # re-run the build with the PERSISTED vocab instead of training
    out2 = os.path.join(tmp_path, "build_out2")
    rc2 = main([
        "--docs", docs_path, "--out", out2, "--cpus", "4",
        "--shard-budget", "500", "--tokenizer", "unigram",
        "--unigram-vocab", out + "/unigram_vocab.parquet",
        "--unigram-max-piece-len", "4",
    ])
    assert rc2 == 0
    c1 = {
        r.doc_id: (list(r.tokens), r.n_tokens)
        for r in corpus.collect()
    }
    c2 = {
        r.doc_id: (list(r.tokens), r.n_tokens)
        for r in spark.read.parquet(out2 + "/corpus").collect()
    }
    assert c1 == c2

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="mutually exclusive"):
        main([
            "--docs", docs_path, "--out", out, "--tokenizer", "unigram",
            "--unigram-train", "--unigram-vocab", "x.parquet",
        ])
    with _pytest.raises(SystemExit, match="conflicts"):
        main([
            "--docs", docs_path, "--out", out, "--tokenizer", "unigram",
            "--bpe-train", "4",
        ])
    with _pytest.raises(SystemExit, match="require --tokenizer unigram"):
        main([
            "--docs", docs_path, "--out", out, "--unigram-train",
        ])
    # ADVICE r14: the within-family misuse (--tokenizer unigram with
    # no vocabulary source) must be as loud as the cross-family one —
    # it would otherwise silently budget whitespace words and ignore
    # --unigram-sample-alpha
    with _pytest.raises(SystemExit, match="requires --unigram-train"):
        main([
            "--docs", docs_path, "--out", out, "--tokenizer", "unigram",
            "--unigram-sample-alpha", "0.2",
        ])
    with _pytest.raises(SystemExit, match="requires --unigram-train"):
        main([
            "--docs", docs_path, "--out", out, "--tokenizer", "unigram",
        ])


def test_build_training_corpus_unigram_sampled_budgets(spark):
    """r14 subword regularization in the PRODUCT path: with
    unigram_sample_alpha set, the composed build's tokens are the
    SAMPLED segmentations (python-twin-exact per word), budgets count
    them, and a different epoch salt resamples — while the Viterbi
    path stays the default."""
    import re as _re

    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.unigram import (
        unigram_train_soft,
        unigram_sample_words_py,
    )

    def fill(tag):
        return " ".join(f"{tag}{j}" for j in range(40))

    rows = [
        (1, f"alpha {fill('a')} one", "en", "srcA"),
        (2, f"beta {fill('b')} two", "en", "srcA"),
        (4, f"gamma {fill('c')} three", "en", "srcA"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    vocab = unigram_train_soft(docs, vocab_size=60, max_piece_len=4)
    probs = {r.piece: r.prob for r in vocab.collect()}

    def run(salt):
        return build_training_corpus(
            docs,
            config=PipelineConfig(
                unigram_vocab=vocab, unigram_max_piece_len=4,
                unigram_sample_alpha=0.2, unigram_sample_salt=salt,
                shard_budget_tokens=150,
            ),
            materialize=None,
        )

    corpus = {r.doc_id: r for r in run("ep0")["corpus"].collect()}
    for doc_id, text, _, _ in rows:
        want = [
            p
            for w in _re.split("[^a-z]+", text.lower())
            if w
            for p in unigram_sample_words_py(
                w, probs, max_piece_len=4, alpha=0.2, salt="ep0"
            )
        ]
        assert list(corpus[doc_id].tokens) == want, doc_id
        assert corpus[doc_id].n_tokens == len(want)

    # a different epoch salt resamples at least one document
    corpus1 = {r.doc_id: r for r in run("ep1")["corpus"].collect()}
    assert any(
        list(corpus[d].tokens) != list(corpus1[d].tokens) for d in corpus
    )


def test_llm_build_cli_guards_wave4():
    """r17 wave 4 CLI flags fail loudly BEFORE Spark starts: bad
    fraction syntax, fuzzy decontam without an eval set, order-4
    laplace, and a bad bucket list are all SystemExit with pointed
    messages."""
    import pytest as _pytest

    from gcp_dataengineering_spark.llm_build import main

    base = ["--docs", "/nonexistent", "--out", "/tmp/never"]
    with _pytest.raises(SystemExit, match="NUM/DEN"):
        main(base + ["--dsir-keep", "quarter"])
    with _pytest.raises(SystemExit, match="positive"):
        main(base + ["--dsir-keep", "0/4"])
    with _pytest.raises(SystemExit, match="NUM/DEN"):
        main(base + ["--decontam-min-shared-frac", "7/10/2"])
    with _pytest.raises(SystemExit, match="requires --eval"):
        main(base + ["--decontam-fuzzy-min-est-jaccard", "0.5"])
    with _pytest.raises(SystemExit, match="smoothing kn"):
        main(base + ["--perplexity-order", "4"])
    with _pytest.raises(SystemExit, match="head,middle,tail"):
        main(base + ["--perplexity-bucket-keep", "head,best"])


def test_llm_build_cli_wave4_stages(spark, tmp_path):
    """The wave-4 CLI surface end-to-end in one subprocess: DSIR
    selection (+ persisted density-ratio model), the perplexity gate
    with the CCNet bucket cut, and fuzzy decontamination all compose;
    the report carries each stage's census and the corpus shrinks
    through the selection."""
    import json
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs_path = str(tmp_path / "docs.parquet")
    src.write.parquet(docs_path)
    target_path = str(tmp_path / "target.parquet")
    src.filter(F.col("lang") == "en").select("text").write.parquet(target_path)
    eval_path = str(tmp_path / "eval.parquet")
    src.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" eval suffix run")).alias("text")
    ).write.parquet(eval_path)

    out = str(tmp_path / "build_out")
    proc = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark.llm_build",
         "--docs", docs_path, "--out", out, "--cpus", "4",
         "--shard-budget", "2000",
         "--eval", eval_path,
         "--decontam-fuzzy-min-est-jaccard", "0.5",
         "--dsir-target", target_path, "--dsir-keep", "1/2",
         "--dsir-buckets", "256",
         "--perplexity-max-bits", "30",
         "--perplexity-bucket-keep", "head,middle"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-500:]
    line = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    report = json.loads(line)
    for key in ("dsir", "dsir_model", "perplexity", "perplexity_buckets", "corpus"):
        assert key in report, key
    assert report["corpus"] > 0
    # the DSIR frame audits every gated candidate; the selection cut
    # the corpus (keep 1/2 + downstream gates)
    assert report["corpus"] < report["dsir"]
    assert report["dsir_model"] == 256

    model = spark.read.parquet(out + "/dsir_model.parquet")
    assert model.count() == 256
    assert set(model.columns) == {"bucket", "c_target", "c_raw", "weight"}


def test_build_training_corpus_unigram_byte_fallback_budgets(spark):
    """r18 (r17 verdict item 5, the 'done' clause): the composed
    build's token budgets stay consistent across the byte-fallback
    switch. On a lowercase-alpha corpus the two tokenizations agree
    word-for-word, so n_tokens under fallback equals the classic
    count plus exactly (n_words - 1) reserved <0x20> separators per
    doc — a pinned deterministic relationship, not a drift. A
    mixed-script doc (the classic path would silently drop its CJK
    and punctuation) encodes every byte: no NULL token_ids anywhere,
    n_tokens == len(tokens), and the shard budget consumes byte
    pieces like any others. Fallback composed with the sampled
    encoder is a loud error."""
    import re as _re

    import pytest as _pytest

    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.unigram import (
        unigram_decode_pieces,
        unigram_train,
    )

    def fill(tag):
        return " ".join(f"{tag}{j}" for j in range(40))

    clean = [
        (1, f"alpha {fill('a')} one", "en", "srcA"),
        (2, f"beta {fill('b')} two", "en", "srcA"),
    ]
    docs = spark.createDataFrame(
        clean, "doc_id long, text string, lang string, source string"
    )
    vocab = unigram_train(docs, vocab_size=60, max_piece_len=4, em_iters=1)

    base_cfg = dict(unigram_vocab=vocab, unigram_max_piece_len=4,
                    shard_budget_tokens=120)
    off = {
        r.doc_id: r
        for r in build_training_corpus(
            docs, config=PipelineConfig(**base_cfg), materialize=None
        )["corpus"].collect()
    }
    on = {
        r.doc_id: r
        for r in build_training_corpus(
            docs,
            config=PipelineConfig(**base_cfg, unigram_byte_fallback=True),
            materialize=None,
        )["corpus"].collect()
    }
    for did, text, _, _ in clean:
        # digits make some words differ between the two conventions
        # ([^a-z]+ splits 'a1' -> 'a'); restrict the EXACT-parity pin
        # to the words both tokenizers see identically
        n_words = len(text.split())
        assert on[did].n_tokens == len(on[did].tokens)
        assert all(i is not None for i in on[did].token_ids)
        seps = [i for i in on[did].token_ids if i == -(0x20 + 1)]
        assert len(seps) == n_words - 1
        # decode closes the loop: whitespace-normalized text back
        assert unigram_decode_pieces(
            list(on[did].tokens), list(on[did].token_ids)
        ) == " ".join(text.split())
        # budgets are denominated the same way in both modes
        assert off[did].n_tokens == len(off[did].tokens)

    # mixed-script doc: bytes enter the budget, nothing is dropped
    mixed = spark.createDataFrame(
        [(7, f"alpha 中文 {fill('a')} café!", "en", "srcA")],
        "doc_id long, text string, lang string, source string",
    )
    got = build_training_corpus(
        mixed,
        config=PipelineConfig(**base_cfg, unigram_byte_fallback=True),
        materialize=None,
    )["corpus"].collect()[0]
    assert all(i is not None for i in got.token_ids)
    assert got.n_tokens == len(got.tokens)
    assert any(i < -1 for i in got.token_ids)  # real byte pieces present
    assert unigram_decode_pieces(
        list(got.tokens), list(got.token_ids)
    ) == "alpha 中文 " + " ".join(fill("a").split()) + " café!"

    with _pytest.raises(ValueError, match="mutually exclusive"):
        build_training_corpus(
            docs,
            config=PipelineConfig(
                **base_cfg, unigram_byte_fallback=True,
                unigram_sample_alpha=0.2,
            ),
            materialize=None,
        )


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _fluent_docs(spark):
    """Ten distinct prose pages over a shared vocabulary plus one
    word-salad page: enough text for a unigram vocab and a trigram
    LM."""
    import random

    words = ("the cat sat on a mat and the dog ran to the house of "
             "my old friend who lives by the river near town").split()
    rows = [
        (i, " ".join(random.Random(i).choices(words, k=60)) + ".",
         f"site{i % 2}", "en")
        for i in range(10)
    ]
    rows.append((99, " ".join(f"zq{j}w of vb{j}k to" for j in range(15)) + ".",
                 "site0", "en"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )


def test_build_training_corpus_pins_tokenized_corpus_and_lm_scores(spark):
    """With materialize on, the tokenized corpus (``capped``) and the
    LM scores (``perplexity``) are bare checkpoint scans, so the
    writes, the shard plan and the report read them instead of
    re-running the unigram encode and the LM. Fully lazy
    (materialize=False) neither is pinned, and both builds agree."""
    from gcp_dataengineering_spark.llm_build import released_pins
    from gcp_dataengineering_spark.llm_ops.pipeline import (
        PipelineConfig,
        build_training_corpus,
    )
    from gcp_dataengineering_spark.llm_ops.unigram import unigram_train

    docs = _fluent_docs(spark)
    cols = ("doc_id", "split", "n_tokens", "tokens")
    with released_pins(spark):
        vocab = unigram_train(docs, vocab_size=40, max_piece_len=4, em_iters=1)
        cfg = PipelineConfig(
            unigram_vocab=vocab, unigram_max_piece_len=4,
            perplexity_max_bits=99.0, perplexity_order=3,
            perplexity_smoothing="kn", shard_budget_tokens=500,
        )
        pinned = build_training_corpus(docs, config=cfg, materialize=None)
        for name in ("capped", "perplexity"):
            plan = _optimized_plan(pinned[name])
            assert plan.startswith("LogicalRDD"), (name, plan)
            for node in ("Join", "Window", "EvalPython", "InPandas", "InArrow"):
                assert node not in plan, (name, node, plan)
        want = sorted(map(tuple, pinned["corpus"].select(*cols).collect()))

        lazy = build_training_corpus(docs, config=cfg, materialize=False)
        for name in ("capped", "perplexity"):
            plan = _optimized_plan(lazy[name])
            assert not plan.startswith("LogicalRDD") and "Join" in plan, (name, plan)
        assert sorted(map(tuple, lazy["corpus"].select(*cols).collect())) == want
    assert len(want) == 11


def test_llm_build_releases_its_pins(spark, tmp_path):
    """llm_build.main unpersists every RDD the build pinned (the
    trained vocab, the branch-point checkpoints) before it returns,
    and a failed block releases too. A frame the caller cached before
    the call keeps its storage."""
    import json
    import os

    import pytest as _pytest

    from gcp_dataengineering_spark.llm_build import main, released_pins

    docs_path = os.path.join(tmp_path, "docs.parquet")
    _fluent_docs(spark).write.parquet(docs_path)
    jsc = spark.sparkContext._jsc
    mine = spark.range(1000).withColumn("sq", F.col("id") * F.col("id")).persist()
    assert mine.count() == 1000
    level = mine.storageLevel
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        out = os.path.join(tmp_path, "build_out")
        rc = main([
            "--docs", docs_path, "--out", out, "--shard-budget", "500",
            "--tokenizer", "unigram", "--unigram-train",
            "--unigram-vocab-size", "40", "--unigram-max-piece-len", "4",
            "--unigram-em-iters", "1",
            "--perplexity-order", "3", "--perplexity-smoothing", "kn",
            "--perplexity-max-bits", "99",
        ])
        assert rc == 0
        with open(os.path.join(out, "report.json")) as f:
            assert json.load(f)["corpus"] > 0
        assert set(jsc.getPersistentRDDs().keySet()) == before
        assert mine.is_cached and mine.storageLevel == level

        with _pytest.raises(RuntimeError, match="build failed"):
            with released_pins(spark):
                spark.range(10).localCheckpoint(eager=True)
                raise RuntimeError("build failed")
        assert set(jsc.getPersistentRDDs().keySet()) == before
    finally:
        mine.unpersist()
