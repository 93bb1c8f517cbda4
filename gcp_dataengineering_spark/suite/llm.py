"""LLM-data-pipeline suite: dedup / similarity / text analysis /
multimodal queries over the documents & embeddings fixtures, each
with a DuckDB oracle (the multimodal decode runs the Pandas-UDF
plumbing with the deterministic fake decoder, oracle-checked via
byte functions).

Portability notes baked into the oracles:
- DuckDB regexp_replace needs the 'g' flag (Spark is global by default);
- md5() hex strings compare like the underlying 128-bit ints, so
  min(md5(...)) is a portable MinHash;
- dot products fold left-to-right in both engines → bit-identical
  doubles before the final ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm_ops import bpe as BPE
from ..llm_ops import corpus as C
from ..llm_ops import embed as EM
from ..llm_ops import unigram as UG
from ..llm_ops import html as H
from ..llm_ops import decontam as DC
from ..llm_ops import dedup as D
from ..llm_ops import multimodal as M
from ..llm_ops import ngram_kn as NK
from ..llm_ops import ngram_lm as NL
from ..llm_ops import phash as PH
from ..llm_ops import quality_model as QM
from ..llm_ops import similarity as S
from ..llm_ops import text as T


def _t(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if fan_out and name in ("documents", "embeddings"):
        # r18 optimization: the fixture tables are single-row-group
        # parquet files, so the scan — and the whole map side of every
        # downstream stage (explodes, regex scans, Arrow UDF decodes,
        # partial aggregates) — was ONE task on a 32-core session.
        # Scale-adaptive fan-out (guide §2.5 input skew): no-op when
        # the scan already has >= default-parallelism splits, which is
        # always true at production scale. Applied to the two tables
        # whose downstream work is map-heavy; every consuming query is
        # integer/string-exact or rounds before output, so results are
        # partitioning-independent (re-verified against the oracles).
        #
        # Second-session A/B (interleaved on/off, receipts in
        # OPTIMIZATION_r18.md): the fan-out exchange moves the FULL
        # text payload and pays a local sort (sortBeforeRepartition),
        # so it only wins when the per-row map work downstream is
        # heavy (regex chains, gram explodes with big folds,
        # Arrow-batch decodes, embedding hashing). Map-light keys
        # whose first real operator is an aggregation that
        # parallelizes after its own exchange anyway (exact-hash
        # dedup, corpus stats, the perplexity family — window/SMJ
        # bound, not map bound) measured consistently SLOWER with the
        # fan-out; those pass fan_out=False.
        from ..ops.scan import fan_out_scan

        df = fan_out_scan(df)
    return df


def r4(c):
    return F.round(c, 4)


def _sql_hits(words: list[str]) -> str:
    """DuckDB spelling of text.stopword_hits: distinct-word intersect
    of the whitespace token array with the stopword list (list_intersect
    dedups exactly like Spark's array_intersect)."""
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_intersect(regexp_split_to_array("
        f"lower(coalesce(text, '')), '\\s+'), [{lst}]))"
    )


# ---------------------------------------------------------------- exact dedup
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint;
    winner = min(doc_id). Shuffles 32-byte keys, not documents."""
    return D.dedup_exact(_t(spark, sf_dir, "documents", fan_out=False))


ORACLE_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------- text quality
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.quality_features(docs)
    return feats.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        r4(F.col("avg_token_len")).alias("avg_token_len"),
        r4(F.col("punct_ratio")).alias("punct_ratio"),
        r4(F.col("stopword_ratio")).alias("stopword_ratio"),
    )


# sw_hits generated from T.STOPWORDS['en'] (round 5 widened the lists;
# a hardcoded copy here would silently desync the oracle).
ORACLE_TEXT_QUALITY = f"""
WITH base AS (
    SELECT doc_id, text,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
           length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
           {_sql_hits(T.STOPWORDS['en'])} AS sw_hits
    FROM documents
)
SELECT doc_id, n_chars_calc, n_tokens,
       ROUND(CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1), 4) AS avg_token_len,
       ROUND(CAST(n_punct AS DOUBLE) / greatest(length(text), 1), 4) AS punct_ratio,
       ROUND(CAST(sw_hits AS DOUBLE) / {len(T.STOPWORDS['en'])}, 4) AS stopword_ratio
FROM base
"""


# ---------------------------------------------------------------- quality filter
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downstream filter policy over the quality features: keep
    documents that are long enough, token-dense, and not
    punctuation-heavy — the standard pre-training corpus gate."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.quality_features(docs)
    kept = feats.filter(
        (F.col("n_chars_calc") >= 100)
        & (F.col("n_tokens") >= 20)
        & (F.col("punct_ratio") <= 0.1)
        & (F.col("avg_token_len") >= 2.0)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


ORACLE_QUALITY_FILTER = """
WITH base AS (
    SELECT lang,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
           length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
           length(text) AS n_chars
    FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM base
WHERE n_chars_calc >= 100
  AND n_tokens >= 20
  AND CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.1
  AND CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1) >= 2.0
GROUP BY lang
"""


# ---------------------------------------------------------------- capped near-dup
def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The posting-list near-dup with the stop-shingle guard active
    (drop shingles appearing in > 40 docs before pairing) — the
    quadratic-blowup control for web-scale corpora, differentially
    checked here."""
    pairs = D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), min_jaccard=0.05, max_shingle_freq=40
    )
    return pairs.select("id_a", "id_b", "common", r4(F.col("jaccard")).alias("jaccard"))


ORACLE_DEDUP_NGRAM_CAPPED = """
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), sh0 AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), freq AS (
    SELECT shingle, COUNT(*) AS df_ FROM sh0 GROUP BY 1
), sh AS (
    SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN freq USING (shingle)
    WHERE freq.df_ <= 40
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, common,
       ROUND(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.05
"""


# ---------------------------------------------------------------- language id
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID; output is the confusion
    matrix against the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    pred = docs.withColumn("lang_pred", T.lang_id("text"))
    return pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# Generated from T.STOPWORDS / T.SCRIPT_RANGES so the oracle can
# never desync from the operator's tables or tie-break orders.
# r12: replays the two-stage router — script argmax (list_max over
# structs, the same lexicographic argmax Spark's array_max computes)
# hard-maps the one-script languages and the han/kana ja-vs-zh rule;
# Latin/Cyrillic/unknown fall to the 20-language stopword vote.
_LID_LANGS = list(T.STOPWORDS)


def _sql_hits_of(expr: str, words: list[str]) -> str:
    """_sql_hits over an arbitrary text expression."""
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_intersect(regexp_split_to_array("
        f"lower(coalesce({expr}, '')), '\\s+'), [{lst}]))"
    )


def _lid_pred_sql(text_expr: str) -> str:
    """DuckDB expression replaying text.lang_id over ``text_expr``
    (script router + stopword vote, both argmaxes as list_max over
    (score, priority, label) structs)."""
    counts = T.script_counts_sql(text_expr)
    ns = len(counts)
    sstructs = ", ".join(
        f"struct_pack(s := {c}, p := {ns - i}, l := '{name}')"
        for i, (name, c) in enumerate(counts.items())
    )
    nl = len(_LID_LANGS)
    vstructs = ", ".join(
        f"struct_pack(s := {_sql_hits_of(text_expr, T.STOPWORDS[l])}, "
        f"p := {nl - i}, l := '{l}')"
        for i, l in enumerate(_LID_LANGS)
    )
    sb = f"(list_max([{sstructs}]))"
    vb = f"(list_max([{vstructs}]))"
    direct = " ".join(
        f"WHEN {sb}.l = '{sc}' THEN '{lang}'"
        for sc, lang in T.SCRIPT_DIRECT_LANG.items()
    )
    return (
        f"CASE WHEN {sb}.s <= 0 THEN "
        f"(CASE WHEN {vb}.s > 0 THEN {vb}.l ELSE 'und' END) "
        f"WHEN {sb}.l = 'kana' THEN 'ja' "
        f"WHEN {sb}.l = 'han' THEN "
        f"(CASE WHEN {counts['kana']} > 0 THEN 'ja' ELSE 'zh' END) "
        f"{direct} "
        f"WHEN {vb}.s > 0 THEN {vb}.l ELSE 'und' END"
    )


ORACLE_LANG_ID = f"""
SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT lang, {_lid_pred_sql('text')} AS lang_pred FROM documents)
GROUP BY lang, lang_pred
"""


# ------------------------------------------------- script detection (r12)
# Deterministic multi-script pages: a stopword-free latin filler
# ('doc<N>') plus a per-class native-script snippet selected by
# doc_id mod 11 and repeated so the snippet's script dominates.
# Exercises the script argmax, the han/kana ja-vs-zh rule, the
# direct script→language maps AND the widened stopword vote (en/es/
# ru rows resolve by vote, not by script).
_SCRIPT_SNIPPETS = [
    "the cat and the dog were in the house that was near the old mill",
    "el perro y el gato que estaban en la casa de la familia por una semana",
    "он сказал что это было не так и они не знали как он был у нас",
    "και το ελληνικό κείμενο εδώ για τον έλεγχο",
    "النص العربي هنا للاختبار والمراجعة الدقيقة",
    "טקסט עברי לבדיקה כאן עם מילים נוספות",
    "यह परीक्षण के लिए हिंदी पाठ है और कुछ शब्द",
    "这是用于测试的中文文本内容还有更多字符",
    "これはテストのための日本語ですもっと文字",
    "한국어 텍스트 테스트 입니다 더 많은 글자",
    "นี่คือข้อความภาษาไทยสำหรับทดสอบเพิ่มเติม",
]


def q_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass script/language profile (r18: text.script_profile
    — the fused form of script_counts + detect_script + lang_id's
    script route, sharing ONE residue and ONE set of per-script
    scans across all three legs) + the stopword vote, over
    deterministic multi-script pages — per doc: every per-script
    character count, the dominant script, and the routed language
    prediction (hash-gated; the pytest fixture measures accuracy and
    pins profile ≡ the standalone operators, this key gates the
    arithmetic and the routing). ``F.inline`` is the generator
    barrier that stops projection collapse from re-expanding the
    profile struct once per output column."""
    docs = _t(spark, sf_dir, "documents")
    snippet = F.element_at(
        F.array(*[F.lit(s) for s in _SCRIPT_SNIPPETS]),
        (F.pmod(F.col("doc_id"), F.lit(len(_SCRIPT_SNIPPETS))) + 1).cast("int"),
    )
    synth = F.concat(
        F.lit("doc"),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.repeat(snippet, 2),
    )
    base = docs.select("doc_id", synth.alias("t"))
    flat = base.select(
        "doc_id", "t", F.inline(F.array(T.script_profile("t")))
    )
    probe = F.col("t").rlike("[\u0370-\uD7FF\uE000-\uFFFF]")
    lang_pred = T._bind1(
        T._stopword_vote(F.col("t")),
        lambda v: F.coalesce(
            F.when(probe, F.col("script_lang")),
            F.when(v["s"] > 0, v["l"]),
            F.lit("und"),
        ),
    )
    return flat.select(
        "doc_id",
        *[f"n_{name}" for name in T.SCRIPT_RANGES],
        "script",
        lang_pred.alias("lang_pred"),
    )


def _script_detect_oracle() -> str:
    snips = ", ".join("'" + s.replace("'", "''") + "'" for s in _SCRIPT_SNIPPETS)
    synth = (
        f"'doc' || CAST(doc_id AS VARCHAR) || ' ' || "
        f"repeat(([{snips}])[(doc_id % {len(_SCRIPT_SNIPPETS)}) + 1], 2)"
    )
    counts = T.script_counts_sql("t")
    ns = len(counts)
    cnt_cols = ",\n       ".join(f"{c} AS n_{name}" for name, c in counts.items())
    sstructs = ", ".join(
        f"struct_pack(s := {c}, p := {ns - i}, l := '{name}')"
        for i, (name, c) in enumerate(counts.items())
    )
    sb = f"(list_max([{sstructs}]))"
    return f"""
WITH synth AS (
    SELECT doc_id, {synth} AS t FROM documents
)
SELECT doc_id,
       {cnt_cols},
       CASE WHEN {sb}.s > 0 THEN {sb}.l ELSE 'unknown' END AS script,
       {_lid_pred_sql('t')} AS lang_pred
FROM synth
"""


# ---------------------------------------------------------------- token counting
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.whitespace_token_count("text").cast("long").alias("n_ws_tokens"),
        T.token_count("text").cast("long").alias("n_re_tokens"),
    )


ORACLE_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS BIGINT) AS n_re_tokens
FROM documents
"""


# ---------------------------------------------------------------- fingerprint
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 fingerprint of normalized text per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


ORACLE_DOC_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


# ---------------------------------------------------------------- n-gram Jaccard near-dup
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard ≥ 0.1 via posting-list
    self-join (no cross join; stop-shingle guard available)."""
    pairs = D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), min_jaccard=0.1
    )
    return pairs.select("id_a", "id_b", "common", r4(F.col("jaccard")).alias("jaccard"))


ORACLE_DEDUP_NGRAM = """
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, common,
       ROUND(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.1
"""


# ---------------------------------------------------------------- containment
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by n-gram containment |A∩B|/min(|A|,|B|) ≥ 0.5
    — the one-sided measure that catches subset/boilerplate
    duplication symmetric Jaccard under-scores."""
    pairs = D.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), min_containment=0.5
    )
    return pairs.select(
        "id_a", "id_b", "common",
        r4(F.col("jaccard")).alias("jaccard"),
        r4(F.col("containment")).alias("containment"),
    )


ORACLE_DEDUP_CONTAINMENT = """
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, common,
       ROUND(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) AS jaccard,
       ROUND(CAST(common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) AS containment
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.5
"""


# ---------------------------------------------------------------- MinHash + LSH
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands) candidate pairs with estimated
    Jaccard — candidate generation is a band-bucket equi-join."""
    return D.minhash_dedup_pairs(_t(spark, sf_dir, "documents")).select(
        "id_a", "id_b", "shared_bands", r4(F.col("est_jaccard")).alias("est_jaccard")
    )


def _mh_sql() -> str:
    # numeric minhash: first 60 bits of md5 as BIGINT — matches
    # Spark's conv(substring(md5_hex,1,15),16,10)::bigint exactly
    mins = ",\n           ".join(
        f"MIN(('0x' || substring(md5('{i}' || chr(31) || shingle), 1, 15))::BIGINT) AS m{i}"
        for i in range(8)
    )
    bands = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"CAST(m{2*b} AS VARCHAR) || '|' || CAST(m{2*b+1} AS VARCHAR) AS band_key FROM sigs"
        for b in range(4)
    )
    est = " + ".join(f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(8))
    return f"""
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), sigs AS (
    SELECT doc_id, {mins}
    FROM sh GROUP BY doc_id
), bands AS (
    {bands}
), cands AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, shared_bands,
       ROUND(CAST({est} AS DOUBLE) / 8, 4) AS est_jaccard
FROM cands
JOIN sigs sa ON cands.id_a = sa.doc_id
JOIN sigs sb ON cands.id_b = sb.doc_id
"""


ORACLE_DEDUP_MINHASH = _mh_sql()


# ---------------------------------------------------------------- dup groups
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components resolution of the 3-gram near-dup pairs
    (jaccard ≥ 0.1): every document labeled with its group's minimum
    doc_id. Iterative label propagation in Spark; the oracle computes
    the same components with a recursive transitive-closure CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, min_jaccard=0.1)
    return D.resolve_dup_groups(docs, pairs)


ORACLE_DEDUP_GROUPS = """
WITH RECURSIVE words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT id_a, id_b FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.1
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    -- recursive transitive closure (components are tiny)
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS group_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------- SimHash
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document."""
    return D.simhash16(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_SIMHASH = """
WITH wc AS (
    SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS w_cnt
    FROM (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
    ) GROUP BY doc_id, word
), hashed AS (
    SELECT doc_id, w_cnt,
           ((CASE WHEN ascii(substring(md5(word),1,1)) >= 97 THEN ascii(substring(md5(word),1,1)) - 87 ELSE ascii(substring(md5(word),1,1)) - 48 END) * 4096
          + (CASE WHEN ascii(substring(md5(word),2,1)) >= 97 THEN ascii(substring(md5(word),2,1)) - 87 ELSE ascii(substring(md5(word),2,1)) - 48 END) * 256
          + (CASE WHEN ascii(substring(md5(word),3,1)) >= 97 THEN ascii(substring(md5(word),3,1)) - 87 ELSE ascii(substring(md5(word),3,1)) - 48 END) * 16
          + (CASE WHEN ascii(substring(md5(word),4,1)) >= 97 THEN ascii(substring(md5(word),4,1)) - 87 ELSE ascii(substring(md5(word),4,1)) - 48 END)) AS h
    FROM wc
), votes AS (
    SELECT doc_id, j,
           SUM(((CAST(floor(h / pow(2, j)) AS BIGINT) % 2) * 2 - 1) * w_cnt) AS v
    FROM hashed, unnest(range(16)) AS r(j)
    GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------- embedding: brute-force top-k
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for queries vec_id < 20: broadcast query
    set, one corpus pass, window rank."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 20), k=5)


ORACLE_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
scored AS (
    SELECT qid, nid,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(qv) AS x, unnest(cv) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(qv) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(cv) AS y) t3))) AS cos
    FROM c, q WHERE nid <> qid
), ranked AS (
    SELECT qid, nid, cos,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
    FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 4) AS cos
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------- embedding: pandas-UDF top-k
def q_embedding_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-5 as embedding_topk, computed by the
    Arrow-batched Pandas-UDF GEMM path — checked against the SAME
    oracle, proving the UDF path is bit-compatible (after 4-dp
    rounding) with the expression path."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_pandas(emb, emb.filter(F.col("vec_id") < 20), k=5)


# ---------------------------------------------------------------- embedding: IVF ANN
def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (k-means posting lists, nprobe=3) with a
    FULL oracle: the index build is fixed-iteration Lloyd's k-means
    as deterministic DataFrame ops (quantized integer arithmetic,
    seeded hash init — similarity.ivf_index), so the DuckDB oracle
    replays the identical iterations AND the probe/score/rank search.
    No parquet handoff, no ordering/staleness hazard — both sides
    compute the index from the raw embeddings table."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = S.ivf_index(emb)
    return S.cosine_topk_ivf_from_index(
        emb, emb.filter(F.col("vec_id") < 20), assigned, centroids, k=5, nprobe=3
    )


def _ivf_build_ctes(n_clusters: int = 16, n_iter: int = 3, seed: int = 42,
                    p: str = "") -> str:
    """DuckDB CTE chain replaying similarity.ivf_index exactly:
    quantize → seeded hash init → n_iter × (integer mean, re-quantize,
    exact integer squared-L2 argmin). All sums are BIGINT (order-
    independent); the only float ops (mean division + 0.5, floor) are
    single IEEE ops identical in both engines."""
    s = S.KMEANS_SCALE
    ctes = [
        f"""{p}vq AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {s} + 0.5) AS BIGINT)) AS vq
    FROM embeddings
)""",
        f"""{p}assign0 AS (
    SELECT vec_id,
           CAST(('0x' || substring(md5('ivf{seed}' || chr(31) || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % {n_clusters} AS INTEGER) AS cluster
    FROM {p}vq
)""",
    ]
    prev = f"{p}assign0"
    for t in range(1, n_iter + 1):
        ctes.append(f"""{p}cent{t}_long AS (
    SELECT cluster, j, CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS cq
    FROM (
        SELECT a.cluster, r.j, v.vq[r.j + 1] AS val
        FROM {prev} a JOIN {p}vq v USING (vec_id), unnest(range(len(v.vq))) AS r(j)
    ) GROUP BY cluster, j
)""")
        ctes.append(f"""{p}cent{t} AS (
    SELECT cluster, array_agg(cq ORDER BY j) AS cq_arr FROM {p}cent{t}_long GROUP BY cluster
)""")
        ctes.append(f"""{p}dist{t} AS (
    SELECT v.vec_id, c.cluster,
           (SELECT SUM((a - b) * (a - b)) FROM (SELECT unnest(v.vq) AS a, unnest(c.cq_arr) AS b) z) AS dist
    FROM {p}vq v CROSS JOIN {p}cent{t} c
)""")
        ctes.append(f"""{p}assign{t} AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rn
        FROM {p}dist{t}
    ) WHERE rn = 1
)""")
        prev = f"{p}assign{t}"
    ctes.append(f"{p}assigned AS (SELECT vec_id, cluster FROM {prev})")
    ctes.append(
        f"""{p}centroids AS (
    SELECT cluster, list_transform(cq_arr, q -> CAST(q AS DOUBLE) / {s}) AS centroid
    FROM {p}cent{n_iter}
)"""
    )
    return ",\n".join(ctes)


ORACLE_EMBEDDING_IVF = f"""
WITH {_ivf_build_ctes()}, q AS (
    SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
), probe_scored AS (
    SELECT qid, cluster,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(qv) AS x, unnest(centroid) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(qv) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(centroid) AS y) t3))) AS c_cos
    FROM q, centroids
), probes AS (
    SELECT qid, cluster FROM (
        SELECT qid, cluster,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c_cos DESC, cluster ASC) AS c_rank
        FROM probe_scored
    ) WHERE c_rank <= 3
), cands AS (
    SELECT p.qid, a.vec_id AS nid FROM probes p JOIN assigned a USING (cluster)
), scored AS (
    SELECT cands.qid, cands.nid,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(q.qv) AS x, unnest(c.cv) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(q.qv) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(c.cv) AS y) t3))) AS cos
    FROM cands
    JOIN q ON cands.qid = q.qid
    JOIN (SELECT vec_id AS nid, embedding AS cv FROM embeddings) c ON cands.nid = c.nid
    WHERE cands.nid <> cands.qid
), ranked AS (
    SELECT qid, nid, cos,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
    FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 4) AS cos
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------- embedding: LSH ANN
# One canonical plane set, shared verbatim by the Spark query and the
# DuckDB oracle: seeded gaussian hyperplanes quantized to integers
# (similarity.gaussian_planes_q), 8 tables x 3 planes (recall ~0.9 vs
# brute force on the fixture corpus — pytest pins >= 0.8).
_LSH_N_PLANES, _LSH_N_TABLES = 3, 8
_lsh_flat = S.gaussian_planes_q(_LSH_N_TABLES * _LSH_N_PLANES, 64, seed=7)
LSH_TABLES = [
    _lsh_flat[t * _LSH_N_PLANES : (t + 1) * _LSH_N_PLANES]
    for t in range(_LSH_N_TABLES)
]
# single-table 6-plane blocking for the near-dup variant
NEARDUP_PLANES = S.gaussian_planes_q(6, 64, seed=7)


def q_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via multi-table gaussian-hyperplane LSH —
    the 100 TB path: candidates come from a (table, bucket) equi-join
    over integer-exact sign buckets; a pair is a candidate if ANY of
    the 8 tables agrees."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_lsh(
        emb, emb.filter(F.col("vec_id") < 20), k=3, planes_q=LSH_TABLES
    )


def _planes_values(tables: list[list[list[int]]]) -> str:
    return ",\n        ".join(
        f"({t}, {i}, {pq})"
        for t, planes in enumerate(tables)
        for i, pq in enumerate(planes)
    )


_VQ_SQL = (
    "list_transform(embedding, x -> "
    f"CAST(floor(CAST(x AS DOUBLE) * {S.KMEANS_SCALE} + 0.5) AS BIGINT))"
)

ORACLE_EMBEDDING_LSH = f"""
WITH planes(tbl, pi, pq) AS (
    VALUES
        {_planes_values(LSH_TABLES)}
), vq AS (
    SELECT vec_id, embedding, {_VQ_SQL} AS vq
    FROM embeddings
), buckets AS (
    SELECT v.vec_id, p.tbl,
           CAST(SUM(CASE WHEN (SELECT SUM(a * b) FROM (SELECT unnest(v.vq) AS a, unnest(p.pq) AS b) z) >= 0
                         THEN CAST(pow(2, p.pi) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM vq v CROSS JOIN planes p
    GROUP BY v.vec_id, p.tbl
), cands AS (
    SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
    FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
    WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
), scored AS (
    SELECT cands.qid, cands.nid,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(c.embedding) AS y) t3))) AS cos
    FROM cands
    JOIN embeddings q ON cands.qid = q.vec_id
    JOIN embeddings c ON cands.nid = c.vec_id
), ranked AS (
    SELECT qid, nid, cos,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
    FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 4) AS cos
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------- embedding near-dup
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4, blocked on
    label): the pair space is per-block, never global."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=0.4)


ORACLE_EMBEDDING_NEARDUP = """
WITH pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y) t3))) AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 4) AS cos
FROM pairs WHERE cos >= 0.4
"""


# ------------------------------------------------------- embedding near-dup @scale
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of embedding near-dup: block on
    gaussian-hyperplane sign buckets computed from the vectors
    themselves (no label column needed), then score only intra-bucket
    pairs — the pair space is per-bucket, never global. Buckets are
    integer-exact (quantized planes x quantized vectors), so the
    oracle replays them bit-identically."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "_vq", S.quantize_fixed(F.col("embedding"))
    )
    emb = emb.withColumn(
        "_bucket", S.gaussian_bucket("_vq", NEARDUP_PLANES)
    ).drop("_vq")
    return S.embedding_near_dup_pairs(emb, threshold=0.4, block_col="_bucket")


ORACLE_EMBEDDING_NEARDUP_LSH = f"""
WITH planes(pi, pq) AS (
    VALUES
        {",".join(f"({i}, {pq})" for i, pq in enumerate(NEARDUP_PLANES))}
), vqt AS (
    SELECT vec_id, embedding, {_VQ_SQL} AS vq
    FROM embeddings
), v AS (
    SELECT t.vec_id, t.embedding,
           CAST(SUM(CASE WHEN (SELECT SUM(a * b) FROM (SELECT unnest(t.vq) AS a, unnest(p.pq) AS b) z) >= 0
                         THEN CAST(pow(2, p.pi) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM vqt t CROSS JOIN planes p
    GROUP BY t.vec_id, t.embedding
), pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y) t3))) AS cos
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 4) AS cos
FROM pairs WHERE cos >= 0.4
"""


# ---------------------------------------------------------------- corpus assembly
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup pipeline: 3-gram Jaccard pairs (≥ 0.1) →
    connected-component groups → keep each group's canonical
    document → per-language kept counts + token totals. The full
    dedup flow a training pipeline runs, as ONE declarative query."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, min_jaccard=0.1)
    groups = D.resolve_dup_groups(docs, pairs)
    kept = C.apply_dedup_keepers(docs, groups)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(T.whitespace_token_count("text")).cast("long").alias("kept_tokens"),
    )


ORACLE_DEDUP_PIPELINE = """
WITH RECURSIVE words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT id_a, id_b FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.1
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), groups AS (
    SELECT src AS doc_id, MIN(dst) AS group_id FROM reach GROUP BY src
)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(len(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> ''))) AS BIGINT) AS kept_tokens
FROM documents d JOIN groups g ON d.doc_id = g.doc_id
WHERE d.doc_id = g.group_id
GROUP BY d.lang
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (round 6): even-id documents form the
    EXISTING exact-deduped corpus, odd-id documents arrive as the new
    batch. The batch is deduped against the corpus via fingerprint
    anti-join (the corpus contributes only 32-byte fps, never text,
    and is never re-paired against itself) plus in-batch min-id
    keepers. Returns the appended rows' (doc_id, fp)."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 != 0)
    out = D.dedup_exact_incremental(batch, D.dedup_exact(corpus))
    return out.select("doc_id", T.fingerprint("text").alias("fp"))


ORACLE_DEDUP_INCREMENTAL = """
WITH fps AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
), corpus AS (
    SELECT * FROM fps WHERE doc_id % 2 = 0
), batch AS (
    SELECT * FROM fps WHERE doc_id % 2 <> 0
), novel AS (
    SELECT b.doc_id, b.fp FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
), ranked AS (
    SELECT doc_id, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
    FROM novel
)
SELECT doc_id, fp FROM ranked WHERE rk = 1
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-stable train/val/test split (80/10/10 by
    salted md5 bucket of the id) — membership never changes as the
    corpus grows. Per-split doc + token counts."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    s = C.hash_split(docs)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.whitespace_token_count("text")).cast("long").alias("total_tokens"),
    )


ORACLE_DATASET_SPLIT = """
WITH b AS (
    SELECT text,
           ('0x' || substring(md5('split' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
    FROM documents
)
SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens
FROM b GROUP BY 1
"""


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard planning: greedy sequential fill of
    ~2000-token shards within each language (exclusive prefix sum ÷
    budget — one window pass). Per-shard doc + token totals."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    sh = C.shard_by_token_budget(docs, budget_tokens=2000)
    return sh.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )


ORACLE_SHARD_PLAN = """
WITH t AS (
    SELECT lang, doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
), c AS (
    SELECT lang, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT lang, CAST(FLOOR((cum - n_tokens) / 2000) AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM c GROUP BY 1, 2
"""


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregation corpus stats: per-language document count,
    distinct normalized-text fingerprints (two-phase distinct agg —
    the expand/partial-dedup shape), and the implied duplicate count."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("lang", T.fingerprint("text").alias("fp"))
    return fp.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_dup_docs"),
    )


ORACLE_DEDUP_STATS = """
WITH fp AS (
    SELECT lang, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs
FROM fp GROUP BY lang
"""


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level corpus stats in one pass: ROLLUP over
    (lang, split) — per (lang, split), per lang, and grand total,
    computed by Spark's expand+aggregate (one shuffle). The standard
    'dataset card' summary query."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    s = C.hash_split(docs)
    return s.rollup("lang", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.whitespace_token_count("text")).cast("long").alias("total_tokens"),
    )


ORACLE_CORPUS_ROLLUP = """
WITH b AS (
    SELECT lang, text,
           ('0x' || substring(md5('split' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
    FROM documents
), s AS (
    SELECT lang,
           CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
    FROM b
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM s GROUP BY ROLLUP (lang, split)
"""


# ---------------------------------------------------------------- multimodal plumbing
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: documents.text as opaque payload →
    multimodal._map_payloads (Arrow-batched, deterministic fake
    decoder) → typed metadata. Differentially checks the Arrow-UDF
    plumbing itself
    (byte counts / first byte / md5 agree with the oracle's byte
    functions)."""
    docs = _t(spark, sf_dir, "documents")
    media = M.attach_binary_payload(docs, "text", "doc_id")
    return M.decode_media_meta(media, fake=True)


ORACLE_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       'image/fake' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS header_byte,
       md5(text) AS checksum
FROM documents
"""


# ---------------------------------------------------------------- multimodal real decode
def q_multimodal_real_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-metadata decode, differentially checked: for every
    document id, synth_image_corpus emits spec-valid PNG/JPEG/GIF
    header bytes with closed-form dimensions (format = id%3, width =
    id%300+16, height = id*7%200+16, filler = id%17 bytes), and
    decode_image_headers parses width/height/format back OUT of the
    raw bytes in pure Python (IHDR / SOFn walk / screen descriptor).
    The oracle recomputes every field from the id formulas alone — if
    the parser misreads a single header byte, the hash diverges."""
    docs = _t(spark, sf_dir, "documents")
    media = M.synth_image_corpus(docs, id_col="doc_id")
    return M.decode_image_headers(media)


ORACLE_MULTIMODAL_REAL_META = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png'
            WHEN 1 THEN 'image/jpeg' ELSE 'image/gif' END AS media_type,
       CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 33
                 WHEN 1 THEN 41
                 ELSE 13 + (CASE WHEN (doc_id // 3) % 3 + 1 > 1 THEN 19 ELSE 0 END)
                      + 14 * ((doc_id // 3) % 3 + 1) + 1
            END + doc_id % 17 AS BIGINT) AS n_bytes,
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
            WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       CAST(doc_id % 300 + 16 AS INTEGER) AS width,
       CAST((doc_id * 7) % 200 + 16 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 2 THEN (doc_id // 3) % 3 + 1 END AS INTEGER) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 2 AND (doc_id // 3) % 3 + 1 > 1 THEN doc_id % 5 END AS INTEGER) AS loop_count
FROM documents
"""


# ---------------------------------------------------------------- pdf text (r18)
def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text/metadata extraction, differentially checked:
    for every document id, llm_ops/pdf.synth_pdf_corpus emits a
    spec-valid classic-xref PDF whose TEXT is a closed-form function
    of the id (pdf._pdf_line), cycling 10 variants by id%10 —
    uncompressed, two-page, FlateDecode content, TJ-array kerning,
    escape/hex strings, a ToUnicode CMap that remaps 'w'→'→' (the
    planted proof the CMap drives the decode), a truncated file, an
    /Encrypt-flagged file (both quarantine), a PDF-1.5 xref STREAM
    (W-packed + PNG up-predictor) and the full compressed layout
    (object stream + xref stream). pdf_text_extract
    parses the bytes back OUT via the vendored pure-Python parser
    (xref table walk, object graph, zlib streams, BT/ET operators,
    CMap). The oracle rebuilds every field from the id formulas
    alone — one misparsed token and the hash diverges. r18;
    PERMANENT_EXTERNAL (universe at capacity — see ROTATION.md)."""
    from ..llm_ops import pdf as PDF

    docs = _t(spark, sf_dir, "documents")
    media = PDF.synth_pdf_corpus(docs, id_col="doc_id")
    return PDF.pdf_text_extract(media)


ORACLE_PDF_TEXT = """
WITH v AS (
    SELECT doc_id, CAST(doc_id % 10 AS INTEGER) AS var FROM documents
), ln AS (
    SELECT doc_id, var, p.p AS p, k.k AS k,
           'pdf ' || doc_id || ' page ' || p.p || ' line ' || k.k ||
           ' w' || ((doc_id * (k.k + 1)) % 7) AS line
    FROM v, unnest(range(2)) AS p(p), unnest(range(3)) AS k(k)
    WHERE p.p < CASE WHEN var = 1 THEN 2 ELSE 1 END
), pages AS (
    SELECT doc_id, var, p,
           CASE WHEN var = 3 THEN string_agg(line, '' ORDER BY k)
                ELSE string_agg(line, chr(10) ORDER BY k) END AS ptext
    FROM ln GROUP BY doc_id, var, p
), body AS (
    SELECT doc_id, var,
           string_agg(ptext, chr(10) || chr(10) ORDER BY p) AS text
    FROM pages GROUP BY doc_id, var
)
SELECT v.doc_id AS media_id,
       CAST(v.var NOT IN (6, 7) AS BOOLEAN) AS ok,
       CASE v.var WHEN 6 THEN 'no-startxref'
                  WHEN 7 THEN 'encrypted' END AS err,
       CASE WHEN v.var IN (8, 9) THEN '1.5' ELSE '1.4' END
           AS pdf_version,
       CAST(CASE WHEN v.var IN (6, 7) THEN NULL
                 WHEN v.var = 1 THEN 2 ELSE 1 END AS INTEGER) AS n_pages,
       CASE WHEN v.var IN (6, 7) THEN NULL
            ELSE 'Fixture ' || v.doc_id END AS title,
       CASE WHEN v.var IN (6, 7) THEN NULL
            WHEN v.var = 5 THEN replace(b.text, 'w', chr(8594))
            ELSE b.text END AS text
FROM v JOIN body b USING (doc_id)
"""


# ---------------------------------------------------------------- doc ingest router (r18)
def q_doc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document-format ingestion router end to end
    (llm_ops/docformats.extract_documents): a mixed binary corpus
    (real PDFs — with the pdf fixture's own quarantine plants riding
    along — closed-form HTML pages, plain UTF-8, invalid bytes) is
    sniffed and routed: PDFs through the vendored parser, HTML
    through the codegen extractor, text as-is, junk quarantined. The
    oracle rebuilds every leg from the id formulas: the pdf text
    CTEs, html_text_sql over the SAME closed-form page string, the
    literal text, the quarantine rows. r18; PERMANENT_EXTERNAL."""
    from ..llm_ops import docformats as DF2

    docs = _t(spark, sf_dir, "documents", fan_out=False)
    return DF2.extract_documents(DF2.synth_doc_corpus(docs))


def _doc_ingest_oracle() -> str:
    from ..llm_ops.html import html_text_sql

    html_expr = (
        "'<html><head><title>T' || doc_id || '</title>"
        "<script>var x=' || doc_id || ';</script></head>"
        "<body><p>para ' || doc_id || ' one &amp; two</p>"
        "<div>div ' || doc_id || '</div></body></html>'"
    )
    return f"""
WITH k AS (
    SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS kind,
           CAST(doc_id % 10 AS INTEGER) AS pv
    FROM documents
), pdftext AS (
    -- kind-0 ids are multiples of 4, so the pdf variant is always
    -- even: single page, plain layout (0/2/4/8) or the truncated
    -- quarantine (6)
    SELECT doc_id,
           string_agg('pdf ' || doc_id || ' page 0 line ' || kk.k ||
                      ' w' || ((doc_id * (kk.k + 1)) % 7),
                      chr(10) ORDER BY kk.k) AS t
    FROM k, unnest(range(3)) AS kk(k)
    WHERE kind = 0 GROUP BY doc_id
)
SELECT k.doc_id,
       CASE kind WHEN 0 THEN 'pdf' WHEN 1 THEN 'html'
                 WHEN 2 THEN 'text' ELSE 'binary' END AS format,
       CAST(NOT (kind = 3 OR (kind = 0 AND pv = 6)) AS BOOLEAN) AS ok,
       CASE WHEN kind = 3 THEN 'binary-unknown'
            WHEN kind = 0 AND pv = 6 THEN 'no-startxref' END AS err,
       CASE WHEN kind = 0 AND pv <> 6
            THEN 'Fixture ' || k.doc_id END AS title,
       CAST(CASE WHEN kind = 0 AND pv <> 6 THEN 1 END AS INTEGER)
           AS n_pages,
       CASE WHEN kind = 0 AND pv <> 6 THEN p.t
            WHEN kind = 1 THEN {html_text_sql(html_expr)}
            WHEN kind = 2 THEN 'plain text doc ' || k.doc_id ||
                               ' café r' || (k.doc_id % 5)
       END AS text
FROM k LEFT JOIN pdftext p USING (doc_id)
"""


# ---------------------------------------------------------------- perceptual hash
def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing, differentially checked end-to-end:
    for every document id, synth_ppm_corpus emits a spec-valid P6
    payload whose pixels are a CLOSED-FORM function of the id
    (w = id%23+9, h = id·3%17+8, RGB linear gradients —
    phash.synth_gradient_ppm), and image_perceptual_hash decodes the
    bytes through the vendored PPM codec, takes BT.601 integer luma,
    nearest-resamples to 9×8 / 8×8 and computes the 64-bit dHash +
    aHash. The oracle recomputes BOTH hashes straight from the pixel
    formulas (resample index math, luma coefficients, bit weights,
    two's-complement fold all replayed in SQL) — one misread byte or
    off-by-one resample index and the hash diverges. r16;
    PERMANENT_EXTERNAL (universe at capacity — see ROTATION.md)."""
    docs = _t(spark, sf_dir, "documents")
    media = PH.synth_ppm_corpus(docs, id_col="doc_id")
    return PH.image_perceptual_hash(media)


ORACLE_IMAGE_PHASH = """
WITH dims AS (
    SELECT doc_id,
           CAST(doc_id % 23 + 9 AS BIGINT) AS w,
           CAST((doc_id * 3) % 17 + 8 AS BIGINT) AS h
    FROM documents
), dlum AS (
    SELECT d.doc_id, j.j, i.i,
           (((d.doc_id + 7*((i.i * d.w) // 9) + 13*((j.j * d.h) // 8)) % 256)*299
            + (((3*d.doc_id + 5*((i.i * d.w) // 9) + 11*((j.j * d.h) // 8)) % 256))*587
            + (((5*d.doc_id + 2*((i.i * d.w) // 9) + 3*((j.j * d.h) // 8)) % 256))*114) // 1000 AS g0,
           (((d.doc_id + 7*(((i.i+1) * d.w) // 9) + 13*((j.j * d.h) // 8)) % 256)*299
            + (((3*d.doc_id + 5*(((i.i+1) * d.w) // 9) + 11*((j.j * d.h) // 8)) % 256))*587
            + (((5*d.doc_id + 2*(((i.i+1) * d.w) // 9) + 3*((j.j * d.h) // 8)) % 256))*114) // 1000 AS g1
    FROM dims d, range(8) AS j(j), range(8) AS i(i)
), dh AS (
    SELECT doc_id,
       (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS dhash
    FROM (
      SELECT doc_id,
        COALESCE(SUM(CASE WHEN g1 > g0 AND j*8+i < 32 THEN (CAST(1 AS BIGINT) << CAST(j*8+i AS INTEGER)) ELSE 0 END), 0) AS lo,
        COALESCE(SUM(CASE WHEN g1 > g0 AND j*8+i >= 32 THEN (CAST(1 AS BIGINT) << CAST(j*8+i-32 AS INTEGER)) ELSE 0 END), 0) AS hi
      FROM dlum GROUP BY doc_id)
), alum AS (
    SELECT d.doc_id, j.j, i.i,
           (((d.doc_id + 7*((i.i * d.w) // 8) + 13*((j.j * d.h) // 8)) % 256)*299
            + (((3*d.doc_id + 5*((i.i * d.w) // 8) + 11*((j.j * d.h) // 8)) % 256))*587
            + (((5*d.doc_id + 2*((i.i * d.w) // 8) + 3*((j.j * d.h) // 8)) % 256))*114) // 1000 AS g
    FROM dims d, range(8) AS j(j), range(8) AS i(i)
), amean AS (
    SELECT doc_id, SUM(g) // 64 AS mean FROM alum GROUP BY doc_id
), ah AS (
    SELECT doc_id,
       (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS ahash
    FROM (
      SELECT a.doc_id,
        COALESCE(SUM(CASE WHEN a.g > m.mean AND a.j*8+a.i < 32 THEN (CAST(1 AS BIGINT) << CAST(a.j*8+a.i AS INTEGER)) ELSE 0 END), 0) AS lo,
        COALESCE(SUM(CASE WHEN a.g > m.mean AND a.j*8+a.i >= 32 THEN (CAST(1 AS BIGINT) << CAST(a.j*8+a.i-32 AS INTEGER)) ELSE 0 END), 0) AS hi
      FROM alum a JOIN amean m USING (doc_id) GROUP BY a.doc_id)
)
SELECT d.doc_id AS media_id,
       'ppm' AS fmt,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       dh.dhash AS dhash,
       ah.ahash AS ahash
FROM dims d JOIN dh USING (doc_id) JOIN ah ON d.doc_id = ah.doc_id
"""


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pixel near-dup chain under one oracle (r16):
    closed-form gradient PPMs → vendored decode → dHash → pigeonhole
    band blocking → exact hamming ≤ 3 filter → pointer-doubling
    connected components → (media_id, group_id). The oracle replays
    every stage in SQL: the dHash pixel formulas, unsigned band
    extraction via HUGEINT division (the dhash CTE is CAST back to
    BIGINT first — DuckDB's SUM(BIGINT) returns HUGEINT, and a
    128-bit xor would count sign-extension bits: bit_count 65 on a
    real pair, found while building this oracle), bit_count(xor)
    hamming, and min-label transitive closure (the dedup_groups /
    semantic_dedup recursive-CTE pattern). PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents")
    media = PH.synth_ppm_corpus(docs, id_col="doc_id")
    return PH.image_neardup(media)


ORACLE_IMAGE_NEARDUP = """
WITH RECURSIVE dims AS (
    SELECT doc_id, CAST(doc_id % 23 + 9 AS BIGINT) AS w, CAST((doc_id * 3) % 17 + 8 AS BIGINT) AS h
    FROM documents
), dlum AS (
    SELECT d.doc_id, j.j, i.i,
           (((d.doc_id + 7*((i.i * d.w) // 9) + 13*((j.j * d.h) // 8)) % 256)*299
            + (((3*d.doc_id + 5*((i.i * d.w) // 9) + 11*((j.j * d.h) // 8)) % 256))*587
            + (((5*d.doc_id + 2*((i.i * d.w) // 9) + 3*((j.j * d.h) // 8)) % 256))*114) // 1000 AS g0,
           (((d.doc_id + 7*(((i.i+1) * d.w) // 9) + 13*((j.j * d.h) // 8)) % 256)*299
            + (((3*d.doc_id + 5*(((i.i+1) * d.w) // 9) + 11*((j.j * d.h) // 8)) % 256))*587
            + (((5*d.doc_id + 2*(((i.i+1) * d.w) // 9) + 3*((j.j * d.h) // 8)) % 256))*114) // 1000 AS g1
    FROM dims d, range(8) AS j(j), range(8) AS i(i)
), dh AS (
    SELECT doc_id,
       CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS BIGINT) AS dhash
    FROM (
      SELECT doc_id,
        COALESCE(SUM(CASE WHEN g1 > g0 AND j*8+i < 32 THEN (CAST(1 AS BIGINT) << CAST(j*8+i AS INTEGER)) ELSE 0 END), 0) AS lo,
        COALESCE(SUM(CASE WHEN g1 > g0 AND j*8+i >= 32 THEN (CAST(1 AS BIGINT) << CAST(j*8+i-32 AS INTEGER)) ELSE 0 END), 0) AS hi
      FROM dlum GROUP BY doc_id)
), uh AS (
    SELECT doc_id,
           CAST(dhash AS HUGEINT)
           + CASE WHEN dhash < 0 THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS u,
           dhash
    FROM dh
), bands AS (
    SELECT doc_id, dhash, b.b AS band_idx,
           CAST((u // (CAST(1 AS HUGEINT) << CAST(16*b.b AS INTEGER))) % 65536 AS BIGINT) AS band_val
    FROM uh, range(4) AS b(b)
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.dhash AS ha, b.dhash AS hb
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), pairs AS (
    SELECT id_a, id_b FROM cands WHERE bit_count(xor(ha, hb)) <= 3
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS media_id, CAST(MIN(dst) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------- audio near-dup
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE audio near-dup chain under one oracle (r17 —
    closes the text/image/audio dedup matrix): closed-form envelope
    WAVs with planted duplicate structure (amplitude-scaled twin,
    window-boosted hamming 1-3 variant, 1.5×-length sibling —
    multimodal.synth_envelope_wav) → RIFF decode → 65-window exact
    integer energy envelope → 64 sign-of-delta bits → signed fold →
    pigeonhole band blocking → hamming ≤ 3 → connected components →
    (media_id, group_id). The oracle replays every stage from the
    sample formulas: window split (f·65 // n), Σs² energies (CAST
    back from HUGEINT — the SUM(BIGINT) quirk), the lo/hi signed
    fold, HUGEINT band extraction, bit_count(xor), min-label
    transitive closure. PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents")
    media = M.synth_envelope_corpus(docs, id_col="doc_id")
    return M.audio_neardup(media)


ORACLE_AUDIO_NEARDUP = """
WITH RECURSIVE dims AS (
  SELECT doc_id,
         CAST(doc_id // 4 AS BIGINT) AS g,
         CAST(doc_id % 4 AS BIGINT) AS m,
         CAST(CASE WHEN doc_id % 4 = 3 THEN 1300 ELSE 650 END AS BIGINT) AS n
  FROM documents
), frames AS (
  -- member 3 is an exact 2x repeat-upsample: base index fb = f // 2
  SELECT d.doc_id, d.g, d.m,
         CASE WHEN d.m = 3 THEN r.f // 2 ELSE r.f END AS fb,
         (CASE WHEN d.m = 3 THEN r.f // 2 ELSE r.f END) * 65 // 650 AS w
  FROM dims d, unnest(range(d.n)) AS r(f)
), energy AS (
  SELECT doc_id, w, CAST(SUM(s * s) AS BIGINT) AS e
  FROM (
    SELECT doc_id, w,
           (1 + m % 2)
           * (1 + ((((g*131071 + w*524287 + 17)*(g*131071 + w*524287 + 17)) % 2147483648) // 1024) % 31)
           * (((g*7919 + fb*104729) % 200) - 100)
           * (CASE WHEN m = 2 AND w = 7 THEN 5 ELSE 1 END) AS s
    FROM frames
  ) GROUP BY doc_id, w
), bitsrc AS (
  SELECT doc_id, w, e,
         LEAD(e) OVER (PARTITION BY doc_id ORDER BY w) AS e_next
  FROM energy
), fp AS (
  SELECT doc_id,
         CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
              * 4294967296 + lo AS BIGINT) AS afp
  FROM (
    SELECT doc_id,
      COALESCE(SUM(CASE WHEN e_next > e AND w < 32
                        THEN (CAST(1 AS BIGINT) << CAST(w AS INTEGER))
                        ELSE 0 END), 0) AS lo,
      COALESCE(SUM(CASE WHEN e_next > e AND w >= 32 AND w < 64
                        THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INTEGER))
                        ELSE 0 END), 0) AS hi
    FROM bitsrc GROUP BY doc_id)
), uh AS (
    SELECT doc_id,
           CAST(afp AS HUGEINT)
           + CASE WHEN afp < 0 THEN CAST('18446744073709551616' AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END AS u,
           afp
    FROM fp
), bands AS (
    SELECT doc_id, afp, b.b AS band_idx,
           CAST((u // (CAST(1 AS HUGEINT) << CAST(16*b.b AS INTEGER))) % 65536 AS BIGINT) AS band_val
    FROM uh, range(4) AS b(b)
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.afp AS ha, b.afp AS hb
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), pairs AS (
    SELECT id_a, id_b FROM cands WHERE bit_count(xor(ha, hb)) <= 3
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS media_id, CAST(MIN(dst) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------- video near-dup
def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE video container near-dup chain under one oracle
    (r18 — the r17 verdict's item 2; completes the
    text/image/audio/VIDEO dedup matrix at honest scope): closed-form
    MP4s with planted duplicate structure (byte-identical remux twin
    with reordered boxes + metadata edits, window-7 perturbed
    hamming ≤ 2 variant, exact 2× byte-repeat sibling —
    multimodal.synth_video_payload) → top-level box walk → mdat
    65-window exact integer Σb² energy envelope → 64 sign-of-delta
    bits → signed fold → pigeonhole band blocking → hamming ≤ 3 →
    the duration container-signal guard → connected components →
    (media_id, group_id). The oracle replays every stage from the
    byte formulas. Scope: remux-level dups, NOT re-encodes
    (video_fingerprint_py docstring). PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents")
    media = M.synth_video_corpus(docs, id_col="doc_id")
    return M.video_neardup(media)


ORACLE_VIDEO_NEARDUP = """
WITH RECURSIVE dims AS (
  SELECT doc_id,
         CAST(doc_id // 4 AS BIGINT) AS g,
         CAST(doc_id % 4 AS BIGINT) AS m,
         CAST(CASE WHEN doc_id % 4 = 3 THEN 1300 ELSE 650 END AS BIGINT) AS n,
         CAST(1000 + (doc_id // 4 * 37) % 4000 AS BIGINT) AS dur
  FROM documents
), bytes AS (
  -- member 3 is an exact 2x byte repeat: base index ib = i // 2
  SELECT d.doc_id, d.g, d.m,
         CASE WHEN d.m = 3 THEN r.i // 2 ELSE r.i END AS ib,
         (CASE WHEN d.m = 3 THEN r.i // 2 ELSE r.i END) * 65 // 650 AS w
  FROM dims d, unnest(range(d.n)) AS r(i)
), vals AS (
  SELECT doc_id, w,
         CASE WHEN m = 2 AND w = 7 THEN (b + 101) % 251 ELSE b END AS b
  FROM (
    SELECT doc_id, m, w,
           ((1 + ((((g*131071 + w*524287 + 17)*(g*131071 + w*524287 + 17)) % 2147483648) // 1024) % 31)
            * (((g*7919 + ib*104729) % 200) + 1)) % 251 AS b
    FROM bytes
  )
), energy AS (
  SELECT doc_id, w, CAST(SUM(b * b) AS BIGINT) AS e
  FROM vals GROUP BY doc_id, w
), bitsrc AS (
  SELECT doc_id, w, e,
         LEAD(e) OVER (PARTITION BY doc_id ORDER BY w) AS e_next
  FROM energy
), fp AS (
  SELECT doc_id,
         CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
              * 4294967296 + lo AS BIGINT) AS vfp
  FROM (
    SELECT doc_id,
      COALESCE(SUM(CASE WHEN e_next > e AND w < 32
                        THEN (CAST(1 AS BIGINT) << CAST(w AS INTEGER))
                        ELSE 0 END), 0) AS lo,
      COALESCE(SUM(CASE WHEN e_next > e AND w >= 32 AND w < 64
                        THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INTEGER))
                        ELSE 0 END), 0) AS hi
    FROM bitsrc GROUP BY doc_id)
), uh AS (
    SELECT doc_id,
           CAST(vfp AS HUGEINT)
           + CASE WHEN vfp < 0 THEN CAST('18446744073709551616' AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END AS u,
           vfp
    FROM fp
), bands AS (
    SELECT doc_id, vfp, b.b AS band_idx,
           CAST((u // (CAST(1 AS HUGEINT) << CAST(16*b.b AS INTEGER))) % 65536 AS BIGINT) AS band_val
    FROM uh, range(4) AS b(b)
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.vfp AS ha, b.vfp AS hb
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), pairs AS (
    SELECT c.id_a, c.id_b
    FROM cands c
    JOIN dims da ON da.doc_id = c.id_a
    JOIN dims db ON db.doc_id = c.id_b
    WHERE bit_count(xor(c.ha, c.hb)) <= 3
      AND ABS(da.dur - db.dur) <= 100
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS media_id, CAST(MIN(dst) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------- PCM audio stats
def q_audio_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM audio-quality stats, differentially checked end-to-end:
    synth_pcm_corpus emits spec-valid 16-bit PCM WAVs whose every
    sample is a closed-form function of the id
    (multimodal.synth_pcm_wav), audio_pcm_stats decodes the RIFF
    chunk walk + sample bytes and computes the quality gates
    (recomputed duration, exact Σx², integer rms, peak, clip count).
    The oracle replays all of it from the sample formula — the
    float-rounded clip_frac convenience column is excluded (python
    banker's vs SQL half-away rounding; n_clipped is the exact
    currency). r16; PERMANENT_EXTERNAL (universe at capacity)."""
    docs = _t(spark, sf_dir, "documents")
    media = M.synth_pcm_corpus(docs, id_col="doc_id")
    return M.audio_pcm_stats(media).drop("clip_frac")


ORACLE_AUDIO_PCM = """
WITH dims AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sr,
         CAST(1 + doc_id % 2 AS BIGINT) AS ch,
         CAST(doc_id % 80 + 40 AS BIGINT) AS frames
  FROM documents
), samples AS (
  SELECT d.doc_id, ((d.doc_id * 7919 + r.k * 104729) % 65536) - 32768 AS x
  FROM dims d, unnest(range(d.frames * d.ch)) AS r(k)
), stats AS (
  SELECT doc_id, SUM(x*x) AS sum_sq, MAX(ABS(x)) AS peak,
         SUM(CASE WHEN x >= 32767 OR x <= -32768 THEN 1 ELSE 0 END) AS n_clipped,
         COUNT(*) AS n
  FROM samples GROUP BY 1
), rmsq AS (
  SELECT doc_id, sum_sq, peak, n_clipped, n,
         CAST(FLOOR(SQRT(CAST(sum_sq // n AS DOUBLE))) AS BIGINT) AS fs
  FROM stats
)
SELECT d.doc_id AS media_id, 'wav' AS format,
       CAST(d.sr AS INTEGER) AS sample_rate,
       CAST(d.ch AS INTEGER) AS channels,
       CAST(d.frames AS BIGINT) AS n_frames,
       CAST(d.frames * 1000 // d.sr AS BIGINT) AS duration_ms,
       CAST(r.sum_sq AS BIGINT) AS sum_sq,
       CAST(CASE WHEN (r.fs+1)*(r.fs+1) <= r.sum_sq // r.n THEN r.fs+1
                 WHEN r.fs*r.fs > r.sum_sq // r.n THEN r.fs-1
                 ELSE r.fs END AS INTEGER) AS rms,
       CAST(r.peak AS INTEGER) AS peak,
       CAST(r.n_clipped AS BIGINT) AS n_clipped
FROM dims d JOIN rmsq r USING (doc_id)
"""


# ---------------------------------------------------------------- ngram perplexity
def q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter, full-chain oracle replay: the
    bigram backoff LM trains on the documents table (vocab fold at
    min_count=2, <s> begin context, integer fixed-point llog2
    scores — llm_ops/ngram_lm.py) and self-scores every document.
    The oracle (bigram_perplexity_sql) replays vocabulary fold,
    transition window, bigram/context/unigram counts, the backoff
    penalty and the exact llog2 bit arithmetic in DuckDB — nll_fp is
    an exact BIGINT, so one wrong count or shift diverges the hash.
    r16; PERMANENT_EXTERNAL (universe at capacity — ROTATION.md)."""
    return NL.bigram_perplexity(_t(spark, sf_dir, "documents", fan_out=False))


def q_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trigram-order backoff LM (one order closer to CCNet's
    5-gram): tri → bi → uni escape chain with fixed penalties, two
    lag windows, three count tables — the whole train+score chain
    replayed in SQL (trigram_perplexity_sql). r16;
    PERMANENT_EXTERNAL."""
    return NL.trigram_perplexity(_t(spark, sf_dir, "documents", fan_out=False))


# The KN pairs train on an 80% doc_id split and score EVERY doc —
# unlike the self-scored forms, this drives the unseen-bigram /
# unseen-context escape branches (a self-scored corpus has no unseen
# n-grams), so the oracle certifies the whole KN chain, not just the
# discounted-hit leg.
KN_REF_FILTER = "doc_id % 10 < 8"


def q_ngram_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney bigram perplexity (r17 — the smoothing family
    CCNet's KenLM actually uses): quantized Ney absolute discount
    from count-of-counts, context escape weights, continuation-
    unigram base distribution, all integer fixed-point llog2
    (ngram_lm.bigram_perplexity(smoothing="kn"), which runs
    llm_ops/ngram_kn.py at order 2). Trained on the 80% doc_id
    split, scoring all docs; the oracle (ngram_kn.kn_perplexity_sql
    at order 2) replays vocab fold, counts, the discount computation
    (integer half-up //), every escape branch and the exact bit
    arithmetic. PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    return NL.bigram_perplexity(
        docs, ref=docs.filter(KN_REF_FILTER), smoothing="kn"
    )


def q_pentagram_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's PUBLISHED configuration (r17 wave 2): order-5
    Kneser-Ney via the generalized-order implementation
    (llm_ops/ngram_kn.py) — four lag windows, the 5-gram type table,
    TRUE continuation counts derived level-by-level down to the
    continuation-unigram base, per-order quantized Ney discounts,
    escape-accumulating backoff. Ref-split 80/20 like the other KN
    pairs so the SQL replay (kn_perplexity_sql(order=5)) drives the
    full escape chain, not just the top-order hit leg. The same
    engine and the same replay serve the order-2/3 KN pairs.
    PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    return NK.kn_perplexity(docs, ref=docs.filter(KN_REF_FILTER), order=5)


# KenLM-style count-threshold pruning (r17 wave 3): orders 3 and 4
# keep only n-grams with count >= 2 — the knob that makes a
# high-order model DEPLOYABLE at 100 TB (the singleton mass IS most
# of a crawl's type table). Order 4 so the pair exercises the
# generalized implementation at an order neither specialized form
# covers, with BOTH new branch families live: pruned-hit -> escape
# and all-continuations-pruned contexts (escape weight 1).
KN_PRUNE = {3: 2, 4: 2}


def q_kn_pruned_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-4 Kneser-Ney with KenLM count-threshold pruning (r17
    wave 3): discounts/continuation counts/context totals from the
    FULL type tables (the KenLM order of operations), hits joined
    against the threshold-filtered tables, and each context's escape
    weight absorbing the dropped mass EXACTLY —
    esc_num = (ctx - sum_kept)*256 + n_kept*D, an integer identity
    pinned by a Fraction pytest. Ref-split 80/20 like the other KN
    pairs; the SQL replay regenerates the kcnt CTEs and the
    renormalized escape numerator. PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    return NK.kn_perplexity(
        docs, ref=docs.filter(KN_REF_FILTER), order=4, prune=KN_PRUNE
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (r17 wave 3): per
    LANGUAGE, the lowest-perplexity third of documents is head, the
    next middle, the rest tail — the partition downstream mixtures
    sample by. 100 TB shape: terciles are assigned to distinct
    4-decimal SCORE KEYS (bounded by resolution, never corpus size)
    via per-language running totals, then broadcast-joined back — no
    global sort of corpus rows; tied documents move as one group
    (bucket where their key begins). NULL-ppl docs get NULL bucket.
    PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    scored = NL.bigram_perplexity(docs)
    withlang = scored.join(docs.select("doc_id", "lang"), "doc_id")
    return NL.perplexity_buckets(withlang)


def q_trigram_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Kneser-Ney at trigram order (r17): absolute discount per
    order with CONTINUATION counts at the middle and base orders
    (cc2(v,w) = distinct trigram contexts, the published KN
    structure), every lower-order table derived from the c3 TYPE
    table (ngram_lm.trigram_perplexity(smoothing="kn"), which runs
    ngram_kn at order 3; oracle: kn_perplexity_sql(order=3)).
    Ref-split like the bigram KN pair so all six escape branches
    score real rows. PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    return NL.trigram_perplexity(
        docs, ref=docs.filter(KN_REF_FILTER), smoothing="kn"
    )


# ---------------------------------------------------------------- repetition quality
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction and top-2/3-gram occupancy — the repeated-phrase quality
    filters. One explode of tagged (n, gram) rows, two hash aggs."""
    return T.repetition_features(_t(spark, sf_dir, "documents"))


ORACLE_TEXT_REPETITION = """
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), word_stats AS (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
           ROUND(CASE WHEN len(w) > 0
                      THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                      ELSE 0.0 END, 4) AS dup_word_frac
    FROM words
), grams AS (
    SELECT doc_id, 2 AS n, array_to_string(w[i+1:i+2], ' ') AS gram
    FROM words, unnest(range(greatest(len(w) - 1, 0))) AS r(i)
    UNION ALL
    SELECT doc_id, 3 AS n, array_to_string(w[i+1:i+3], ' ') AS gram
    FROM words, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), counts AS (
    SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3
), per_n AS (
    SELECT doc_id, n, CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS frac
    FROM counts GROUP BY 1, 2
), fracs AS (
    SELECT doc_id,
           ROUND(COALESCE(MAX(CASE WHEN n = 2 THEN frac END), 0.0), 4) AS top_bigram_frac,
           ROUND(COALESCE(MAX(CASE WHEN n = 3 THEN frac END), 0.0), 4) AS top_trigram_frac
    FROM per_n GROUP BY 1
)
SELECT s.doc_id, s.n_words, s.dup_word_frac,
       COALESCE(f.top_bigram_frac, 0.0) AS top_bigram_frac,
       COALESCE(f.top_trigram_frac, 0.0) AS top_trigram_frac
FROM word_stats s LEFT JOIN fracs f USING (doc_id)
"""


# ---------------------------------------------------------------- decontamination
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: the content-stable hash split carves
    train (80%) and test (10%) from the documents table, then every
    train doc sharing a distinct word 3-gram with any test doc is
    flagged with its shared-gram and eval-doc counts. Posting-list
    equi-join on the gram — the eval side broadcasts at scale.
    (Production uses 8-13-grams; the fixture docs are short, so n=3
    exercises the same plan with non-empty output.)"""
    docs = C.hash_split(_t(spark, sf_dir, "documents"))
    train = docs.filter(F.col("split") == "train").drop("split")
    ev = docs.filter(F.col("split") == "test").drop("split")
    return DC.contamination_hits(train, ev, n=3)


ORACLE_DECONTAMINATE = """
WITH split AS (
    SELECT doc_id, text,
           ('0x' || substring(md5('split' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
    FROM documents
), words_tr AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM split WHERE bk < 80
), sh_tr AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words_tr, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), words_ev AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM split WHERE bk >= 90
), sh_ev AS (
    SELECT DISTINCT doc_id AS eval_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM words_ev, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
)
SELECT t.doc_id,
       CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_shared_grams,
       CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
FROM sh_tr t JOIN sh_ev e ON t.shingle = e.shingle
GROUP BY 1
"""


# ---------------------------------------------------------------- sequence packing
def q_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: per-language token streams chopped
    into 512-token context windows, documents splitting across window
    boundaries into chunk rows — the pretraining-loader packing plan
    as one window prefix-sum + a bounded explode."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    return C.pack_sequences(docs, seq_len=512)


ORACLE_PACK_PLAN = """
WITH toks AS (
    SELECT lang, doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
), spans AS (
    SELECT lang, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
    FROM toks
), chunks AS (
    SELECT lang, doc_id, n_tokens, e - n_tokens AS s, e,
           unnest(range((e - n_tokens) // 512, (e - 1) // 512 + 1)) AS seq_id
    FROM spans WHERE n_tokens > 0
)
SELECT lang, doc_id,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(s, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_offset,
       CAST(greatest(s, seq_id * 512) - s AS BIGINT) AS doc_offset,
       CAST(least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS BIGINT) AS n_tokens_in_seq
FROM chunks
"""


# ---------------------------------------------------------------- PII scrubbing
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction, differentially checked: deterministic synthetic
    PII (closed-form email/phone/IPv4 from the doc id) is appended to
    every document, then scrub_pii counts and redacts each kind with
    pure regexp expressions. The oracle rebuilds the same augmented
    text and replays the same RE2/Java-common patterns — one
    divergent redaction byte and the clean-text md5 diverges."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            # round-5 widened phone shapes: parenthesized area code and
            # +1 prefix with space separators
            F.lit(" call ("),
            (F.col("doc_id") % 800 + 100).cast("string"),
            F.lit(") "),
            (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-"),
            ((F.col("doc_id") * 3) % 9000 + 1000).cast("string"),
            F.lit(" or +1 "),
            (F.col("doc_id") % 700 + 200).cast("string"),
            F.lit(" "),
            ((F.col("doc_id") * 11) % 900 + 100).cast("string"),
            F.lit(" "),
            ((F.col("doc_id") * 13) % 9000 + 1000).cast("string"),
            # round-6 widened classes: +1( glued prefix (the ADVICE
            # recall gap), SSN, 16-digit card
            F.lit(" txt +1("),
            (F.col("doc_id") % 600 + 200).cast("string"),
            F.lit(") "),
            ((F.col("doc_id") * 5) % 900 + 100).cast("string"),
            F.lit("-"),
            ((F.col("doc_id") * 17) % 9000 + 1000).cast("string"),
            F.lit(" ssn "),
            (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-"),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit("-"),
            ((F.col("doc_id") * 19) % 9000 + 1000).cast("string"),
            F.lit(" card "),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
            F.lit("-"),
            ((F.col("doc_id") * 3) % 9000 + 1000).cast("string"),
            F.lit("-"),
            ((F.col("doc_id") * 7) % 9000 + 1000).cast("string"),
            F.lit("-"),
            ((F.col("doc_id") * 9) % 9000 + 1000).cast("string"),
        ).alias("text"),
    )
    out = T.scrub_pii(aug)
    return out.select(
        "doc_id", "n_emails", "n_phones", "n_ssn", "n_cards", "n_ipv4",
        F.md5(F.col("text_clean").cast("binary")).alias("clean_fp"),
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = (
    "(?:\\+1[-. ]?)?(?:\\(\\d{3}\\)[-. ]?|\\b\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b"
)
_PII_SSN = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
_PII_CARD = "\\b\\d{4}[-. ]\\d{4}[-. ]\\d{4}[-. ]\\d{4}\\b"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
# orphan-domain tail (counts/redacts as email) — see llm_ops/text.py
_PII_EMAIL_TAIL = "@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
# r8 single-heavy-scan replay: each main class in ONE capturing group
# (email_tail is NOT here — it replays as the residue second pass),
# matches rewritten to class-tagged sentinel blocks
#   \x01E<email>\x02P<phone>\x02S<ssn>\x02C<card>\x02I<ipv4>\x03
# (RE2 substitutes '' for non-participating groups, same as Java),
# then literal-anchored cheap scans count and rebuild.
_PII_CAPTURE = "|".join(
    f"({p})" for p in (_PII_EMAIL, _PII_PHONE, _PII_SSN, _PII_CARD, _PII_IPV4)
)
_S1, _S2, _S3 = "\x01", "\x02", "\x03"
_PII_DUCK_REPL = f"{_S1}E\\1{_S2}P\\2{_S2}S\\3{_S2}C\\4{_S2}I\\5{_S3}"
_PII_CLS_ORDER = [
    ("E", "<EMAIL>"), ("P", "<PHONE>"), ("S", "<SSN>"),
    ("C", "<CARD>"), ("I", "<IPV4>"),
]


def _pii_block_pat(cls: str) -> str:
    spans = "".join(
        (f"{c}[^{_S2}{_S3}]+" if c == cls else c) + (_S3 if c == "I" else _S2)
        for c, _ in _PII_CLS_ORDER
    )
    return f"{_S1}{spans}"


def _pii_count_pat(cls: str) -> str:
    lead = _S1 if cls == "E" else _S2
    end = _S3 if cls == "I" else _S2
    return f"{lead}{cls}[^{end}]"


# nested 5-deep rebuild: sentinel blocks -> typed placeholders
_PII_RB_EXPR = "s"
for _cls, _ph in _PII_CLS_ORDER:
    _PII_RB_EXPR = (
        f"regexp_replace({_PII_RB_EXPR}, '{_pii_block_pat(_cls)}', '{_ph}', 'g')"
    )

ORACLE_PII_SCRUB = f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-'
                || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
                || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                || CAST((doc_id * 7) % 256 AS VARCHAR)
                || ' call (' || CAST(doc_id % 800 + 100 AS VARCHAR) || ') '
                || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
                || CAST((doc_id * 3) % 9000 + 1000 AS VARCHAR)
                || ' or +1 ' || CAST(doc_id % 700 + 200 AS VARCHAR) || ' '
                || CAST((doc_id * 11) % 900 + 100 AS VARCHAR) || ' '
                || CAST((doc_id * 13) % 9000 + 1000 AS VARCHAR)
                || ' txt +1(' || CAST(doc_id % 600 + 200 AS VARCHAR) || ') '
                || CAST((doc_id * 5) % 900 + 100 AS VARCHAR) || '-'
                || CAST((doc_id * 17) % 9000 + 1000 AS VARCHAR)
                || ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
                || CAST(doc_id % 90 + 10 AS VARCHAR) || '-'
                || CAST((doc_id * 19) % 9000 + 1000 AS VARCHAR)
                || ' card ' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || '-'
                || CAST((doc_id * 3) % 9000 + 1000 AS VARCHAR) || '-'
                || CAST((doc_id * 7) % 9000 + 1000 AS VARCHAR) || '-'
                || CAST((doc_id * 9) % 9000 + 1000 AS VARCHAR) AS t
    FROM documents
)
-- single-heavy-scan replay, mirroring scrub_pii's r8 design: strip
-- working sentinels, ONE capturing regexp_replace rewrites every
-- match into a class-tagged sentinel block (leftmost-first in both
-- RE2 and Java, '' for non-participating groups), then literal-
-- anchored cheap scans count per class and rebuild the placeholders
-- — then the email_tail residue pass over the REBUILT text (counts
-- and redacts as an email)
, sent AS (
    SELECT doc_id,
           regexp_replace(
               translate(t, chr(1) || chr(2) || chr(3), ''),
               '{_PII_CAPTURE}', '{_PII_DUCK_REPL}', 'g') AS s
    FROM aug
), rebuilt AS (
    SELECT doc_id, s, {_PII_RB_EXPR} AS rb
    FROM sent
)
SELECT doc_id,
       CAST(len(regexp_extract_all(s, '{_pii_count_pat("E")}'))
            + len(regexp_extract_all(rb, '{_PII_EMAIL_TAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(s, '{_pii_count_pat("P")}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(s, '{_pii_count_pat("S")}')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(s, '{_pii_count_pat("C")}')) AS BIGINT) AS n_cards,
       CAST(len(regexp_extract_all(s, '{_pii_count_pat("I")}')) AS BIGINT) AS n_ipv4,
       md5(regexp_replace(rb, '{_PII_EMAIL_TAIL}', '<EMAIL>', 'g')) AS clean_fp
FROM rebuilt
"""


# ---------------------------------------------------------------- stratified sampling
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable stratified sampling: per-language keep
    fractions via seeded hash buckets (no RNG — membership is a pure
    function of the id, so the oracle replays the exact sample).
    Returns per-language kept counts + token totals; zh has no
    configured fraction and must vanish."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    samp = C.stratified_sample(
        docs, {"en": 0.5, "es": 0.25, "de": 1.0, "fr": 0.1}, strata_col="lang"
    )
    return samp.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.whitespace_token_count("text")).cast("long").alias("total_tokens"),
    )


ORACLE_STRATIFIED_SAMPLE = """
WITH b AS (
    SELECT lang, text,
           ('0x' || substring(md5('sample' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bk
    FROM documents
), kept AS (
    SELECT lang, text FROM b
    WHERE bk < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
                         WHEN 'de' THEN 10000 WHEN 'fr' THEN 1000 ELSE 0 END
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens
FROM kept GROUP BY 1
"""


# ---------------------------------------------------------------- multimodal A/V decode
def q_multimodal_av_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio/video container-metadata decode, differentially
    checked: for every document id, synth_av_corpus emits spec-valid
    WAV (even ids) / MP4 (odd ids) container bytes with closed-form
    metadata, and decode_av_headers parses sample_rate/channels/
    duration/dimensions back OUT of the raw bytes in pure Python
    (RIFF chunk walk / ISO-BMFF box walk). The oracle recomputes
    every field from the id formulas alone — one misread header
    byte and the hash diverges."""
    docs = _t(spark, sf_dir, "documents")
    media = M.synth_av_corpus(docs, id_col="doc_id")
    return M.decode_av_headers(media)


ORACLE_MULTIMODAL_AV_META = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN 44 + (doc_id % 100 + 50) * (CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END) * 2
                 ELSE 288 END AS BIGINT) AS n_bytes,
       CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 5) * 4000 END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 0 THEN CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END END AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN (doc_id % 100 + 50) * 1000 // (8000 + (doc_id % 5) * 4000)
                 ELSE doc_id % 5000 + 100 END AS BIGINT) AS duration_ms,
       CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 640 + 16 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id * 3) % 480 + 16 END AS INTEGER) AS height,
       CASE WHEN doc_id % 2 = 0 THEN 'pcm'
            ELSE list_extract(['avc1', 'hev1', 'mp4a', 'vp09'],
                              CAST((doc_id // 2) % 4 AS INTEGER) + 1)
       END AS codec
FROM documents
"""


# ---------------------------------------------------------------- RAG chunking
def q_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval chunking (32-token windows, 8-token
    overlap): one row per chunk with its offset arithmetic and an
    md5 of the reassembled chunk text — the full chunk content is
    hash-gated without shipping it through the compare."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    ch = C.chunk_docs(docs, chunk_tokens=32, overlap_tokens=8)
    return ch.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


# stride = 32 - 8 = 24; n_chunks = greatest(1, ceil((n - 8) / 24))
ORACLE_CHUNK_PLAN = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
), n AS (
    SELECT doc_id, toks,
           GREATEST(1, (len(toks) - 8 + 24 - 1) // 24) AS n_chunks
    FROM t
), e AS (
    SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM n
)
SELECT doc_id, chunk_id,
       CAST(chunk_id * 24 AS BIGINT) AS start_tok,
       CAST(len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT)
           AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' '))
           AS chunk_md5
FROM e
"""


# ---------------------------------------------------------------- source reputation
def q_source_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reputation gate: a source survives iff >= 55% of its
    documents pass the page policy (here: >= 50 whitespace tokens) —
    exact integer verdict arithmetic, broadcast semi-join back.
    Output: per surviving source, doc + token totals."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    d = docs.withColumn("n_tokens", T.whitespace_token_count("text").cast("long"))
    d = d.withColumn("pass", F.col("n_tokens") >= 50)
    kept = C.source_reputation_filter(d, "pass", min_pass_pct=55)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


ORACLE_SOURCE_FILTER = """
WITH t AS (
    SELECT source,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                AS BIGINT) AS n_tokens
    FROM documents
), rep AS (
    SELECT source, COUNT(*) AS n_docs,
           SUM(CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END) AS n_pass
    FROM t GROUP BY source
), keep AS (
    SELECT source FROM rep WHERE n_pass * 100 >= 55 * n_docs AND n_docs >= 1
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM t WHERE source IN (SELECT source FROM keep)
GROUP BY source
"""


# ---------------------------------------------------------------- embedding: PQ ANN
def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 with a FULL oracle: the m=4 ×
    16-centroid codebook build is m independent deterministic Lloyd's
    runs (quantized integers, seeded hash init — similarity.pq_index,
    the same discipline as embedding_ivf), and the ADC distances are
    exact BIGINT sums — so DuckDB replays build, encode, lookup-table
    and ranking bit-for-bit, floats nowhere."""
    emb = _t(spark, sf_dir, "embeddings")
    codes, cb = S.pq_index(emb, m=4, n_clusters=16, n_iter=2, seed=42)
    return S.pq_topk_adc(codes, cb, emb.filter(F.col("vec_id") < 20), m=4, k=5)


def _pq_build_ctes(m: int = 4, n_clusters: int = 16, n_iter: int = 2,
                   seed: int = 42, p: str = "", vq_body: str | None = None) -> str:
    """DuckDB CTE chain replaying similarity.pq_index exactly: it is
    _ivf_build_ctes with `sub` added to every key — quantize, slice
    into m subvectors (trailing dims to the last), seeded hash init
    per (vec, sub), then n_iter × (integer mean, exact integer
    squared-L2 argmin per subspace). ``vq_body`` overrides the
    quantized-vector CTE (the OPQ oracle feeds a ROTATED vq —
    element-wise quantization commutes with the permutation, so
    permuting the quantized components replays Spark's
    rotate-floats-then-quantize exactly)."""
    s = S.KMEANS_SCALE
    default_vq = f"""SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {s} + 0.5) AS BIGINT)) AS vq
    FROM embeddings"""
    ctes = [
        f"""{p}vq AS (
    {vq_body or default_vq}
)""",
        f"""{p}sv AS (
    SELECT vec_id, s.sub,
           list_slice(vq, s.sub * ds + 1,
                      CASE WHEN s.sub = {m - 1} THEN n ELSE (s.sub + 1) * ds END) AS svq
    FROM (SELECT vec_id, vq, len(vq) AS n, len(vq) // {m} AS ds FROM {p}vq),
         unnest(range({m})) AS s(sub)
)""",
        f"""{p}assign0 AS (
    SELECT vec_id, sub,
           CAST(('0x' || substring(md5('pq{seed}' || chr(31) || CAST(vec_id AS VARCHAR)
                || chr(31) || CAST(sub AS VARCHAR)), 1, 15))::BIGINT % {n_clusters}
                AS INTEGER) AS cluster
    FROM {p}sv
)""",
    ]
    prev = f"{p}assign0"
    for t in range(1, n_iter + 1):
        ctes.append(f"""{p}cent{t}_long AS (
    SELECT sub, cluster, j,
           CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS cq
    FROM (
        SELECT a.sub, a.cluster, r.j, v.svq[r.j + 1] AS val
        FROM {prev} a JOIN {p}sv v USING (vec_id, sub),
             unnest(range(len(v.svq))) AS r(j)
    ) GROUP BY sub, cluster, j
)""")
        ctes.append(f"""{p}cent{t} AS (
    SELECT sub, cluster, array_agg(cq ORDER BY j) AS cq_arr
    FROM {p}cent{t}_long GROUP BY sub, cluster
)""")
        ctes.append(f"""{p}dist{t} AS (
    SELECT v.vec_id, v.sub, c.cluster,
           (SELECT SUM((a - b) * (a - b))
            FROM (SELECT unnest(v.svq) AS a, unnest(c.cq_arr) AS b) z) AS dist
    FROM {p}sv v JOIN {p}cent{t} c ON v.sub = c.sub
)""")
        ctes.append(f"""{p}assign{t} AS (
    SELECT vec_id, sub, cluster FROM (
        SELECT vec_id, sub, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist ASC, cluster ASC) AS rn
        FROM {p}dist{t}
    ) WHERE rn = 1
)""")
        prev = f"{p}assign{t}"
    ctes.append(f"{p}codes AS (SELECT vec_id, sub, cluster FROM {prev})")
    ctes.append(f"{p}codebook AS (SELECT sub, cluster, cq_arr FROM {p}cent{n_iter})")
    return ",\n".join(ctes)


ORACLE_EMBEDDING_PQ = f"""
WITH {_pq_build_ctes()}, qsub AS (
    SELECT vec_id AS qid, sub, svq FROM sv WHERE vec_id < 20
), lut AS (
    SELECT q.qid, q.sub, c.cluster,
           (SELECT SUM((a - b) * (a - b))
            FROM (SELECT unnest(q.svq) AS a, unnest(c.cq_arr) AS b) z) AS part
    FROM qsub q JOIN codebook c ON q.sub = c.sub
), scored AS (
    SELECT l.qid, a.vec_id AS nid, SUM(l.part) AS adc
    FROM codes a JOIN lut l ON a.sub = l.sub AND a.cluster = l.cluster
    WHERE a.vec_id <> l.qid
    GROUP BY l.qid, a.vec_id
), ranked AS (
    SELECT qid, nid, adc,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rank
    FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
       CAST(adc AS BIGINT) AS adc
FROM ranked WHERE rank <= 5
"""


def q_embedding_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15: PQ-ADC under the OPQ-style ENERGY-BALANCED permutation
    (similarity.pq_energy_balanced_perm — exact integer variance
    ranking, round-robin subspace allocation; the OPQ paper's
    eigenvalue-allocation idea without the PCA). Every stage stays
    integer-exact — the variance scores are n·Σx²−(Σx)² over the
    quantized components, the permutation is pure element reorder,
    and the rotated build/search is the embedding_pq machinery — so
    DuckDB replays dim ranking, allocation, rotation, codebook build,
    and ADC ranking bit-for-bit. Recall impact measured in
    tests/test_embed.py::test_pq_opq_rotation_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    rot = S.pq_energy_balanced_perm(emb, m=4)
    codes, cb = S.pq_index(
        emb, m=4, n_clusters=16, n_iter=2, seed=42, rotation=rot
    )
    return S.pq_topk_adc(
        codes, cb, emb.filter(F.col("vec_id") < 20), m=4, k=5, rotation=rot
    )


# the energy-balanced permutation replayed in SQL: exact integer
# variance rank (ties by dim asc), round-robin over m=4 subspaces of
# 16 dims each (dim 64 divides evenly, so capacities are equal and
# the allocation is rank % m, slot rank // m), then the standard PQ
# build over the ROTATED quantized vectors (quantization is
# element-wise, so it commutes with the permutation).
_OPQ_ROTATED_VQ = f"""SELECT v.vec_id,
           array_agg(v.vq[p.src + 1]
                     ORDER BY (p.rnk % 4) * 16 + (p.rnk // 4)) AS vq
    FROM rawvq v, permmap p
    GROUP BY v.vec_id"""

ORACLE_EMBEDDING_OPQ = f"""
WITH rawvq AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {S.KMEANS_SCALE} + 0.5) AS BIGINT)) AS vq
    FROM embeddings
), dimstats AS (
    SELECT r.j AS j, COUNT(*) AS n,
           SUM(v.vq[r.j + 1]) AS s,
           SUM(v.vq[r.j + 1] * v.vq[r.j + 1]) AS ss
    FROM rawvq v, unnest(range(len(v.vq))) AS r(j)
    GROUP BY r.j
), permmap AS (
    SELECT j AS src,
           ROW_NUMBER() OVER (ORDER BY (n * ss - s * s) DESC, j ASC) - 1 AS rnk
    FROM dimstats
), {_pq_build_ctes(vq_body=_OPQ_ROTATED_VQ)}, qsub AS (
    SELECT vec_id AS qid, sub, svq FROM sv WHERE vec_id < 20
), lut AS (
    SELECT q.qid, q.sub, c.cluster,
           (SELECT SUM((a - b) * (a - b))
            FROM (SELECT unnest(q.svq) AS a, unnest(c.cq_arr) AS b) z) AS part
    FROM qsub q JOIN codebook c ON q.sub = c.sub
), scored AS (
    SELECT l.qid, a.vec_id AS nid, SUM(l.part) AS adc
    FROM codes a JOIN lut l ON a.sub = l.sub AND a.cluster = l.cluster
    WHERE a.vec_id <> l.qid
    GROUP BY l.qid, a.vec_id
), ranked AS (
    SELECT qid, nid, adc,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rank
    FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
       CAST(adc AS BIGINT) AS adc
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------- BPE encode
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE merge application, differentially checked end to end:
    a 20-rule merge table is DERIVED from the corpus itself (top-20
    character bigrams over lowercase-alpha word occurrences,
    deterministic (count desc, bigram asc) tiebreak), then
    llm_ops.bpe.bpe_encode applies it — per-word classic-step rounds
    over (word, pos, sym) state (each round merges every word's
    lowest-ranked present pair; the superseded parallel local-minimum
    rule was falsified by hypothesis, see bpe.py). The oracle
    re-derives the same rules and replays them rank-by-rank to
    fixpoint over separator-encoded words in a recursive CTE, which
    equals the classic lowest-rank-first algorithm because every
    rule's symbols are single characters (a valid merge list: no rule
    can newly create a char-char adjacency). Output is hash-gated per
    document: token count + md5 of the \\x01-joined token stream in
    word order. Multi-LEVEL merge rules are exercised by the pytest
    classic-reference replay (tests/test_llm_ops.py::test_bpe_*)."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda t: (t != "") & (F.length(t) <= 64),
            )
        ).alias("word")
    )
    bigrams = words.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("b")
    )
    top = (
        bigrams.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("b").asc())
        .limit(20)
    )
    merges = top.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("b").asc())),
    ).select(
        F.substring("b", 1, 1).alias("left"),
        F.substring("b", 2, 1).alias("right"),
        "rank",
    )
    out = BPE.bpe_encode(docs, merges, max_word_len=64)
    return out.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.array_join("tokens", "\x01").cast("binary")).alias("tokens_fp"),
    )


ORACLE_BPE_ENCODE = r"""
WITH RECURSIVE w AS (
    SELECT doc_id, unnest(l) AS word, unnest(range(len(l))) AS wpos
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             x -> x <> '' AND len(x) <= 64) AS l
          FROM documents)
), bg AS (
    SELECT unnest(list_transform(range(1, len(word)),
                                 i -> substring(word, i, 2))) AS b
    FROM w WHERE len(word) >= 2
), merges AS (
    SELECT b, row_number() OVER (ORDER BY count(*) DESC, b ASC) AS rank
    FROM bg GROUP BY b ORDER BY count(*) DESC, b ASC LIMIT 20
), rules AS (
    SELECT rank - 1 AS idx,
           '\|' || substring(b, 1, 1) || '\|' || substring(b, 2, 1) || '\|' AS pat,
           '|' || b || '|' AS rep
    FROM merges
), dw AS (SELECT DISTINCT word FROM w
), enc0 AS (
    -- '|'-separated symbol encoding: 'the' -> '|t|h|e|'
    SELECT word, '|' || regexp_replace(word, '(.)', '\1|', 'g') AS s FROM dw
), apply AS (
    -- rank-by-rank fixpoint, ONE LEFTMOST replacement per step (no
    -- 'g': a global pass consumes the '|' shared between adjacent
    -- same-char pairs and mis-groups runs of 5+ — 'aaaaa' must be
    -- aa,aa,a, not aa,a,aa; repeated leftmost-single replacement is
    -- exactly classic greedy non-overlapping order), then move to
    -- the next rule; equals classic BPE for a valid
    -- single-char-component list
    SELECT word, s, 0 AS ridx FROM enc0
    UNION ALL
    SELECT a.word,
           regexp_replace(a.s, r.pat, r.rep) AS s,
           CASE WHEN regexp_replace(a.s, r.pat, r.rep) = a.s
                THEN a.ridx + 1 ELSE a.ridx END AS ridx
    FROM apply a JOIN rules r ON r.idx = a.ridx
), toks AS (
    SELECT word, list_filter(string_split(s, '|'), x -> x <> '') AS tokens
    FROM apply WHERE ridx = (SELECT count(*) FROM rules)
)
SELECT d.doc_id AS doc_id,
       CAST(coalesce(sum(len(wt.tokens)), 0) AS BIGINT) AS n_tokens,
       md5(coalesce(string_agg(list_aggregate(wt.tokens, 'string_agg', chr(1)),
                               chr(1) ORDER BY wt.wpos), '')) AS tokens_fp
FROM documents d
LEFT JOIN (SELECT w.doc_id, w.wpos, t.tokens
           FROM w JOIN toks t USING (word)) wt
  ON wt.doc_id = d.doc_id
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------- HTML→text
# Deterministic synthetic pages wrapped around each document's text:
# script + style elements, comments (closed everywhere, UNCLOSED on
# every 3rd page — which per the HTML spec swallows the rest of the
# page including its tail marker), block/inline tags, and the curated
# entity set (incl. the &amp;lt; one-level-decode case). Both engines
# build the SAME page string and both run the SAME step list —
# html.STEPS compiled by html_to_text (Spark) and html_text_sql
# (DuckDB) — so any engine-semantics drift in the shared regex
# dialect breaks the hash gate.
_HTML_PAGE_HEAD = (
    '<html><head><title>Doc &amp; friends</title>'
    '<script type="text/javascript">var x = 1 < 2 && "</div>";</script>'
    "<style>p { color: red; }</style></head><body><!-- nav boilerplate -->"
    "<h1>Heading</h1><p>"
)
_HTML_PAGE_MID = (
    "</p><ul><li>Tom &amp; Jerry</li>"
    "<li>&ldquo;quotes&rdquo;&nbsp;&#8212;&nbsp;dash</li></ul>"
)
_HTML_TAIL_OPEN = "<!-- unclosed comment <b>eats the tail</b> TAILMARK"
_HTML_TAIL_DIV = "<DIV CLASS='t'>tail  text</DIV> TAILMARK"
_HTML_PAGE_FOOT = "</body></html>"


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_ops.html.html_to_text over synthetic tag-heavy pages built
    from the documents table — hash-gated on the extracted prose
    (length + md5), so tag stripping, entity decoding, unclosed-
    comment swallowing and whitespace collapse must all match the
    DuckDB replay of the same html.STEPS byte for byte."""
    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(_HTML_PAGE_HEAD),
        F.col("text"),
        F.lit(_HTML_PAGE_MID),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HTML_TAIL_OPEN)).otherwise(
            F.lit(_HTML_TAIL_DIV)
        ),
        F.lit(_HTML_PAGE_FOOT),
    )
    extracted = H.html_to_text(page)
    return docs.select(
        "doc_id",
        F.length(extracted).cast("long").alias("n_chars"),
        F.md5(extracted.cast("binary")).alias("text_fp"),
    )


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


ORACLE_HTML_TEXT = f"""
WITH page AS (
    SELECT doc_id,
           {_sql_lit(_HTML_PAGE_HEAD)} || text || {_sql_lit(_HTML_PAGE_MID)}
           || CASE WHEN doc_id % 3 = 0 THEN {_sql_lit(_HTML_TAIL_OPEN)}
                   ELSE {_sql_lit(_HTML_TAIL_DIV)} END
           || {_sql_lit(_HTML_PAGE_FOOT)} AS t
    FROM documents
), x AS (
    SELECT doc_id, {H.html_text_sql('t')} AS e FROM page
)
SELECT doc_id, CAST(length(e) AS BIGINT) AS n_chars, md5(e) AS text_fp
FROM x
"""


# ------------------------------------------------------------ URL normalize
# Deterministic synthetic capture URLs exercising every contract
# clause: case-folded scheme/host, www. strip, default vs real
# ports, tracking-param removal, param sort, fragment drop,
# trailing-slash fold, non-URL passthrough.
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_ops.urls.normalize_url over synthetic per-document capture
    URLs — compared VERBATIM (no hash) against the DuckDB replay of
    the same step chain (normalize_url_sql)."""
    from ..llm_ops import urls as U

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS://WWW.Docs.Example:443"))
        .when(F.col("doc_id") % 5 == 1, F.lit("http://docs.example:80"))
        .when(F.col("doc_id") % 5 == 2, F.lit("http://Mirror.Example:8080"))
        .when(F.col("doc_id") % 5 == 3, F.lit("https://cdn.example"))
        .otherwise(F.lit("not a url at all ")),
        F.lit("/Folder/page-"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z=9&ref=home&a=1&gclid=x&b="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("#section-3"),
    )
    return docs.select(
        "doc_id", U.normalize_url(raw).alias("url_norm")
    )


def _url_normalize_oracle() -> str:
    from ..llm_ops import urls as U

    raw = (
        "CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://WWW.Docs.Example:443' "
        "WHEN doc_id % 5 = 1 THEN 'http://docs.example:80' "
        "WHEN doc_id % 5 = 2 THEN 'http://Mirror.Example:8080' "
        "WHEN doc_id % 5 = 3 THEN 'https://cdn.example' "
        "ELSE 'not a url at all ' END || '/Folder/page-' || "
        "CAST(doc_id % 40 AS VARCHAR) || "
        "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END || "
        "'?utm_source=feed&z=9&ref=home&a=1&gclid=x&b=' || "
        "CAST(doc_id % 7 AS VARCHAR) || '#section-3'"
    )
    return (
        "SELECT doc_id, "
        + U.normalize_url_sql(f"({raw})")
        + " AS url_norm FROM documents"
    )


# ------------------------------------------------------------- Gopher rules
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_ops.text.gopher_features + gopher_pass (the published
    Gopher §A1.1 heuristics) over documents ENRICHED with
    deterministic noise so every rule fires on some rows: every 4th
    doc gets bullet lines prepended, every 5th an ellipsis line,
    every 7th a '#'-symbol burst, every 9th is truncated to its
    first 8 words (word-count floor). Ratios rounded to 4 places for
    the hash gate; the pass flag is computed on UNROUNDED features
    in both engines."""
    from ..llm_ops import text as TX

    docs = _t(spark, sf_dir, "documents")
    noisy = F.concat(
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("• first bullet\n- second bullet\n* third\n"),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("to be continued...\n")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("### ## # tags # \n")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " "),
        ).otherwise(F.col("text")),
    )
    feats = TX.gopher_features(
        docs.select("doc_id", noisy.alias("text")), text_col="text"
    )
    return feats.select(
        "doc_id",
        "g_n_words",
        r4(F.col("g_mean_word_len")).alias("mean_word_len"),
        r4(F.col("g_symbol_ratio")).alias("symbol_ratio"),
        r4(F.col("g_bullet_line_frac")).alias("bullet_line_frac"),
        r4(F.col("g_ellipsis_line_frac")).alias("ellipsis_line_frac"),
        r4(F.col("g_alpha_word_frac")).alias("alpha_word_frac"),
        "g_stopword_hits",
        TX.gopher_pass(min_words=20).alias("g_pass"),
    )


def _gopher_oracle() -> str:
    from ..llm_ops.text import GOPHER_BULLETS, GOPHER_REQUIRED_STOPWORDS

    bullets = ", ".join(f"'{b}'" for b in GOPHER_BULLETS)
    hits = _sql_hits(GOPHER_REQUIRED_STOPWORDS).replace(
        "coalesce(text, '')", "coalesce(t, '')"
    )
    return f"""
WITH noisy AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN '• first bullet' || chr(10) || '- second bullet' || chr(10) || '* third' || chr(10)
                ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN 'to be continued...' || chr(10) ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN '### ## # tags # ' || chr(10) ELSE '' END
           || CASE WHEN doc_id % 9 = 0
                   THEN array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
                   ELSE text END AS t
    FROM documents
), f AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(t, '\\s+'), w -> w <> '')) AS n_words,
           length(regexp_replace(t, '\\s+', '', 'g')) AS n_nospace,
           (length(t) - length(replace(t, '#', ''))) + (length(t) - length(replace(t, '…', ''))) + (length(t) - length(replace(t, '...', ''))) / 3 AS n_sym,
           list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)), l -> l <> '') AS lines,
           len(list_filter(list_filter(regexp_split_to_array(t, '\\s+'), w -> w <> ''), w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
           {hits} AS hits
    FROM noisy
), g AS (
    SELECT doc_id, n_words,
           CAST(n_nospace AS DOUBLE) / greatest(n_words, 1) AS mwl,
           CAST(n_sym AS DOUBLE) / greatest(n_words, 1) AS sym,
           CAST(len(list_filter(lines, l -> substring(l, 1, 1) IN ({bullets}))) AS DOUBLE) / greatest(len(lines), 1) AS bullet,
           CAST(len(list_filter(lines, l -> ends_with(l, '…') OR ends_with(l, '...'))) AS DOUBLE) / greatest(len(lines), 1) AS ellip,
           CAST(n_alpha AS DOUBLE) / greatest(n_words, 1) AS alpha,
           hits
    FROM f
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS g_n_words,
       round(mwl, 4) AS mean_word_len,
       round(sym, 4) AS symbol_ratio,
       round(bullet, 4) AS bullet_line_frac,
       round(ellip, 4) AS ellipsis_line_frac,
       round(alpha, 4) AS alpha_word_frac,
       CAST(hits AS BIGINT) AS g_stopword_hits,
       (n_words BETWEEN 20 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        AND sym <= 0.1 AND bullet <= 0.9 AND ellip <= 0.3
        AND alpha >= 0.8 AND hits >= 2) AS g_pass
FROM g
"""


# ----------------------------------------------------- span-level dedup
_SPAN_BOILER = (
    "subscribe to our newsletter for updates and follow us on social media today"
)  # 13 words — injected into every 3rd doc so cross-doc spans exist
_SPAN_K = 5


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_ops.dedup.duplicate_spans + strip_duplicate_spans (the
    Lee et al. 2022 exact-substring dedup as posting-list + window
    ops) over documents with a fixed boilerplate sentence injected
    into every 3rd doc: per doc, total word count, number of maximal
    duplicated spans, words covered, and the word count of the
    stripped rebuild — clean_words is measured from the REBUILT
    STRING in Spark but computed arithmetically (total − covered) in
    the oracle, so the hash gate also proves the index-filtered text
    reconstruction drops exactly the covered words."""
    from ..llm_ops import dedup as D

    docs0 = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit(_SPAN_BOILER + " "), F.col("text")),
    ).otherwise(F.col("text"))
    docs = docs0.select("doc_id", injected.alias("text"))
    # the span frame feeds BOTH the stats agg and the strip's covered
    # set — materialize it once (localCheckpoint; tiny: one row per
    # span) so the gram posting pipeline runs once, not per consumer
    from ..llm_ops.materialize import materialize as _mat

    spans = _mat(D.duplicate_spans(docs, k=_SPAN_K, min_docs=2), None)
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("covered_words"),
    )
    cleaned = D.strip_duplicate_spans(docs, k=_SPAN_K, spans=spans)
    words = F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != "")
    clean_words = F.filter(F.split(F.col("clean_text"), "\\s+"), lambda t: t != "")
    return (
        cleaned.select(
            "doc_id",
            F.size(words).cast("long").alias("total_words"),
            F.size(clean_words).cast("long").alias("clean_words"),
        )
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "total_words",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("covered_words"), F.lit(0))
            .cast("long")
            .alias("covered_words"),
            "clean_words",
        )
    )


ORACLE_DEDUP_SPANS = f"""
WITH docs AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN '{_SPAN_BOILER} ' || text ELSE text END AS t
    FROM documents
), words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(t), '\\s+'), x -> x <> '') AS w
    FROM docs
), g AS (
    SELECT doc_id, i AS pos, array_to_string(w[i+1:i+{_SPAN_K}], ' ') AS gram
    FROM words, unnest(range(greatest(len(w) - {_SPAN_K - 1}, 0))) AS r(i)
), dup AS (
    SELECT gram FROM g GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
    SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {_SPAN_K}
                THEN 1 ELSE 0 END AS brk
    FROM hits
), sp AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS span_id
    FROM marked
), spans AS (
    SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {_SPAN_K - 1} AS e
    FROM sp GROUP BY 1, 2
), stats AS (
    SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS covered
    FROM spans GROUP BY 1
)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS total_words,
       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(st.covered, 0) AS BIGINT) AS covered_words,
       CAST(len(w.w) - coalesce(st.covered, 0) AS BIGINT) AS clean_words
FROM words w LEFT JOIN stats st USING (doc_id)
"""


# --------------------------------------------------- domain analytics
def _domain_host_col():
    """The synthetic per-doc crawl host (Spark side): multi-label
    hosts exercising the co.uk fold, deep subdomains, www runs and a
    single-label host."""
    return (
        F.when(F.col("doc_id") % 6 == 0, F.lit("WWW.News.Example.CO.UK"))
        .when(F.col("doc_id") % 6 == 1, F.lit("media.news.example.co.uk"))
        .when(F.col("doc_id") % 6 == 2, F.lit("www.www.blog.example.com"))
        .when(F.col("doc_id") % 6 == 3, F.lit("shop.example.com"))
        .when(F.col("doc_id") % 6 == 4, F.lit("spam.example"))
        .otherwise(F.lit("localhost"))
    )


_DOMAIN_HOST_SQL = (
    "CASE WHEN doc_id % 6 = 0 THEN 'WWW.News.Example.CO.UK' "
    "WHEN doc_id % 6 = 1 THEN 'media.news.example.co.uk' "
    "WHEN doc_id % 6 = 2 THEN 'www.www.blog.example.com' "
    "WHEN doc_id % 6 = 3 THEN 'shop.example.com' "
    "WHEN doc_id % 6 = 4 THEN 'spam.example' "
    "ELSE 'localhost' END"
)

_DOMAIN_BLOCKLIST = ("spam.example",)


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_ops.urls.domain_stats over synthetic crawl URLs: the
    registrable-domain fold (PSL two-label subset — co.uk takes three
    labels), distinct-host counting, n_chars weight sum, and the
    blocklist flag, all replayed in SQL."""
    from ..llm_ops import urls as U

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"),
        _domain_host_col(),
        F.lit("/p-"),
        (F.col("doc_id") % 10).cast("string"),
    )
    frame = docs.select("doc_id", url.alias("url"), "n_chars")
    return U.domain_stats(
        frame, "url", weight_col="n_chars", blocklist=list(_DOMAIN_BLOCKLIST)
    )


def _domain_stats_oracle() -> str:
    from ..llm_ops import urls as U

    url = f"'http://' || {_DOMAIN_HOST_SQL} || '/p-' || CAST(doc_id % 10 AS VARCHAR)"
    host = U.host_of_sql(f"({url})")
    # r13: the curated ~650-rule table — matches domain_stats'
    # default, which now routes through the broadcast-JOIN fold;
    # the oracle replays the same table as one grouped CASE (the
    # strategies are fuzz-pinned equivalent)
    dom = U.registrable_domain_sql(f"({host})", rules=U.PUBLIC_SUFFIX_CURATED)
    blocked = ", ".join(f"'{d}'" for d in _DOMAIN_BLOCKLIST)
    return f"""
WITH tagged AS (
    SELECT {dom} AS domain, {host} AS h, n_chars
    FROM documents
    WHERE {dom} IS NOT NULL
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hosts,
       CAST(SUM(n_chars) AS BIGINT) AS weight_sum,
       domain IN ({blocked}) AS blocked
FROM tagged GROUP BY domain
"""


# ----------------------------------------------- source mixture plan
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus.mixture_plan + apply_mixture (r11): the published
    temperature-weighted source-mixing rule (p_s ∝ n_s^alpha,
    alpha=0.5 — spelled sqrt in BOTH engines because IEEE sqrt is
    correctly rounded and pow is not) against a 100k-token budget,
    plus the content-stable hash applier's per-source kept count —
    so the oracle gates the plan arithmetic AND the downsampling
    membership rule."""
    docs = _t(spark, sf_dir, "documents", fan_out=False)
    d = docs.select(
        "doc_id",
        "source",
        T.whitespace_token_count("text").cast("long").alias("n_tokens"),
    )
    plan = C.mixture_plan(d, alpha=0.5, budget_tokens=100_000)
    kept = (
        C.apply_mixture(d, plan)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("kept_docs"))
    )
    return plan.join(kept, "source", "left").select(
        "source",
        "n_tokens",
        "weight",
        "target_tokens",
        "sample_rate",
        "epochs",
        F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias("kept_docs"),
    )


ORACLE_MIXTURE_PLAN = """
WITH d AS (
    SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                AS BIGINT) AS nt
    FROM documents
), s AS (
    SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM d GROUP BY 1
), w AS (
    SELECT source, n_tokens,
           ROUND(sqrt(CAST(n_tokens AS DOUBLE))
                 / SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS weight
    FROM s
), p AS (
    SELECT source, n_tokens, weight,
           CAST(ROUND(100000.0 * weight) AS BIGINT) AS target_tokens
    FROM w
), p2 AS (
    SELECT *,
           ROUND(LEAST(1.0, target_tokens / CAST(n_tokens AS DOUBLE)), 6) AS sample_rate,
           ROUND(target_tokens / CAST(n_tokens AS DOUBLE), 6) AS epochs
    FROM p
), kept AS (
    SELECT d.source, COUNT(*) AS kd
    FROM d JOIN p2 ON d.source = p2.source
    WHERE ('0x' || substring(md5('mixture' || chr(31) || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000
          < CAST(ROUND(p2.sample_rate * 1000000) AS BIGINT)
    GROUP BY 1
)
SELECT p2.source, p2.n_tokens, p2.weight, p2.target_tokens,
       p2.sample_rate, p2.epochs,
       CAST(coalesce(k.kd, 0) AS BIGINT) AS kept_docs
FROM p2 LEFT JOIN kept k ON p2.source = k.source
"""


# --------------------------------------------- model-based quality (r12)
# Distinctive spam vocabulary planted into the label-0 class; the
# phrase is doubled so the planted tokens dominate their buckets.
_NBQ_SPAM = (
    "click here free casino bonus winner jackpot lottery prize "
    "claim now unsubscribe instantly guaranteed"
)
_NBQ_BUCKETS = 256


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_model.nb_train + nb_score (r12 — the r11 verdict's #1
    capability gap): the hashed-n-gram Naive Bayes trained IN-ENGINE
    on a deterministic two-class corpus derived from the documents
    table (label 1 = the raw text, label 0 = the same text with a
    planted spam phrase appended twice), then both versions of every
    document scored with the learned weights. Everything — token
    hashing, Laplace counts, the fixed-point llog2 weights, the
    prior, the per-document evidence sums — is integer arithmetic,
    so the oracle replays TRAINING AND SCORING bit-for-bit (the
    bpe_encode recipe: derive the artifact from the corpus itself in
    both engines). ``separated`` records that the spam-ified version
    scores strictly below the clean version — the semantic claim the
    hash gate pins per document."""
    docs = _t(spark, sf_dir, "documents")
    spam_text = F.concat_ws(
        " ", F.col("text"), F.lit(_NBQ_SPAM), F.lit(_NBQ_SPAM)
    )
    labeled = docs.select(
        "doc_id", "text", F.lit(1).alias("label")
    ).unionByName(
        docs.select(
            "doc_id", spam_text.alias("text"), F.lit(0).alias("label")
        )
    )
    model = QM.nb_train(labeled, num_buckets=_NBQ_BUCKETS, salt="nbq")
    ham = QM.nb_score(
        docs.select("doc_id", "text"), model, out_col="nbq_score"
    ).select("doc_id", "nbq_score")
    spam = QM.nb_score(
        docs.select("doc_id", spam_text.alias("text")),
        model,
        out_col="nbq_spam_score",
    ).select("doc_id", "nbq_spam_score")
    return ham.join(spam, "doc_id").select(
        "doc_id",
        "nbq_score",
        "nbq_spam_score",
        (F.col("nbq_spam_score") < F.col("nbq_score")).alias("separated"),
    )


def _quality_classifier_oracle() -> str:
    """Full-replay oracle: training (counts → fixed-point llog2
    weights → prior) and scoring, rendered from the same constants
    and the shared :func:`llog2_sql`."""
    B = _NBQ_BUCKETS
    spam = _NBQ_SPAM
    bucket = (
        "('0x' || substring(md5('nbq' || chr(31) || t), 1, 15))::BIGINT"
        f" % {B}"
    )
    toks = (
        "unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),"
        " x -> x <> '')) AS t"
    )
    lg = QM.llog2_sql
    return f"""
WITH labeled AS (
    SELECT doc_id, text, 1 AS y FROM documents
    UNION ALL
    SELECT doc_id, text || ' {spam} {spam}' AS text, 0 AS y FROM documents
), tok AS (
    SELECT y, {toks} FROM labeled
), cnt AS (
    SELECT {bucket} AS bucket,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
    FROM tok GROUP BY 1
), dense AS (
    SELECT r.range AS bucket,
           CAST(coalesce(c.c1, 0) AS BIGINT) AS c1,
           CAST(coalesce(c.c0, 0) AS BIGINT) AS c0
    FROM range({B}) r LEFT JOIN cnt c ON c.bucket = r.range
), tot AS (
    SELECT CAST(SUM(c1) + {B} AS BIGINT) AS t1,
           CAST(SUM(c0) + {B} AS BIGINT) AS t0,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n1,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n0
    FROM dense
), w AS (
    SELECT bucket,
           ({lg('c1 + 1')} - {lg('t1')}) - ({lg('c0 + 1')} - {lg('t0')}) AS wt
    FROM dense CROSS JOIN tot
), prior AS (
    SELECT {lg('n1')} - {lg('n0')} AS p FROM tot
), dtok AS (
    SELECT doc_id, y, {toks} FROM labeled
), ds AS (
    SELECT h.doc_id, h.y, SUM(w.wt) AS s
    FROM (SELECT doc_id, y, {bucket} AS bucket FROM dtok) h
    JOIN w ON w.bucket = h.bucket
    GROUP BY 1, 2
)
SELECT d.doc_id AS doc_id,
       CAST(coalesce(sh.s, 0) + pr.p AS BIGINT) AS nbq_score,
       CAST(coalesce(ss.s, 0) + pr.p AS BIGINT) AS nbq_spam_score,
       (coalesce(ss.s, 0) + pr.p) < (coalesce(sh.s, 0) + pr.p) AS separated
FROM documents d
CROSS JOIN prior pr
LEFT JOIN ds sh ON sh.doc_id = d.doc_id AND sh.y = 1
LEFT JOIN ds ss ON ss.doc_id = d.doc_id AND ss.y = 0
"""


# ---------------------------------------------------------------- in-engine embedding generation (r13)
# shared key parameters — the Spark query and the DuckDB oracle are
# generated from the SAME constants so they cannot drift
_EMB_DIM = 16
_EMB_NGRAM = 3
_EMB_MAX_CHARS = 256
# 0.95 cosine: the SemDeDup-style near-dup band. b=8 planes / L=6
# tables → LSH recall ≈ 1−(1−p^8)^6 ≈ 0.97 at cos 0.95
# (p = 1−arccos(0.95)/π ≈ 0.90) with 256 buckets per table — the
# candidate pair space stays per-bucket at any corpus size
_EMB_COS_NUM = 95
_EMB_COS_DEN = 100
_SEMDEDUP_TABLES = 6
_SEMDEDUP_PLANES = 8
_SEMDEDUP_FLAT = S.gaussian_planes_q(
    _SEMDEDUP_TABLES * _SEMDEDUP_PLANES, _EMB_DIM, seed=7
)


def q_embedding_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine text vectorization (llm_ops/embed.py): hashed
    char-3-gram counts signed-projected to 16 integer dims — a pure
    zero-shuffle row map, exploded to (doc_id, d, v) so the compare
    is over raw BIGINTs. The oracle replays normalization, gram
    extraction, per-gram md5 sign bits, and the sums bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    emb = EM.doc_embed_table(
        docs.select("doc_id", "text"),
        "doc_id", "text", "_eq", _EMB_DIM, _EMB_NGRAM, EM.EMBED_SALT,
        _EMB_MAX_CHARS,
    )
    return emb.select("doc_id", F.posexplode("_eq").alias("d", "v")).select(
        "doc_id", F.col("d").cast("int").alias("d"), F.col("v").alias("v")
    )


def _embed_grams_sql(dim: int) -> str:
    """Shared embedding CTE prefix: normalized text → char 3-grams →
    per-gram 60-bit hash → per-(doc, dim) signed sums. Single hash
    block (dim ≤ 30)."""
    assert dim <= 30, "single-block SQL replay requires dim <= 30"
    return f"""t AS (
    SELECT doc_id,
           trim(lower(regexp_replace(substr(coalesce(text, ''), 1, {_EMB_MAX_CHARS}),
                                     '[^A-Za-z0-9]+', ' ', 'g'))) AS s
    FROM documents
), g AS (
    SELECT doc_id, substr(s, r.i + 1, {_EMB_NGRAM}) AS gram
    FROM t, unnest(range(greatest(length(s) - {_EMB_NGRAM - 1}, 0))) AS r(i)
), h AS (
    SELECT doc_id,
           ('0x' || substring(md5('{EM.EMBED_SALT}' || chr(31) || '0' || chr(31) || gram), 1, 15))::BIGINT AS h
    FROM g
), dims AS (
    SELECT unnest(range({dim})) AS d
), sums AS (
    SELECT doc_id, d, CAST(SUM(1 - 2 * ((h >> d) & 1)) AS BIGINT) AS v
    FROM h, dims GROUP BY doc_id, d
)"""


ORACLE_EMBEDDING_GENERATE = f"""
WITH {_embed_grams_sql(_EMB_DIM)}
SELECT t.doc_id, CAST(dims.d AS INTEGER) AS d,
       CAST(COALESCE(sums.v, 0) AS BIGINT) AS v
FROM t CROSS JOIN dims
LEFT JOIN sums ON t.doc_id = sums.doc_id AND dims.d = sums.d
"""


# ---------------------------------------------------------------- semantic dedup (r13)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style end-to-end semantic dedup from TEXT alone:
    in-engine embeddings → multi-table gaussian sign-LSH blocking →
    INTEGER-EXACT cosine ≥ _EMB_COS_NUM/_EMB_COS_DEN (95/100) pairs
    → pointer-doubling connected components → (doc_id, group_id).
    Every stage is integer math, so
    the oracle replays the whole chain (including the threshold
    DECISION — no float boundary can flip a pair) with a recursive
    transitive-closure CTE for the components."""
    docs = _t(spark, sf_dir, "documents")
    return EM.semantic_dedup(
        docs, "doc_id", "text",
        dim=_EMB_DIM, ngram=_EMB_NGRAM, max_chars=_EMB_MAX_CHARS,
        cos_num=_EMB_COS_NUM, cos_den=_EMB_COS_DEN,
        n_planes=_SEMDEDUP_PLANES, n_tables=_SEMDEDUP_TABLES, seed=7,
    )


def _semantic_dedup_oracle() -> str:
    rows = []
    for t in range(_SEMDEDUP_TABLES):
        for i in range(_SEMDEDUP_PLANES):
            pq = _SEMDEDUP_FLAT[t * _SEMDEDUP_PLANES + i]
            rows.append(f"({t}, {i}, {pq})")
    dot = (
        "(SELECT SUM(a * b) FROM (SELECT unnest(va.vq) AS a, "
        "unnest(vb.vq) AS b) z)"
    )
    return f"""
WITH RECURSIVE {_embed_grams_sql(_EMB_DIM)}, vecs AS (
    SELECT doc_id, list(v ORDER BY d) AS vq
    FROM sums GROUP BY doc_id HAVING SUM(v * v) > 0
), planes(tbl, pi, pq) AS (
    VALUES {",".join(rows)}
), buckets AS (
    SELECT v.doc_id, p.tbl,
           CAST(SUM(CASE WHEN (SELECT SUM(a * b) FROM (SELECT unnest(v.vq) AS a, unnest(p.pq) AS b) z) >= 0
                         THEN CAST(pow(2, p.pi) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM vecs v CROSS JOIN planes p
    GROUP BY 1, 2
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a
    JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id
), pairs AS (
    SELECT id_a, id_b
    FROM cands
    JOIN vecs va ON cands.id_a = va.doc_id
    JOIN vecs vb ON cands.id_b = vb.doc_id
    WHERE {dot} > 0
      AND {dot} * {dot} * {_EMB_COS_DEN * _EMB_COS_DEN}
          >= {_EMB_COS_NUM * _EMB_COS_NUM}
             * (SELECT SUM(a * a) FROM (SELECT unnest(va.vq) AS a) z2)
             * (SELECT SUM(b * b) FROM (SELECT unnest(vb.vq) AS b) z3)
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS group_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------- unigram-LM tokenizer (r13)
_UNI_V = 40          # vocab_size
_UNI_L = 5           # max_piece_len
_UNI_EM = 2          # hard-EM iterations


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SentencePiece-style unigram-LM tokenizer end to end
    (llm_ops/unigram.py): seed-substring vocabulary → 2 hard-EM
    Viterbi rounds → deterministic prune/rank → Viterbi encode of
    every document. All integer fixed-point, so the oracle replays
    TRAINING AND ENCODING bit-for-bit — the all-paths recursive CTE
    picks each word's segmentation by (score DESC, reversed
    boundary list ASC), the exact global order induced by the DP's
    per-step tie-break."""
    docs = _t(spark, sf_dir, "documents")
    vocab = UG.unigram_train(
        docs, vocab_size=_UNI_V, max_piece_len=_UNI_L, em_iters=_UNI_EM
    )
    enc = UG.unigram_encode_docs(docs, vocab, max_piece_len=_UNI_L)
    ids_md5 = F.md5(
        F.array_join(
            F.transform(
                F.col("piece_ids"),
                lambda x: F.coalesce(x.cast("string"), F.lit("oov")),
            ),
            ",",
        )
    )
    return enc.select(
        "doc_id",
        ids_md5.alias("ids_md5"),
        F.col("n_pieces").cast("int").alias("n_pieces"),
        F.col("n_oov").cast("int").alias("n_oov"),
    )


def _uni_segment_sql(tag: str, scores_cte: str, words: str = "wc") -> str:
    """One all-paths Viterbi block: paths{tag} enumerates every
    segmentation of every distinct word of ``words`` under
    ``scores_cte`` (piece, score), best{tag} picks (score DESC,
    reversed boundary list ASC), segp{tag} rebuilds
    (word, sub, piece)."""
    from ..llm_ops.unigram import UNK_SCORE

    return f"""edges{tag} AS MATERIALIZED (
    -- the word-DAG edges, built NON-recursively (DuckDB rejects an
    -- outer join inside a recursive member): every span whose piece
    -- is in the vocab, plus the single-char OOV fallback at UNK
    SELECT sp.word, sp.i, sp.j,
           COALESCE(s.score, CAST({UNK_SCORE} AS BIGINT)) AS score
    FROM (
        SELECT word, i.i AS i, i.i + l.l AS j,
               substr(word, i.i + 1, l.l) AS piece
        FROM {words},
             unnest(range(length(word))) AS i(i),
             unnest(range(1, {_UNI_L + 1})) AS l(l)
        WHERE i.i + l.l <= length(word)
    ) sp
    LEFT JOIN {scores_cte} s ON s.piece = sp.piece
    WHERE s.piece IS NOT NULL OR sp.j - sp.i = 1
), paths{tag}(word, pos, sc, bnds) AS (
    SELECT word, 0, CAST(0 AS BIGINT), CAST([] AS INTEGER[]) FROM {words}
    UNION ALL
    SELECT p.word, e.j, p.sc + e.score, list_append(p.bnds, p.pos)
    FROM paths{tag} p
    JOIN edges{tag} e ON e.word = p.word AND e.i = p.pos
), best{tag} AS (
    SELECT word, bnds FROM (
        SELECT word, bnds,
               ROW_NUMBER() OVER (
                   PARTITION BY word
                   ORDER BY sc DESC, list_reverse(bnds) ASC
               ) AS rk
        FROM paths{tag} WHERE pos = length(word)
    ) WHERE rk = 1
), segp{tag} AS (
    SELECT word, k.k AS sub,
           substr(word, bnds[k.k + 1] + 1,
                  COALESCE(bnds[k.k + 2], length(word)) - bnds[k.k + 1]) AS piece
    FROM best{tag}, unnest(range(len(bnds))) AS k(k)
)"""


def _uni_em_round_sql(k: int) -> str:
    """E-step + M-step round ``k``: segment under s{k}, re-count
    (weighted by word counts), restore zero-count single chars from
    v{k} (coverage), prune, re-score."""
    from ..llm_ops.quality_model import llog2_sql as lg

    return f"""{_uni_segment_sql(str(k), f"s{k}")}, c{k + 1} AS (
    SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
    FROM segp{k} JOIN wc USING (word) GROUP BY 1
), c{k + 1}f AS (
    SELECT piece, cnt FROM c{k + 1}
    UNION ALL
    SELECT v.piece, CAST(0 AS BIGINT) FROM v{k} v
    WHERE length(v.piece) = 1
      AND NOT EXISTS (SELECT 1 FROM c{k + 1} c WHERE c.piece = v.piece)
), v{k + 1} AS (
    SELECT piece, cnt FROM (
        SELECT piece, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
        FROM c{k + 1}f
    ) WHERE rk <= {_UNI_V} OR length(piece) = 1
), t{k + 1} AS (
    SELECT CAST(SUM(cnt) + COUNT(*) AS BIGINT) AS t FROM v{k + 1}
), s{k + 1} AS MATERIALIZED (
    SELECT piece, cnt, {lg("cnt + 1")} - {lg("t")} AS score
    FROM v{k + 1} CROSS JOIN t{k + 1}
)"""


def _uni_train_sql() -> str:
    """The shared training-replay WITH prefix (docs_w … vocab):
    classic tokenization, seed candidates, {_UNI_EM} hard-EM rounds,
    rank ids — used verbatim by the classic encode oracle and the
    byte-fallback oracle (fallback is an ENCODE-time change, the
    trained table is identical)."""
    from ..llm_ops.quality_model import llog2_sql as lg

    rounds = ",\n".join(_uni_em_round_sql(k) for k in range(_UNI_EM))
    final = _UNI_EM
    return f"""docs_w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
), wc AS MATERIALIZED (
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(toks) AS w FROM docs_w) GROUP BY 1
), cand AS (
    SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM (
        SELECT n, substr(word, i.i + 1, l.l) AS piece
        FROM wc,
             unnest(range(length(word))) AS i(i),
             unnest(range(1, {_UNI_L + 1})) AS l(l)
        WHERE i.i + l.l <= length(word)
    ) GROUP BY 1
), v0 AS (
    SELECT piece, cnt FROM (
        SELECT piece, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
        FROM cand
    ) WHERE rk <= {_UNI_V} OR length(piece) = 1
), t0 AS (
    SELECT CAST(SUM(cnt) + COUNT(*) AS BIGINT) AS t FROM v0
), s0 AS MATERIALIZED (
    SELECT piece, cnt, {lg("cnt + 1")} - {lg("t")} AS score
    FROM v0 CROSS JOIN t0
),
{rounds},
vocab AS MATERIALIZED (
    SELECT piece, cnt, score,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS INTEGER) AS pid
    FROM s{final}
)"""


def _unigram_oracle() -> str:
    return f"""
WITH RECURSIVE {_uni_train_sql()},
{_uni_segment_sql("F", "vocab")},
tok AS (
    SELECT doc_id, i.i AS pos, toks[i.i + 1] AS word
    FROM docs_w, unnest(range(len(toks))) AS i(i)
), docseg AS (
    SELECT t.doc_id, t.pos, sp.sub, sp.piece, v.pid
    FROM tok t
    JOIN segpF sp USING (word)
    LEFT JOIN vocab v ON v.piece = sp.piece
), agg AS (
    SELECT doc_id,
           md5(string_agg(COALESCE(CAST(pid AS VARCHAR), 'oov'), ','
                          ORDER BY pos, sub)) AS ids_md5,
           CAST(COUNT(*) AS INTEGER) AS n_pieces,
           CAST(SUM(CASE WHEN pid IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_oov
    FROM docseg GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.ids_md5, md5('')) AS ids_md5,
       COALESCE(a.n_pieces, 0) AS n_pieces,
       COALESCE(a.n_oov, 0) AS n_oov
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# -------------------------------------------- byte fallback (r18, PE)
# Deterministic multi-script page suffixes: CJK, astral emoji,
# combining-accent Latin, digits/punctuation, Cyrillic, Greek,
# Hangul, underscore-joined — every one whitespace-split into words
# the classic [^a-z]+ tokenizer could not represent, so the reserved
# <0xNN> expansion fires on every document.
_UBF_SNIPS = [
    "中文字", "😀ok", "café", "3.14!", "тест", "αβγδ", "한글자", "x_y",
]
_UBF_CAP = 64  # bpe_encode_docs' straggler-cap convention


def q_unigram_byte_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 (r17 verdict item 5): SentencePiece-style byte fallback,
    end to end — the SAME trained vocab as ``unigram_encode``
    (fallback is an encode-time representation, not a training
    change), Viterbi-encoding a synthesized multi-script corpus
    (each document plus a script snippet by doc_id) under the
    lossless-per-word convention: case kept, whitespace split,
    vocab-unknown pieces expand to reserved ``<0xNN>`` byte pieces
    with ids ``-(byte+1)``, words joined by the reserved space piece.
    The oracle replays training AND the byte expansion (hex-pair
    arithmetic over DuckDB's encode()) bit-for-bit; zero NULL ids by
    construction."""
    docs = _t(spark, sf_dir, "documents")
    vocab = UG.unigram_train(
        docs, vocab_size=_UNI_V, max_piece_len=_UNI_L, em_iters=_UNI_EM
    )
    snip = F.element_at(
        F.array(*[F.lit(s) for s in _UBF_SNIPS]),
        (F.pmod(F.col("doc_id"), F.lit(len(_UBF_SNIPS))) + 1).cast("int"),
    )
    synth = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" "), snip
        ).alias("text"),
    )
    enc = UG.unigram_encode_docs(
        synth, vocab, max_piece_len=_UNI_L,
        byte_fallback=True, max_word_len=_UBF_CAP,
    )
    ids_md5 = F.md5(
        F.array_join(
            F.transform(F.col("piece_ids"), lambda x: x.cast("string")), ","
        )
    )
    return enc.select(
        "doc_id",
        ids_md5.alias("ids_md5"),
        F.col("n_pieces").cast("int").alias("n_pieces"),
        F.size(F.filter(F.col("piece_ids"), lambda i: i < 0))
        .cast("int")
        .alias("n_byte_pieces"),
    )


def _unigram_bf_oracle() -> str:
    snips = ", ".join("'" + s + "'" for s in _UBF_SNIPS)
    hexd = "0123456789ABCDEF"
    return f"""
WITH RECURSIVE {_uni_train_sql()},
enc_w AS (
    SELECT doc_id,
           list_filter(
               regexp_split_to_array(coalesce(text, '') || ' ' ||
                   ([{snips}])[(doc_id % {len(_UBF_SNIPS)}) + 1], '\\s+'),
               x -> x <> '' AND length(x) <= {_UBF_CAP}) AS toks
    FROM documents
), wce AS MATERIALIZED (
    SELECT DISTINCT unnest(toks) AS word FROM enc_w
),
{_uni_segment_sql("E", "vocab", "wce")},
tokE AS (
    SELECT doc_id, i.i AS pos, toks[i.i + 1] AS word
    FROM enc_w, unnest(range(len(toks))) AS i(i)
), docsegE AS (
    SELECT t.doc_id, t.pos, sp.sub, sp.piece, v.pid
    FROM tokE t
    JOIN segpE sp USING (word)
    LEFT JOIN vocab v ON v.piece = sp.piece
), expanded AS (
    -- in-vocab pieces ride as-is; vocab-unknown pieces expand into
    -- their UTF-8 bytes via hex-pair arithmetic (id -(byte+1));
    -- every word after the first is preceded by the reserved space
    -- piece <0x20> (id -33) — exactly the engine's assembly
    SELECT doc_id, pos, sub, 0 AS bsub, pid
    FROM docsegE WHERE pid IS NOT NULL
    UNION ALL
    SELECT doc_id, pos, sub, b.b + 1 AS bsub,
           -(1 + (strpos('{hexd}', substr(hx, b.b * 2 + 1, 1)) - 1) * 16
               + (strpos('{hexd}', substr(hx, b.b * 2 + 2, 1)) - 1)) AS pid
    FROM (
        SELECT doc_id, pos, sub, hex(encode(piece)) AS hx
        FROM docsegE WHERE pid IS NULL
    ), unnest(range(length(hx) // 2)) AS b(b)
    UNION ALL
    SELECT doc_id, pos, -1 AS sub, 0 AS bsub, -33 AS pid
    FROM (SELECT DISTINCT doc_id, pos FROM tokE) WHERE pos > 0
), aggE AS (
    SELECT doc_id,
           md5(string_agg(CAST(pid AS VARCHAR), ','
                          ORDER BY pos, sub, bsub)) AS ids_md5,
           CAST(COUNT(*) AS INTEGER) AS n_pieces,
           CAST(SUM(CASE WHEN pid < 0 THEN 1 ELSE 0 END) AS INTEGER)
               AS n_byte_pieces
    FROM expanded GROUP BY doc_id
)
SELECT doc_id, ids_md5, n_pieces, n_byte_pieces FROM aggE
"""


# ---------------------------------------------------------------- D4 cluster-balanced sampling (r17 wave 6)
_CBAL_CAP = 20


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style cluster-balanced selection (similarity.
    cluster_balanced_sample; Tirumala et al. 2023): the IVF build's
    deterministic integer k-means over the embeddings table, then at
    most 20 survivors per cluster by content-stable hash priority —
    dense semantic regions are cut, sparse clusters survive whole.
    Output pins every vector's cluster AND its keep verdict; the
    oracle replays the full Lloyd's build (the shared
    _ivf_build_ctes chain) plus the salted-hash rank cut.
    PERMANENT_EXTERNAL."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cluster_balanced_sample(emb, per_cluster_cap=_CBAL_CAP)


ORACLE_CLUSTER_BALANCED_SAMPLE = f"""
WITH {_ivf_build_ctes()}, okey AS (
    SELECT vec_id, cluster,
           ('0x' || substring(md5('cbal' || chr(31) || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS ok
    FROM assigned
), ranked AS (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY ok ASC, vec_id ASC) AS rn
    FROM okey
)
SELECT vec_id, cluster, (rn <= {_CBAL_CAP}) AS selected FROM ranked
"""


# ---------------------------------------------------------------- Gopher §A1.2 full repetition set (r17 wave 5)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Gopher §A1.2 repetition rule set
    (llm_ops/text.gopher_repetition_features): duplicate line /
    paragraph fractions (count + character), top 2/3/4-gram character
    coverage, duplicate 5..10-gram character coverage with overlaps
    counted once, and the 13-threshold pass verdict. Every 7th
    document is augmented to ``text + newline + text`` IN-QUERY so
    the duplicate branches (lines, paragraphs, every dup-n-gram
    order) score real rows at any SF; the oracle replays the
    augmentation and the whole chain. PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return T.gopher_repetition_features(aug)


def gopher_repetition_sql(docs_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """DuckDB replay of :func:`text.gopher_repetition_features` over
    any (doc_id, text) subquery — generated from the same threshold
    constants so gate and oracle cannot drift. Exposed for the pytest
    fixture replay as well as the suite oracle."""
    lim = T.GOPHER_REPETITION_LIMITS
    ufr = ",\n           ".join(
        f"ROUND(COALESCE(MAX(CASE WHEN k = '{k}' THEN "
        f"CAST({num} AS DOUBLE) / greatest(CAST({den} AS DOUBLE), 1.0) "
        f"END), 0.0), 4) AS {name}"
        for name, k, num, den in (
            ("dup_line_frac", "line", "dups", "units"),
            ("dup_line_char_frac", "line", "dchars", "chars"),
            ("dup_para_frac", "para", "dups", "units"),
            ("dup_para_char_frac", "para", "dchars", "chars"),
        )
    )
    topf = ",\n           ".join(
        f"ROUND(COALESCE(MAX(CASE WHEN n = {n} THEN CAST(cov AS DOUBLE) / "
        f"greatest(CAST(wchars + greatest(nw - 1, 0) AS DOUBLE), 1.0) END), 0.0), 4) "
        f"AS top_{n}gram_char_frac"
        for n in (2, 3, 4)
    )
    dupf = ",\n           ".join(
        f"ROUND(COALESCE(MAX(CASE WHEN n = {n} THEN CAST(cov AS DOUBLE) / "
        f"greatest(CAST(wchars AS DOUBLE), 1.0) END), 0.0), 4) "
        f"AS dup_{n}gram_char_frac"
        for n in range(5, 11)
    )
    out_cols = ",\n       ".join(
        f"COALESCE({src}.{c}, 0.0) AS {c}"
        for src, cols in (
            ("u", ["dup_line_frac", "dup_line_char_frac",
                   "dup_para_frac", "dup_para_char_frac"]),
            ("tf", [f"top_{n}gram_char_frac" for n in (2, 3, 4)]),
            ("df", [f"dup_{n}gram_char_frac" for n in range(5, 11)]),
        )
        for c in cols
    )
    gate = " AND ".join(
        f"COALESCE({src}.{c}, 0.0) <= {lim[c]}"
        for src, cols in (
            ("u", ["dup_line_frac", "dup_line_char_frac",
                   "dup_para_frac", "dup_para_char_frac"]),
            ("tf", [f"top_{n}gram_char_frac" for n in (2, 3, 4)]),
            ("df", [f"dup_{n}gram_char_frac" for n in range(5, 11)]),
        )
        for c in cols
    )
    return f"""
WITH docs AS ({docs_sql}
), words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                       x -> x <> '') AS w
    FROM docs
), stats AS (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS nw,
           CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS wchars
    FROM words
), units AS (
    SELECT doc_id, 'line' AS k, trim(u) AS val
    FROM docs, unnest(string_split(coalesce(text, ''), chr(10))) AS t(u)
    UNION ALL
    SELECT doc_id, 'para' AS k, trim(u) AS val
    FROM docs, unnest(regexp_split_to_array(coalesce(text, ''), '\\n{{2,}}')) AS t(u)
), ucnt AS (
    SELECT doc_id, k, val, COUNT(*) AS cnt
    FROM units WHERE val <> '' GROUP BY 1, 2, 3
), perk AS (
    SELECT doc_id, k, SUM(cnt) AS units,
           SUM(cnt * length(val)) AS chars,
           SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dups,
           SUM(CASE WHEN cnt >= 2 THEN cnt * length(val) ELSE 0 END) AS dchars
    FROM ucnt GROUP BY 1, 2
), ufr AS (
    SELECT doc_id,
           {ufr}
    FROM perk GROUP BY 1
), grams AS (
    SELECT doc_id, nn.n AS n, r.i + 1 AS p,
           array_to_string(w[r.i + 1 : r.i + nn.n], ' ') AS gram
    FROM words,
         unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS nn(n),
         unnest(range(greatest(len(w) - nn.n + 1, 0))) AS r(i)
), gcnt AS (
    SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3
), top AS (
    SELECT doc_id, n, cnt * length(gram) AS cov,
           ROW_NUMBER() OVER (PARTITION BY doc_id, n
                              ORDER BY cnt DESC, length(gram) DESC, gram ASC) AS rn
    FROM gcnt WHERE n <= 4
), topf AS (
    SELECT t.doc_id,
           {topf}
    FROM top t JOIN stats USING (doc_id) WHERE rn = 1 GROUP BY 1
), dupg AS (
    SELECT doc_id, n, gram FROM gcnt WHERE n >= 5 AND cnt >= 2
), occ AS (
    SELECT g.doc_id, g.n, g.p
    FROM grams g JOIN dupg d USING (doc_id, n, gram)
    WHERE g.n >= 5
), cover AS (
    SELECT DISTINCT doc_id, n, r.wp FROM occ, unnest(range(p, p + n)) AS r(wp)
), wlen AS (
    SELECT doc_id, r.i + 1 AS wp, length(w[r.i + 1]) AS wl
    FROM words, unnest(range(len(w))) AS r(i)
), cov AS (
    SELECT c.doc_id, c.n, SUM(wl) AS cov
    FROM cover c JOIN wlen USING (doc_id, wp) GROUP BY 1, 2
), dupfr AS (
    SELECT c.doc_id,
           {dupf}
    FROM cov c JOIN stats USING (doc_id) GROUP BY 1
)
SELECT s.doc_id,
       {out_cols},
       ({gate}) AS rep_pass
FROM stats s
LEFT JOIN ufr u USING (doc_id)
LEFT JOIN topf tf USING (doc_id)
LEFT JOIN dupfr df USING (doc_id)
"""


_GOPHER_REP_AUG = (
    "SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
    "THEN text || chr(10) || text ELSE text END AS text FROM documents"
)


# ---------------------------------------------------------------- fuzzy decontamination (r17 wave 4)
# eval set derived from the corpus itself (the bpe_encode recipe —
# both engines build the same artifact): every 10th document with a
# benchmark-ish suffix appended, so the overlap is NEAR-duplicate
# (high Jaccard, not containment-exact) — what the fuzzy rule exists
# to catch
_FUZZY_EVAL_SUFFIX = "shared benchmark suffix tail words"
_FUZZY_MIN_EJ = 0.5


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash fuzzy decontamination (llm_ops/decontam.py, r17 wave
    4): eval = every 10th document with a suffix appended (a light
    paraphrase — exact long-n-gram overlap checks under-flag it),
    flagged at est_jaccard ≥ 0.5 over the dedup family's 8-hash /
    4-band signatures with the eval index broadcast. Output pins each
    flagged doc's eval-hit census and max estimate; the oracle
    replays shingling, the minhash family, band collision and the
    component-match estimate. PERMANENT_EXTERNAL."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _FUZZY_EVAL_SUFFIX)).alias("text"),
    )
    hits = DC.contamination_minhash(
        docs.select("doc_id", "text"), ev, min_est_jaccard=_FUZZY_MIN_EJ
    )
    return hits.select("doc_id", "n_eval_docs", "max_est_jaccard")


def _decontaminate_fuzzy_oracle() -> str:
    """Full-replay oracle: both sides' 3-gram shingles → the 8-hash
    minhash family → 4-band collision join → component-match
    estimate → threshold → per-doc census."""
    mins = ",\n           ".join(
        f"MIN(('0x' || substring(md5('{i}' || chr(31) || shingle), 1, 15))::BIGINT) AS m{i}"
        for i in range(8)
    )
    tband = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"CAST(m{2*b} AS VARCHAR) || '|' || CAST(m{2*b+1} AS VARCHAR) AS band_key FROM tsigs"
        for b in range(4)
    )
    eband = "\n    UNION ALL\n    ".join(
        f"SELECT eval_id, {b} AS band_idx, "
        f"CAST(m{2*b} AS VARCHAR) || '|' || CAST(m{2*b+1} AS VARCHAR) AS band_key FROM esigs"
        for b in range(4)
    )
    est = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    return f"""
WITH ev AS (
    SELECT doc_id AS eval_id, text || ' {_FUZZY_EVAL_SUFFIX}' AS text
    FROM documents WHERE doc_id % 10 = 0
), twords AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM documents
), tsh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM twords, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), tsigs AS (
    SELECT doc_id, {mins}
    FROM tsh GROUP BY doc_id
), ewords AS (
    SELECT eval_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
    FROM ev
), esh AS (
    SELECT DISTINCT eval_id, array_to_string(w[i+1:i+3], ' ') AS shingle
    FROM ewords, unnest(range(greatest(len(w) - 2, 0))) AS r(i)
), esigs AS (
    SELECT eval_id, {mins}
    FROM esh GROUP BY eval_id
), tband AS (
    {tband}
), eband AS (
    {eband}
), cand AS (
    SELECT DISTINCT t.doc_id, e.eval_id
    FROM tband t JOIN eband e
      ON t.band_idx = e.band_idx AND t.band_key = e.band_key
), flagged AS (
    SELECT c.doc_id, c.eval_id, CAST({est} AS DOUBLE) / 8 AS ej
    FROM cand c
    JOIN tsigs sa ON c.doc_id = sa.doc_id
    JOIN esigs sb ON c.eval_id = sb.eval_id
    WHERE CAST({est} AS DOUBLE) / 8 >= {_FUZZY_MIN_EJ}
)
SELECT doc_id,
       CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs,
       MAX(ej) AS max_est_jaccard
FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------- DSIR importance resampling (r17 wave 4)
# shared key parameters — the Spark query and the DuckDB oracle are
# generated from the same constants so they cannot drift
_DSIR_BUCKETS = 256
_DSIR_KEEP = (1, 4)  # select ~a quarter of the corpus
_DSIR_TARGET_LANG = "en"


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (llm_ops/
    dsir.py; Xie et al. 2023): fit hashed-n-gram (unigram + word
    bigram, the paper's feature set) density-ratio weights with
    target = the English documents and raw = the whole corpus, score
    every document's log importance weight, add deterministic
    hash-Gumbel noise, and select the top quarter by the bounded
    key-group running-total rule (no global sort of corpus rows —
    the perplexity_buckets shape). Output pins every document's
    weight, noisy key, and selection verdict; the oracle replays
    training, scoring, the Gumbel transform and the group selection
    bit-for-bit. PERMANENT_EXTERNAL."""
    from ..llm_ops import dsir as DS

    docs = _t(spark, sf_dir, "documents")
    model = DS.dsir_fit(
        docs.filter(F.col("lang") == _DSIR_TARGET_LANG).select("text"),
        docs.select("text"),
        num_buckets=_DSIR_BUCKETS,
    )
    scored = DS.dsir_score(docs.select("doc_id", "text"), model)
    sel = DS.dsir_resample(scored, *_DSIR_KEEP)
    return sel.select("doc_id", "dsir_logw", "dsir_key", "selected")


def _dsir_select_oracle() -> str:
    """Full-replay oracle: tagged-union fit (unigram + bigram hashed
    features → Laplace llog2 density-ratio weights), per-doc scoring,
    the hash-Gumbel key, and the quantized-key-group selection —
    rendered from the same constants and the shared llog2_sql /
    hash_gumbel_sql."""
    from ..llm_ops import dsir as DS

    B = _DSIR_BUCKETS
    num, den = _DSIR_KEEP
    shift = DS.DSIR_KEY_SHIFT
    bucket = (
        f"('0x' || substring(md5('{DS.DSIR_SALT}' || chr(31) || t), 1, 15))"
        f"::BIGINT % {B}"
    )
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),"
        " x -> x <> '')"
    )
    bigrams = (
        "list_transform(range(greatest(len(tk) - 1, 0)),"
        " i -> tk[i + 1] || chr(30) || tk[i + 2])"
    )
    lg = QM.llog2_sql
    gk = DS.hash_gumbel_sql("k.doc_id")
    return f"""
WITH labeled AS (
    SELECT text, 1 AS y FROM documents WHERE lang = '{_DSIR_TARGET_LANG}'
    UNION ALL
    SELECT text, 0 AS y FROM documents
), tkd AS (
    SELECT y, {toks} AS tk FROM labeled
), feats AS (
    SELECT y, unnest(tk) AS t FROM tkd
    UNION ALL
    SELECT y, unnest({bigrams}) AS t FROM tkd
), cnt AS (
    SELECT {bucket} AS bucket,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
    FROM feats GROUP BY 1
), dense AS (
    SELECT r.range AS bucket,
           CAST(coalesce(c.c1, 0) AS BIGINT) AS c1,
           CAST(coalesce(c.c0, 0) AS BIGINT) AS c0
    FROM range({B}) r LEFT JOIN cnt c ON c.bucket = r.range
), tot AS (
    SELECT CAST(SUM(c1) + {B} AS BIGINT) AS t1,
           CAST(SUM(c0) + {B} AS BIGINT) AS t0
    FROM dense
), w AS (
    SELECT bucket,
           ({lg('c1 + 1')} - {lg('t1')}) - ({lg('c0 + 1')} - {lg('t0')}) AS wt
    FROM dense CROSS JOIN tot
), dtk AS (
    SELECT doc_id, {toks} AS tk FROM documents
), dfeat AS (
    SELECT doc_id, unnest(tk) AS t FROM dtk
    UNION ALL
    SELECT doc_id, unnest({bigrams}) AS t FROM dtk
), ds AS (
    SELECT h.doc_id, SUM(w.wt) AS s
    FROM (SELECT doc_id, {bucket} AS bucket FROM dfeat) h
    JOIN w ON w.bucket = h.bucket
    GROUP BY 1
), keyed AS (
    SELECT k.doc_id,
           CAST(coalesce(ds.s, 0) AS BIGINT) AS dsir_logw,
           CAST(coalesce(ds.s, 0) + {gk} AS BIGINT) AS dsir_key
    FROM documents k LEFT JOIN ds ON ds.doc_id = k.doc_id
), grp AS (
    SELECT dsir_key >> {shift} AS qk, COUNT(*) AS c FROM keyed GROUP BY 1
), ranked AS (
    SELECT qk,
           SUM(c) OVER (ORDER BY qk DESC) - c AS _before,
           SUM(c) OVER () AS _tot
    FROM grp
), lab AS (
    SELECT qk, (_before * {den} < _tot * {num}) AS selected FROM ranked
)
SELECT k.doc_id, k.dsir_logw, k.dsir_key, l.selected
FROM keyed k JOIN lab l ON (k.dsir_key >> {shift}) = l.qk
"""


QUERIES = {
    "embedding_generate": q_embedding_generate,
    "semantic_dedup": q_semantic_dedup,
    "unigram_encode": q_unigram_encode,
    "unigram_byte_fallback": q_unigram_byte_fallback,
    "pdf_text": q_pdf_text,
    "doc_ingest": q_doc_ingest,
    "mixture_plan": q_mixture_plan,
    "quality_classifier": q_quality_classifier,
    "script_detect": q_script_detect,
    "bpe_encode": q_bpe_encode,
    "dedup_spans": q_dedup_spans,
    "domain_stats": q_domain_stats,
    "html_text": q_html_text,
    "url_normalize": q_url_normalize,
    "gopher_rules": q_gopher_rules,
    "dedup_exact": q_dedup_exact,
    "text_quality": q_text_quality,
    "quality_filter": q_quality_filter,
    "dedup_ngram_capped": q_dedup_ngram_capped,
    "lang_id": q_lang_id,
    # token_count / doc_fingerprint / embedding_neardup rotated OUT
    # for round 6 (stable green since r1/r3; token counting remains
    # under ORACLE_TEXT_QUALITY's n_tokens, the fingerprint expression
    # is hash-gated inside dedup_exact + dedup_stats, and the blocked
    # near-dup scale form embedding_neardup_lsh stays in-window) to
    # make room for the round-6 ops (chunk_plan, source_filter,
    # embedding_pq here; compact_latest in core). All three remain
    # externally checked every round via ROTATED_OUT_* below.
    # dedup_ngram: demoted round 5 (subsumed by dedup_ngram_capped,
    # equality pytest), rotated back IN for round 6 so it revalidates
    # against the external oracle on the current testdata.
    "dedup_ngram": q_dedup_ngram,
    "dedup_containment": q_dedup_containment,
    "dedup_groups": q_dedup_groups,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "embedding_topk": q_embedding_topk,
    # embedding_topk_pandas: demoted round 5 (pytest-equal to
    # embedding_topk), rotated back IN for round 6 revalidation under
    # the shared ORACLE_EMBEDDING_TOPK.
    "embedding_topk_pandas": q_embedding_topk_pandas,
    "embedding_ivf": q_embedding_ivf,
    "embedding_pq": q_embedding_pq,
    # r15: OPQ-style energy-balanced rotation — PERMANENT_EXTERNAL
    # (the rotating universe is at its 97-key capacity; this pair
    # gets the full DuckDB oracle every pytest round instead of a
    # driver row — see rotation.py / ROTATION.md r15 note)
    "embedding_opq": q_embedding_opq,
    # r16: perceptual image hash (dHash/aHash through the vendored
    # PPM codec, closed-form pixel oracle) — PERMANENT_EXTERNAL like
    # embedding_opq: the rotating universe remains at capacity
    "image_phash": q_image_phash,
    # r16: the complete pixel near-dup chain (decode → dHash → band
    # blocking → hamming → CC) under one SQL oracle — also
    # PERMANENT_EXTERNAL (same capacity terms)
    "image_neardup": q_image_neardup,
    # r16: CCNet-style bigram-LM perplexity scoring — also
    # PERMANENT_EXTERNAL (same capacity terms)
    "ngram_perplexity": q_ngram_perplexity,
    # r16: trigram-order backoff LM — also PERMANENT_EXTERNAL
    "trigram_perplexity": q_trigram_perplexity,
    # r17: Kneser-Ney smoothing at both orders, ref-split so every
    # escape branch scores real rows — also PERMANENT_EXTERNAL
    "ngram_perplexity_kn": q_ngram_perplexity_kn,
    "trigram_perplexity_kn": q_trigram_perplexity_kn,
    # r17 wave 2: the published 5-gram KN order — also
    # PERMANENT_EXTERNAL
    "pentagram_perplexity_kn": q_pentagram_perplexity_kn,
    # r17 wave 3: KenLM count-threshold pruning with exact
    # escape-mass renormalization — also PERMANENT_EXTERNAL
    "kn_pruned_perplexity": q_kn_pruned_perplexity,
    # r17 wave 3: CCNet head/middle/tail split over the scores —
    # also PERMANENT_EXTERNAL
    "perplexity_buckets": q_perplexity_buckets,
    # r17 wave 4: DSIR importance resampling (fit + score +
    # hash-Gumbel selection) — also PERMANENT_EXTERNAL
    "dsir_select": q_dsir_select,
    # r17 wave 4: MinHash fuzzy decontamination (near-dup eval
    # overlap the exact n-gram rule misses) — also PERMANENT_EXTERNAL
    "decontaminate_fuzzy": q_decontaminate_fuzzy,
    # r17 wave 5: the COMPLETE Gopher §A1.2 repetition rule set —
    # also PERMANENT_EXTERNAL
    "gopher_repetition": q_gopher_repetition,
    # r17 wave 6: D4 cluster-balanced sampling over the shared
    # k-means build — also PERMANENT_EXTERNAL
    "cluster_balanced_sample": q_cluster_balanced_sample,
    # r16: PCM WAV decode + audio quality stats — also
    # PERMANENT_EXTERNAL (same capacity terms)
    "audio_pcm": q_audio_pcm,
    # r17: the complete audio near-dup chain (fingerprint envelope +
    # banding + hamming + CC) — also PERMANENT_EXTERNAL
    "audio_neardup": q_audio_neardup,
    # r18: the video container near-dup chain (mdat envelope
    # fingerprint + duration guard + banding + CC) — also
    # PERMANENT_EXTERNAL
    "video_neardup": q_video_neardup,
    "embedding_lsh": q_embedding_lsh,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    # multimodal_meta: demoted round 5 (fake-decoder path,
    # pytest-covered), rotated back IN for round 6 revalidation.
    "multimodal_meta": q_multimodal_meta,
    "multimodal_real_meta": q_multimodal_real_meta,
    "multimodal_av_meta": q_multimodal_av_meta,
    "text_repetition": q_text_repetition,
    "decontaminate": q_decontaminate,
    "pii_scrub": q_pii_scrub,
    "stratified_sample": q_stratified_sample,
    "pack_plan": q_pack_plan,
    "dedup_pipeline": q_dedup_pipeline,
    "dedup_incremental": q_dedup_incremental,
    "dataset_split": q_dataset_split,
    "shard_plan": q_shard_plan,
    "corpus_rollup": q_corpus_rollup,
    "dedup_stats": q_dedup_stats,
    "chunk_plan": q_chunk_plan,
    "source_filter": q_source_filter,
}

ORACLES = {
    "embedding_generate": ORACLE_EMBEDDING_GENERATE,
    "semantic_dedup": _semantic_dedup_oracle(),
    "unigram_encode": _unigram_oracle(),
    "unigram_byte_fallback": _unigram_bf_oracle(),
    "pdf_text": ORACLE_PDF_TEXT,
    "doc_ingest": _doc_ingest_oracle(),
    "bpe_encode": ORACLE_BPE_ENCODE,
    "dedup_spans": ORACLE_DEDUP_SPANS,
    "domain_stats": _domain_stats_oracle(),
    "html_text": ORACLE_HTML_TEXT,
    "url_normalize": _url_normalize_oracle(),
    "gopher_rules": _gopher_oracle(),
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "text_quality": ORACLE_TEXT_QUALITY,
    "quality_filter": ORACLE_QUALITY_FILTER,
    "dedup_ngram_capped": ORACLE_DEDUP_NGRAM_CAPPED,
    "lang_id": ORACLE_LANG_ID,
    "dedup_ngram": ORACLE_DEDUP_NGRAM,
    "dedup_containment": ORACLE_DEDUP_CONTAINMENT,
    "dedup_groups": ORACLE_DEDUP_GROUPS,
    "dedup_minhash": ORACLE_DEDUP_MINHASH,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "embedding_topk": ORACLE_EMBEDDING_TOPK,
    # the pandas GEMM path answers the same query as the expression
    # path, under the same oracle
    "embedding_topk_pandas": ORACLE_EMBEDDING_TOPK,
    # embedding_ivf: FULL oracle — deterministic Lloyd's k-means build
    # (quantized integer arithmetic) replayed iteration-by-iteration
    # in DuckDB, then probe/score/rank over the in-SQL index
    "embedding_ivf": ORACLE_EMBEDDING_IVF,
    # embedding_pq: FULL oracle — m × k codebook build replayed
    # subspace-by-subspace, then integer-exact ADC lookup/sum/rank
    "embedding_pq": ORACLE_EMBEDDING_PQ,
    # embedding_opq (r15): the PQ oracle extended with the
    # energy-balanced permutation replayed in SQL (integer variance
    # rank + round-robin allocation + rotated vq)
    "embedding_opq": ORACLE_EMBEDDING_OPQ,
    # image_phash (r16): both 64-bit perceptual hashes recomputed in
    # SQL from the closed-form pixel formulas — resample index math,
    # BT.601 luma, bit weights and the signed-int64 fold included
    "image_phash": ORACLE_IMAGE_PHASH,
    # image_neardup (r16): band extraction, hamming and min-label
    # closure replayed on top of the phash pixel formulas
    "image_neardup": ORACLE_IMAGE_NEARDUP,
    # ngram_perplexity (r16): the whole train+score chain replayed —
    # vocab fold, <s> transitions, count tables, backoff penalty,
    # llog2 bit arithmetic; nll_fp is an exact BIGINT
    "ngram_perplexity": NL.bigram_perplexity_sql(),
    # trigram_perplexity (r16): the tri→bi→uni escape chain replayed
    # with two lag windows + three count tables, llog2 throughout
    "trigram_perplexity": NL.trigram_perplexity_sql(),
    # ngram/trigram _kn (r17): the Kneser-Ney chains replayed by
    # ngram_kn's one generated replay at order 2/3 — the quantized
    # Ney discounts recomputed from count-of-counts with integer
    # half-up division, continuation-count tables derived from the
    # n-gram TYPE CTEs, 80/20 ref split driving the escape branches
    "ngram_perplexity_kn": NK.kn_perplexity_sql(
        order=2, ref_filter=KN_REF_FILTER
    ),
    "trigram_perplexity_kn": NK.kn_perplexity_sql(
        order=3, ref_filter=KN_REF_FILTER
    ),
    # pentagram (r17 wave 2): the generated order-5 CTE chain — four
    # lag windows, per-order continuation/context/discount tables,
    # the escape-accumulating CASE
    "pentagram_perplexity_kn": NK.kn_perplexity_sql(
        order=5, ref_filter=KN_REF_FILTER
    ),
    # kn_pruned (r17 wave 3): the order-4 chain with the kcnt{k}
    # threshold CTEs and the renormalized escape numerator
    # (ctx - keptc)*256 + kept*D recomputed per context
    "kn_pruned_perplexity": NK.kn_perplexity_sql(
        order=4, ref_filter=KN_REF_FILTER, prune=KN_PRUNE
    ),
    # perplexity_buckets (r17 wave 3): the CCNet head/middle/tail
    # tercile chain over the bigram scores — distinct-key running
    # totals per language, bucket-where-the-key-begins tie rule
    "perplexity_buckets": NL.perplexity_buckets_sql(
        "WITH bp AS ({inner})\n"
        "    SELECT bp.*, d.lang FROM bp JOIN documents d USING (doc_id)".format(
            inner=NL.bigram_perplexity_sql()
        )
    ),
    # dsir_select (r17 wave 4): training, scoring, the hash-Gumbel
    # transform and the quantized-group selection all replayed
    "dsir_select": _dsir_select_oracle(),
    # decontaminate_fuzzy (r17 wave 4): both sides' shingles, the
    # minhash family, band collision and the component estimate
    "decontaminate_fuzzy": _decontaminate_fuzzy_oracle(),
    # gopher_repetition (r17 wave 5): augmentation, units, positioned
    # grams, top coverage, dup coverage union and the 13-threshold
    # verdict all replayed, generated from the same constants
    "gopher_repetition": gopher_repetition_sql(_GOPHER_REP_AUG),
    # cluster_balanced_sample (r17 wave 6): the full Lloyd's build
    # (shared _ivf_build_ctes) + the salted-hash rank cut
    "cluster_balanced_sample": ORACLE_CLUSTER_BALANCED_SAMPLE,
    # audio_pcm (r16): every stat recomputed from the closed-form
    # sample formula — exact-integer rms via a float-sqrt guess with
    # ±1 correction, so float rounding can never diverge the hash
    "audio_pcm": ORACLE_AUDIO_PCM,
    # audio_neardup (r17): the whole fingerprint->groups chain from
    # the closed-form envelope formulas
    "audio_neardup": ORACLE_AUDIO_NEARDUP,
    # video_neardup (r18): the container fingerprint->groups chain
    # from the closed-form mdat byte formulas
    "video_neardup": ORACLE_VIDEO_NEARDUP,
    "embedding_lsh": ORACLE_EMBEDDING_LSH,
    "embedding_neardup_lsh": ORACLE_EMBEDDING_NEARDUP_LSH,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
    "multimodal_real_meta": ORACLE_MULTIMODAL_REAL_META,
    "multimodal_av_meta": ORACLE_MULTIMODAL_AV_META,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "decontaminate": ORACLE_DECONTAMINATE,
    "pii_scrub": ORACLE_PII_SCRUB,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "pack_plan": ORACLE_PACK_PLAN,
    "dedup_pipeline": ORACLE_DEDUP_PIPELINE,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dataset_split": ORACLE_DATASET_SPLIT,
    "shard_plan": ORACLE_SHARD_PLAN,
    "corpus_rollup": ORACLE_CORPUS_ROLLUP,
    "dedup_stats": ORACLE_DEDUP_STATS,
    "chunk_plan": ORACLE_CHUNK_PLAN,
    "source_filter": ORACLE_SOURCE_FILTER,
    "mixture_plan": ORACLE_MIXTURE_PLAN,
    "quality_classifier": _quality_classifier_oracle(),
    "script_detect": _script_detect_oracle(),
}


# ------------------------------------------------- vocab apply (window candidate)
def q_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-ification under a top-20 corpus vocabulary: BOTH the vocab
    build (count desc / token asc enumeration) and the positional
    lookup are replayed in the oracle — the sequences are md5-gated
    via their string form to keep the payload array-free."""
    docs = _t(spark, sf_dir, "documents")
    out = T.tokens_to_ids(docs, T.vocab_table(docs, k=20))
    return out.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.transform(F.col("token_ids"), lambda x: x.cast("string"))))
            .alias("ids_md5"),
        "n_tokens",
        "n_oov",
    )


ORACLE_TOKENS_TO_IDS = """
WITH tok AS (
    SELECT doc_id, r.i AS pos, toks[r.i + 1] AS token
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-zA-Z0-9]+'),
                             x -> x <> '') AS toks
          FROM documents),
         unnest(range(len(toks))) AS r(i)
), vocab AS (
    SELECT token,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) - 1 AS INTEGER) AS token_id
    FROM (SELECT token, COUNT(*) AS n FROM tok GROUP BY token
          ORDER BY n DESC, token ASC LIMIT 20)
), agg AS (
    SELECT doc_id,
           array_to_string(array_agg(CAST(coalesce(v.token_id, -1) AS VARCHAR) ORDER BY pos), ',') AS ids_str,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM tok LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
)
SELECT d.doc_id,
       md5(coalesce(a.ids_str, '')) AS ids_md5,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_oov, 0) AS n_oov
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------------- IVF-PQ (window candidate)
def q_embedding_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ ANN (similarity.cosine_topk_ivf_pq) with a
    FULL oracle: BOTH deterministic index builds (IVF Lloyd's +
    m-subspace PQ Lloyd's) replayed CTE-prefixed side by side, then
    probe selection, candidate generation and integer ADC scoring —
    the entire FAISS-IVFPQ analogue reproduced in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf_pq(
        emb, emb.filter(F.col("vec_id") < 20), k=5, nprobe=3,
        n_clusters=16, m=4, pq_clusters=16,
    )


# builds use the Spark-side defaults: ivf_index(n_iter=3), pq_index(n_iter=2)
ORACLE_EMBEDDING_IVFPQ = f"""
WITH {_ivf_build_ctes(n_clusters=16, n_iter=3, p="ivf_")},
{_pq_build_ctes(m=4, n_clusters=16, n_iter=2, p="pq_")}, q AS (
    SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
), probe_scored AS (
    SELECT qid, cluster,
        (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT unnest(qv) AS x, unnest(centroid) AS y) t) /
        (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(qv) AS x) t2)) *
         sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(centroid) AS y) t3))) AS c_cos
    FROM q, ivf_centroids
), probes AS (
    SELECT qid, cluster FROM (
        SELECT qid, cluster,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c_cos DESC, cluster ASC) AS c_rank
        FROM probe_scored
    ) WHERE c_rank <= 3
), cands AS (
    SELECT p.qid, a.vec_id AS nid
    FROM probes p JOIN ivf_assigned a USING (cluster)
    WHERE a.vec_id <> p.qid
), qsub AS (
    SELECT vec_id AS qid, sub, svq FROM pq_sv WHERE vec_id < 20
), lut AS (
    SELECT s.qid, s.sub, c.cluster,
           (SELECT SUM((a - b) * (a - b))
            FROM (SELECT unnest(s.svq) AS a, unnest(c.cq_arr) AS b) z) AS part
    FROM qsub s JOIN pq_codebook c ON s.sub = c.sub
), scored AS (
    SELECT cd.qid, cd.nid, SUM(l.part) AS adc
    FROM cands cd
    JOIN pq_codes pc ON pc.vec_id = cd.nid
    JOIN lut l ON l.qid = cd.qid AND l.sub = pc.sub AND l.cluster = pc.cluster
    GROUP BY cd.qid, cd.nid
), ranked AS (
    SELECT qid, nid, adc,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rank
    FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
       CAST(adc AS BIGINT) AS adc
FROM ranked WHERE rank <= 5
"""


# ------------------------------------------- adaptive gate (window candidate)
def q_quality_gate_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived keep-the-top-30% gate
    (corpus.keep_top_fraction_by_score over the whitespace token
    count): exact integer histogram-quantile threshold, ties
    inclusive."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("score", T.whitespace_token_count("text").cast("long"))
    kept = C.keep_top_fraction_by_score(d, "score", keep_pct=30)
    return kept.select("doc_id", "score")


ORACLE_QUALITY_GATE_ADAPTIVE = """
WITH s AS (
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS score
    FROM documents
), h AS (
    SELECT score, COUNT(*) AS cnt FROM s GROUP BY score
), c AS (
    SELECT score,
           SUM(cnt) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER () AS total
    FROM h
), t AS (
    SELECT MAX(score) AS thr FROM c WHERE cum >= (total * 30 + 99) // 100
)
SELECT doc_id, score FROM s, t WHERE score >= thr
"""


# ------------------------------------------- source token cap (window candidate)
def q_source_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget cap (corpus.cap_source_tokens,
    6000-token budget): the greedy doc_id-order prefix whose
    INCLUSIVE cumulative token sum fits the cap."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("n_tokens", T.whitespace_token_count("text").cast("long"))
    return C.cap_source_tokens(d, max_tokens=6000).select(
        "doc_id", "source", "n_tokens"
    )


ORACLE_SOURCE_TOKEN_CAP = """
SELECT doc_id, source, n_tokens FROM (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM (
        SELECT doc_id, source,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
) WHERE cum <= 6000
"""


# See suite/core.py ROTATED_OUT_QUERIES: rotated-out pairs stay under
# the external DuckDB oracle every round via
# tests/test_config_and_job.py::test_rotated_out_keys_still_match_duckdb,
# and the registry also carries WINDOW CANDIDATES (tokens_to_ids,
# embedding_ivfpq, quality_gate_adaptive, source_token_cap) queued
# for a future rotation slot.
# ------------------------------------------- corpus diff (window candidate)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release diff between two corpus versions DERIVED from the
    documents table (old = ids not divisible by 5; new = ids not
    divisible by 3, with ' v2' appended where id % 4 == 0): exercises
    all four statuses with a deterministic fixture both engines can
    rebuild."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 3 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return C.corpus_diff(old, new)


ORACLE_CORPUS_DIFF = """
WITH o AS (
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % 5 <> 0
), n0 AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN text || ' v2' ELSE text END AS text
    FROM documents WHERE doc_id % 3 <> 0
), n AS (
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM n0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


# ------------------------------------------- boilerplate removal (window candidate)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal
    (corpus.remove_boilerplate), differentially checked over planted
    chrome: every document gains a universal footer line (100% doc
    frequency -> stripped), every third document a store banner
    (~33% -> stripped), and every document a unique ref line (doc
    frequency 1 -> kept). The oracle replays the same
    split/count/anti/reassemble in SQL; one divergent byte in any
    reassembled document flips its md5."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nfollow us on social media"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("\nvisit our online store today")
            ).otherwise(F.lit("")),
            F.lit("\nref id "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = C.remove_boilerplate(aug, max_doc_frac=0.05, min_docs=2)
    return out.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("clean_fp"),
        F.length("text").cast("long").alias("clean_len"),
    )


ORACLE_BOILERPLATE = """
WITH aug AS (
    SELECT doc_id,
           text || chr(10) || 'follow us on social media'
                || CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'visit our online store today'
                        ELSE '' END
                || chr(10) || 'ref id ' || CAST(doc_id AS VARCHAR) AS t
    FROM documents
), segs AS (
    -- parallel unnests zip in DuckDB: element + its 1-based position
    SELECT doc_id,
           unnest(string_split(t, chr(10))) AS seg,
           unnest(range(1, len(string_split(t, chr(10))) + 1)) AS ord
    FROM aug
), total AS (
    SELECT COUNT(*) AS n FROM aug
), frequent AS (
    SELECT seg FROM segs, total
    WHERE trim(seg) <> ''
    GROUP BY seg, total.n
    HAVING COUNT(DISTINCT doc_id) >= 2
       AND COUNT(DISTINCT doc_id) >= CEIL(total.n * 0.05)
), kept AS (
    SELECT s.doc_id, s.seg, s.ord FROM segs s
    WHERE NOT EXISTS (SELECT 1 FROM frequent f WHERE f.seg = s.seg)
), rebuilt AS (
    SELECT doc_id, string_agg(seg, chr(10) ORDER BY ord) AS clean
    FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       md5(coalesce(r.clean, '')) AS clean_fp,
       CAST(length(coalesce(r.clean, '')) AS BIGINT) AS clean_len
FROM aug a LEFT JOIN rebuilt r ON a.doc_id = r.doc_id
"""


ROTATED_OUT_QUERIES = {
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "embedding_neardup": q_embedding_neardup,
    "tokens_to_ids": q_tokens_to_ids,
    "embedding_ivfpq": q_embedding_ivfpq,
    "quality_gate_adaptive": q_quality_gate_adaptive,
    "source_token_cap": q_source_token_cap,
    "corpus_diff": q_corpus_diff,
    "boilerplate": q_boilerplate,
}

ROTATED_OUT_ORACLES = {
    "token_count": ORACLE_TOKEN_COUNT,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
    "tokens_to_ids": ORACLE_TOKENS_TO_IDS,
    "embedding_ivfpq": ORACLE_EMBEDDING_IVFPQ,
    "quality_gate_adaptive": ORACLE_QUALITY_GATE_ADAPTIVE,
    "source_token_cap": ORACLE_SOURCE_TOKEN_CAP,
    "corpus_diff": ORACLE_CORPUS_DIFF,
    "boilerplate": ORACLE_BOILERPLATE,
}
