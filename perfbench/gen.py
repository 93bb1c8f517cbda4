"""Seeded input generators for the benchmark workloads.

Both generators are pure functions of their seed: the same seed writes
byte-identical Parquet files, a different seed writes different values
with the same row counts. The program under test only ever sees the
files; the planted structure (which documents are exact duplicates of
each other) is returned to the caller for the correctness checks.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ETL
# Reference-shaped tables (the schemas of fixtures.synth_inputs), about
# 194k rows. run_all's time is per-Spark-job latency at this size; the
# size keeps generation and the DuckDB check near a second.
ETL_CALL_ROWS_PER_VINTAGE_MONTH = 2_500
ETL_NPIS = 20_000
ETL_DMAS = 60
ETL_FEED_ROWS_PER_DMA_MONTH = 6
ETL_ZIPS = 400

# (table, months the vintage covers, months outside its predicate
# that the union must drop)
CALL_VINTAGES = [
    ("calls_v1", range(202201, 202207), [202207, 202210]),
    ("calls_v2", range(202207, 202213), [202206, 202301]),
    ("calls_v3", range(202301, 202313), [202212, 202401]),
    ("calls_v4", range(202401, 202404), [202312]),
]

WEEKLY_CHANNELS = ("EHR", "3RD_PARTY_EMAIL", "POC", "DISPLAY", "VIDEO",
                   "CUSTOM", "ENDEMIC_SOCIAL")

S = pa.string()
I64 = pa.int64()
F64 = pa.float64()


def _months(y0: int, y1: int) -> list[int]:
    return [y * 100 + m for y in range(y0, y1 + 1) for m in range(1, 13)]


def _money(n: int) -> str:
    return f"{n:,d}"


def etl_tables(seed: int) -> dict[str, pa.Table]:
    """The 27 input tables of the reference job, generated from seed."""
    rng = random.Random(seed)
    t: dict[str, pa.Table] = {}

    call_schema = pa.schema([
        ("npi_num", S), ("zip_cd", S), ("city", S), ("state", S),
        ("brand", S), ("yrmo", I64), ("call_p1", S), ("call_p2", S),
        ("call_p3", S), ("calls", S), ("lunch_n_learn_calls", S),
    ])
    for name, inside, outside in CALL_VINTAGES:
        cols: dict[str, list] = {f.name: [] for f in call_schema}
        for yrmo in list(inside) + outside:
            n = ETL_CALL_ROWS_PER_VINTAGE_MONTH
            if yrmo in outside:
                n //= 5
            for _ in range(n):
                k = rng.randrange(ETL_NPIS * 6 // 5)  # ~1/6 miss MDM
                p = rng.randrange(4)
                cols["npi_num"].append(None if rng.random() < 0.02 else f"npi{k}")
                cols["zip_cd"].append(f"z{k % ETL_ZIPS}")
                cols["city"].append(f"c{k % 97}")
                cols["state"].append(f"s{k % 50}")
                cols["brand"].append("XOLAIR")
                cols["yrmo"].append(yrmo)
                cols["call_p1"].append("1" if p == 1 else "0")
                cols["call_p2"].append("1" if p == 2 else "0")
                cols["call_p3"].append("1" if p == 3 else "0")
                cols["calls"].append(str(rng.randint(0, 9)))
                cols["lunch_n_learn_calls"].append("1" if p == 0 and rng.random() < 0.5 else "0")
        t[name] = pa.table(cols, schema=call_schema)

    t["mdm"] = pa.table({
        "npi_number": [f"npi{j}" for j in range(ETL_NPIS)],
        "mdm_id": [f"m{j}" for j in range(ETL_NPIS)],
        "mdm_zip": [f"{10000 + rng.randrange(ETL_ZIPS)}" for _ in range(ETL_NPIS)],
    }, schema=pa.schema([("npi_number", S), ("mdm_id", S), ("mdm_zip", S)]))
    t["hcp_org"] = pa.table({
        "mdm_id": [f"m{j}" for j in range(ETL_NPIS)],
        "mdm_zip": [f"{30000 + rng.randrange(ETL_ZIPS)}" for _ in range(ETL_NPIS)],
        "product_brand_name": [
            ["XOLAIR", "OTHER"] if rng.random() < 0.7 else ["OTHER"]
            for _ in range(ETL_NPIS)
        ],
    }, schema=pa.schema([("mdm_id", S), ("mdm_zip", S),
                         ("product_brand_name", pa.list_(S))]))
    # duplicate rows on purpose: the pipeline must take DISTINCT dmas
    t["demographics"] = pa.table({
        "dma_code": [str(500 + d) for d in range(ETL_DMAS) for _ in range(3)],
        "dma_name": [f"DMA_{d}" for d in range(ETL_DMAS) for _ in range(3)],
        "zip": [f"{20000 + 3 * d + r}" for d in range(ETL_DMAS) for r in range(3)],
    }, schema=pa.schema([("dma_code", S), ("dma_name", S), ("zip", S)]))

    def feed(yrmos, dma_col, clicks=True) -> pa.Table:
        cols: dict[str, list] = {"year_mth": [], dma_col: [], "dma_code": [],
                                 "impressions": []}
        if clicks:
            cols["clicks"] = []
        for ym in yrmos:
            for d in range(ETL_DMAS):
                for _ in range(ETL_FEED_ROWS_PER_DMA_MONTH):
                    cols["year_mth"].append(ym)
                    cols[dma_col].append(f"DMA_{d}")
                    cols["dma_code"].append(str(500 + d))
                    cols["impressions"].append(str(rng.randint(100, 9999)))
                    if clicks:
                        cols["clicks"].append(str(rng.randint(1, 999)))
        schema = [("year_mth", I64), (dma_col, S), ("dma_code", S), ("impressions", S)]
        if clicks:
            schema.append(("clicks", S))
        return pa.table(cols, schema=pa.schema(schema))

    # every month of each vintage plus one month its predicate drops
    t["display_v1"] = feed(_months(2022, 2022) + [202301], "dma_region")
    t["display_v2"] = feed(_months(2023, 2023), "dma_region")
    t["display_v3"] = feed([202401, 202402, 202403], "dma_region")
    t["search_v1"] = feed(_months(2022, 2022), "dma_name")
    t["search_v2"] = feed(_months(2023, 2023) + [202212], "dma_name")
    t["search_v3"] = feed([202401, 202402, 202403], "dma_name")
    t["poc_v1"] = feed(_months(2022, 2022), "dma", clicks=False)
    t["poc_v2"] = feed(_months(2023, 2023), "dma", clicks=False)
    t["poc_v3"] = feed([202401, 202402, 202403], "dma", clicks=False)
    t["social_v1"] = feed(_months(2022, 2022), "dma_name")
    t["social_v2"] = feed(_months(2023, 2023) + [202401, 202402, 202403], "dma_name")

    daily: dict[str, list] = {"dma_code": [], "activity_date": [],
                              "impressions": [], "clicks": []}
    for m in range(1, 13):
        for day in range(1, 29, 3):
            for d in range(ETL_DMAS):
                daily["dma_code"].append(str(500 + d))
                daily["activity_date"].append(f"2022-{m:02d}-{day:02d}")
                daily["impressions"].append(str(rng.randint(50, 999)))
                daily["clicks"].append(str(rng.randint(1, 99)))
    for d in range(ETL_DMAS):  # past the cutoff: the filter must drop these
        daily["dma_code"].append(str(500 + d))
        daily["activity_date"].append("2023-01-05")
        daily["impressions"].append("99999")
        daily["clicks"].append("9")
    t["hcp_search_daily"] = pa.table(daily, schema=pa.schema(
        [("dma_code", S), ("activity_date", S), ("impressions", S), ("clicks", S)]))
    hs = pa.schema([("dma_code", S), ("year_mth", I64), ("impressions", S), ("clicks", S)])
    t["hcp_search_m1"] = feed(_months(2023, 2023), "dma_name").select(
        ["dma_code", "year_mth", "impressions", "clicks"]).cast(hs)
    t["hcp_search_m2"] = feed([202401, 202402, 202403], "dma_name").select(
        ["dma_code", "year_mth", "impressions", "clicks"]).cast(hs)

    weekly: dict[str, list] = {"channel": [], "yrwk": [], "zip_cd": [],
                               "metric": [], "value": []}
    weeks = [y * 100 + w for y in (2022, 2023) for w in range(1, 53)] + [202401]
    for yrwk in weeks:
        for ch in WEEKLY_CHANNELS:
            for z in range(0, ETL_ZIPS, 20):
                zip_cd = None if z == 0 else f"z{z}"
                for metric in ("REACH", "ENGAGEMENT"):
                    weekly["channel"].append(ch)
                    weekly["yrwk"].append(yrwk)
                    weekly["zip_cd"].append(zip_cd)
                    weekly["metric"].append(metric)
                    weekly["value"].append(str(rng.randint(10, 500)))
    t["hcp_all_weekly"] = pa.table(weekly, schema=pa.schema(
        [("channel", S), ("yrwk", I64), ("zip_cd", S), ("metric", S), ("value", S)]))

    def monthly(chs, yrmos, clicks=True) -> pa.Table:
        cols: dict[str, list] = {"dma_code": [], "year_mth": [], "impressions": []}
        if chs is not None:
            cols["ipmm_channel"] = []
        if clicks:
            cols["clicks"] = []
        for ym in yrmos:
            for ch in chs or [None]:
                for d in range(ETL_DMAS):
                    cols["dma_code"].append(500 + d)
                    cols["year_mth"].append(ym)
                    cols["impressions"].append(float(rng.randint(100, 999)))
                    if chs is not None:
                        cols["ipmm_channel"].append(ch)
                    if clicks:
                        cols["clicks"].append(float(rng.randint(1, 99)))
        schema = [("dma_code", I64), ("year_mth", I64), ("impressions", F64)]
        if chs is not None:
            schema.append(("ipmm_channel", S))
        if clicks:
            schema.append(("clicks", F64))
        return pa.table(cols, schema=pa.schema(schema))

    # no Custom/Video reach in the 2024 monthly feeds: the Custom cost
    # pots go unmatched, so the missing-cost redistribution runs
    t["hcp_all_monthly"] = monthly(
        ["EHR", "3rd Party Email", "Digital Display"], [202401, 202402, 202403])
    t["hcp_poc_monthly"] = monthly(None, [202401, 202402, 202403], clicks=False)
    t["hcp_social_monthly"] = monthly(None, [202401, 202402, 202403])

    t["costs_wide"] = pa.table({
        "date_month_": [f"{y}-{m:02d}" for y in (2022, 2023, 2024) for m in range(1, 13)],
        **{
            col: [_money(rng.randint(lo, hi)) for _ in range(36)]
            for col, lo, hi in (
                ("dtc_display_", 10_000, 99_999), ("dtc_search", 10_000, 99_999),
                ("dtc_poc", 10_000, 99_999), ("dtc_social", 10_000, 99_999),
                ("npp", 100_000, 999_999),
            )
        },
    }, schema=pa.schema([(c, S) for c in (
        "date_month_", "dtc_display_", "dtc_search", "dtc_poc", "dtc_social", "npp")]))
    unpivot = [
        (ym, aud, ch, float(rng.randint(5000, 50000)))
        for ym in (202401, 202402, 202403)
        for aud, chans in (
            ("DTC", ["Digital Display", "Paid Search", "POC", "Endemic Social"]),
            ("HCP", ["Digital Display", "Paid Search", "POC", "3rd Party Email",
                     "Endemic Social", "Online Video", "Video", "Custom", "EHR"]),
        )
        for ch in chans
    ]
    t["costs_unpivot"] = pa.table(
        {k: [r[i] for r in unpivot] for i, k in
         enumerate(("year_month", "audience", "channel", "cost"))},
        schema=pa.schema([("year_month", I64), ("audience", S), ("channel", S),
                          ("cost", F64)]))
    return t


# ------------------------------------------------------------- corpus
LANGS = ("en", "de", "fr", "es")
# per-language letter inventories, so languages have disjoint-looking
# vocabularies
_LANG_LETTERS = {
    "en": "etaoinshrdlu",
    "de": "enisratdhulg",
    "fr": "esaitnrulodc",
    "es": "eaosrnidlctu",
}
N_SOURCES = 10
N_TOPICS = 48
TOPIC_WORDS = 40
COMMON_WORDS = 24
TOPIC_PHRASES = 120
SALAD_WORDS = 12


def _word(rng: random.Random, letters: str) -> str:
    return "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))


def _pii(rng: random.Random) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f"mail user{rng.randrange(10**6)}@example{rng.randrange(99)}.com now"
    if kind == 1:
        return f"call {rng.randint(200, 999)}-{rng.randint(200, 999)}-{rng.randint(1000, 9999)} today"
    return f"host {rng.randint(11, 250)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)} seen"


class _Vocab:
    """Per-language common words and per-topic words. A topic's text
    is built from short phrases over its words, so its word trigrams
    recur across documents the way natural text does and an n-gram LM
    trained on the corpus finds it predictable."""

    def __init__(self, rng: random.Random):
        self.common = {
            lang: [_word(rng, _LANG_LETTERS[lang]) for _ in range(COMMON_WORDS)]
            for lang in LANGS
        }
        self.topics = [
            (lang, [_word(rng, _LANG_LETTERS[lang]) for _ in range(TOPIC_WORDS)])
            for t in range(N_TOPICS)
            for lang in (LANGS[t % len(LANGS)],)
        ]
        self.phrases = [
            [[rng.choice(self.common[lang] if rng.random() < 0.35 else words)
              for _ in range(rng.randint(3, 5))] for _ in range(TOPIC_PHRASES)]
            for lang, words in self.topics
        ]

    def doc(self, rng: random.Random, topic: int, n_words: int) -> list[str]:
        out: list[str] = []
        while len(out) < n_words:
            out.extend(rng.choice(self.phrases[topic]))
            if rng.random() < 0.3:
                out[-1] += "."
        return out[:n_words]


def _edit(rng: random.Random, words: list[str], vocab_words: list[str], k: int) -> list[str]:
    out = list(words)
    for _ in range(k):
        out[rng.randrange(len(out))] = rng.choice(vocab_words)
    return out


def _swap_pairs(words: list[str]) -> list[str]:
    out = list(words)
    for i in range(0, len(out) - 1, 2):
        out[i], out[i + 1] = out[i + 1], out[i]
    return out


def corpus_docs(seed: int, n_docs: int) -> tuple[pa.Table, list[list[int]]]:
    """A document corpus (doc_id, text, source, lang) and its planted
    exact-duplicate families (lists of doc ids with identical text).

    Planted structure, as shares of ``n_docs``:

    - 5% exact copies of other documents;
    - ~25% in near-duplicate families of 2-8 (1-3 word substitutions
      each), plus 4 chains of 12 where each member edits the previous
      one, so the connected-components loop needs more rounds;
    - 5% in paraphrase pairs (adjacent words swapped): every word
      3-shingle differs, so only the semantic stage can merge them;
    - 8% word salad: random sequences over 12 words no topic uses, so
      every word context is followed by any of the 12 and the
      corpus-trained n-gram LM scores it far above any topic document;
    - PII literals in ~10%, a low-quality source, and short fragments
      the page gate drops.

    Topics have their own vocabularies, so unrelated documents are not
    semantic near-duplicates."""
    rng = random.Random(seed)
    vocab = _Vocab(rng)
    texts: list[tuple[list[str], int]] = []  # (words, topic; -1 = salad)
    exact_of: list[int] = []  # index of the copied document, else -1

    def add(words: list[str], topic: int, src: int = -1) -> None:
        texts.append((words, topic))
        exact_of.append(src)

    def fresh() -> tuple[list[str], int]:
        topic = rng.randrange(N_TOPICS)
        return vocab.doc(rng, topic, rng.randint(60, 140)), topic

    n_chain, chain_len = 4, 12
    n_family = int(n_docs * 0.25)
    while n_family > 0:
        base, topic = fresh()
        size = min(rng.randint(2, 8), max(n_family, 2))
        add(base, topic)
        for _ in range(size - 1):
            add(_edit(rng, base, vocab.topics[topic][1], rng.randint(1, 3)), topic)
        n_family -= size
    for _ in range(n_chain):
        words, topic = fresh()
        for _ in range(chain_len):
            add(words, topic)
            words = _edit(rng, words, vocab.topics[topic][1], 2)
    for _ in range(int(n_docs * 0.025)):
        words, topic = fresh()
        add(words, topic)
        add(_swap_pairs(words), topic)
    pool = [_word(rng, "abcdefghijklmnopqrstuvwxyz") for _ in range(SALAD_WORDS)]
    for _ in range(int(n_docs * 0.08)):
        add([rng.choice(pool) for _ in range(rng.randint(60, 140))], -1)
    n_exact = int(n_docs * 0.05)
    while len(texts) < n_docs - n_exact:
        add(*fresh())
    for _ in range(n_exact):
        src = rng.randrange(len(texts))
        add(*texts[src], src=src if exact_of[src] < 0 else exact_of[src])

    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id_of = {old: new for new, old in enumerate(order)}
    cols: dict[str, list] = {"doc_id": [], "text": [], "source": [], "lang": []}
    for new, old in enumerate(order):
        words, topic = texts[old]
        source = f"src{rng.randrange(N_SOURCES):02d}"
        text = " ".join(words)
        if exact_of[old] >= 0:
            text = None  # copied from the original below
        elif source == "src09" and rng.random() < 0.7:
            # the low-quality source: mostly fragments the page gate
            # drops, so the source-reputation gate drops the rest
            text = " ".join(words[:8]) + " !!! ??? ..."
        elif rng.random() < 0.03:
            text = " ".join(words[:5])
        elif rng.random() < 0.10:
            cut = rng.randrange(len(words))
            text = " ".join(words[:cut] + [_pii(rng)] + words[cut:])
        cols["doc_id"].append(new)
        cols["text"].append(text)
        cols["source"].append(source)
        cols["lang"].append(vocab.topics[topic][0] if topic >= 0 else rng.choice(LANGS))
    families: dict[int, list[int]] = {}
    for old, src in enumerate(exact_of):
        if src >= 0:
            families.setdefault(src, [doc_id_of[src]]).append(doc_id_of[old])
    for fam in families.values():
        for d in fam[1:]:
            cols["text"][d] = cols["text"][fam[0]]
    table = pa.table(cols, schema=pa.schema(
        [("doc_id", I64), ("text", S), ("source", S), ("lang", S)]))
    return table, sorted(sorted(f) for f in families.values())


# ----------------------------------------------------------------- io
def write_tables(tables: dict[str, pa.Table], out_dir: str) -> tuple[int, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns (rows,
    bytes) written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = size = 0
    for name, table in sorted(tables.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        rows += table.num_rows
        size += os.path.getsize(path)
    return rows, size
