"""Vintage-snapshot union — SURVEY.md §2.7 U1, the reference's
signature incremental-batch emulation.

The reference unions several historical snapshots ("vintages") of
the same feed, each restricted to a non-overlapping time range, so
later vintages only contribute rows newer than the previous cutoff
(``stage_1_hcp_channel_all_hardcode.py:95-115`` — 4-way on calls;
``229-243, 324-339, 420-429, 503-509, 581-593`` — per-channel).

Scale notes:
- the per-branch predicate is applied *before* the union, so
  Catalyst pushes each filter into its own parquet scan
  (PushedFilters) — at 100 TB each vintage reads only its slice.
- ``unionByName`` (not positional ``union``) so schema drift between
  vintages fails loudly instead of silently mis-mapping columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def union_vintages(
    branches: Sequence[tuple[DataFrame, Column | None]],
    source_col: str | None = None,
    source_names: Sequence[str] | None = None,
) -> DataFrame:
    """UNION ALL of vintage snapshots with per-branch predicates.

    branches: [(df, predicate_or_None), ...] — predicate None means
    the branch is taken whole (the newest vintage usually has only a
    lower bound; the reference encodes both bounds explicitly).
    source_col/source_names: optionally stamp a literal source tag
    per branch (P2-style enrichment, like ``'NVS_TAM' as source``).
    """
    out: DataFrame | None = None
    for i, (df, pred) in enumerate(branches):
        b = df.filter(pred) if pred is not None else df
        if source_col is not None:
            name = source_names[i] if source_names else f"v{i + 1}"
            b = b.withColumn(source_col, F.lit(name))
        out = b if out is None else out.unionByName(b)
    if out is None:
        raise ValueError("union_vintages: no branches")
    return out


def union_vintage_ranges(
    tables: dict[str, DataFrame],
    ranges: Sequence[tuple[str, int, int | None]],
    cols: Sequence[str],
    key: str,
) -> DataFrame:
    """The reference's vintage spelling: each ``(table, lo, hi)``
    branch is ``SELECT cols FROM table WHERE key BETWEEN lo AND hi``,
    or ``key >= lo`` when ``hi`` is None (the open newest vintage)."""
    k = F.col(key)
    return union_vintages([
        (tables[name].select(*cols), k >= lo if hi is None else k.between(lo, hi))
        for name, lo, hi in ranges
    ])


def assert_disjoint(
    branches: Sequence[tuple[DataFrame, Column]], key: Column | str
) -> None:
    """Optional sanity check (test-time only — it runs actions):
    verifies the per-branch predicates select disjoint key ranges.
    Not for the 100 TB hot path; use in CI at small SF."""
    seen: set = set()
    k = F.col(key) if isinstance(key, str) else key
    for df, pred in branches:
        vals = {r[0] for r in df.filter(pred).select(k.alias("k")).distinct().collect()}
        overlap = seen & vals
        if overlap:
            raise AssertionError(f"vintage branches overlap on keys: {sorted(overlap)[:10]}")
        seen |= vals
