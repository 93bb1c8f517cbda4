"""Conforming projections — SURVEY.md §2.2 (P1-P13) and §2.8 (F1-F16).

The reference conforms heterogeneous feed vintages to a common
schema with constant-literal enrichment, typed-null placeholder
columns, cast-at-use-site discipline, de-comma'd money strings and
CASE-WHEN recode chains. All of it is built-in Spark expressions —
JVM-side, whole-stage-codegen'd; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def typed_null(dtype: str) -> Column:
    """P3 — ``cast(null as double) as engage``
    (``stage_1_hcp_channel_all_hardcode.py:163, 258-259, 448``).

    A typed null keeps the union schema stable across branches that
    lack a metric; without the cast the column would resolve as
    VOID/NullType and poison downstream unions.
    """
    return F.lit(None).cast(dtype)


def parse_money(col: Column | str) -> Column:
    """F3+F2 — de-comma money strings then cast to double
    (``replace(dtc_display_, ',', '')`` + cast, ``stage_1:287, 383,
    473, 554, 637, 953``).

    Money stays DOUBLE throughout (never decimal) to preserve the
    reference's numeric behavior — SURVEY.md §1.2.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c.cast("string"), ",", "").cast("double")


def recode(col: Column | str, mapping: dict[str, str], default: Column | str | None = None) -> Column:
    """P10 — data-driven CASE-WHEN recode chain (channel recodes at
    ``stage_1:843-850, 922-928, 975-981``; the reference's ``LIKE``
    guards contain no wildcards so they are exact matches).

    Builds one ``F.when`` chain — a single codegen'd expression, no
    shuffle, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for src, dst in mapping.items():
        cond = c == src
        expr = F.when(cond, dst) if expr is None else expr.when(cond, dst)
    if expr is None:
        return c
    if default is None:
        return expr.otherwise(c)
    return expr.otherwise(default if isinstance(default, Column) else F.lit(default))


def yrmo_year(col: Column | str) -> Column:
    """F1 — year from a YYYYMM key: ``substring(year_mth, 1, 4)``
    (``stage_1:255, 285, 351`` …). Returns string, as the reference
    does; callers cast at use-site."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c.cast("string"), 1, 4)


def yrmo_month(col: Column | str) -> Column:
    """F1 — month from a YYYYMM key: ``substring(year_mth, 5, 2)``
    (``stage_1:256, 286, 352`` …)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c.cast("string"), 5, 2)


def daily_to_yrmo(date_col: Column | str) -> Column:
    """F7+F8 — daily grain → YYYYMM:
    ``date_format(cast(activity_date as date), 'yyyyMM')``
    (``stage_1:582``)."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.date_format(c.cast("date"), "yyyyMM")


def week_to_month(week_col: Column | str) -> Column:
    """F11 — the reference's week→month mapping, translated from
    Presto/Athena dialect to valid Spark.

    The original (``stage_1:853``) is
    ``CAST(date_format(date_add('month', CAST((CAST(week AS int)-1)/4
    AS int), date_parse(concat(year,'-01-01'), '%Y-%m-%d')), '%m') AS
    int)`` — Presto/Athena syntax that would FAIL under Spark SQL.
    Semantics: month-offset = (week-1) integer-div 4, added to Jan 1,
    then only the month number is kept. Deliberate quirk preserved:
    weeks 49-52 produce offset 12 → January of the NEXT year → month
    wraps to 1, while the output ``year`` column keeps the ORIGINAL
    year string (``stage_1:852`` selects ``year`` unchanged). So
    (year=2023, week=49) → (year=2023, month=1). Week 53 → month 2.
    Faithful closed form: ``((week-1) div 4) % 12 + 1``.
    """
    w = F.col(week_col) if isinstance(week_col, str) else week_col
    offset = F.floor((w.cast("int") - F.lit(1)) / F.lit(4)).cast("int")
    return (offset % 12 + F.lit(1)).cast("int")


def conform_schema(df: DataFrame, schema: str | "StructType") -> DataFrame:
    """Conform a heterogeneous ingest batch to a target schema: cast
    columns that exist, add typed NULLs for columns the batch lacks,
    drop extras, and emit the target column ORDER — so any two
    conformed batches union cleanly (`unionByName` never sees a
    mismatch). The multi-vendor-feed version of what the digital
    pipeline does by hand per channel.

    Pure projection — casts and typed nulls, no shuffle, no data
    rewrite. Casts are try_cast: under ANSI mode (Spark 4 default) a
    plain cast THROWS on the first malformed vendor value and kills
    the whole ingest; try_cast lands it as NULL so the batch loads
    and a downstream quality gate can count/quarantine the nulls."""
    from pyspark.sql import types as _T

    target = (
        _T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    cols = []
    have = dict(df.dtypes)
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).try_cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
