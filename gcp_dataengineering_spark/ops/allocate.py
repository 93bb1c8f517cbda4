"""Proportional cost allocation — the reference's crown-jewel
semantic (SURVEY.md §2.5 W1/W2, §2.3 J9, §3.3 missing-cost pass).

A monthly cost pot is distributed over fact rows in proportion to
each row's share of total reach within a partition. The reference
writes this two ways, and each pipeline site keeps its own form and
its own floating-point order, because the output bits differ:

- **window form** (W1/W2, ``stage_1_hcp_channel_all_hardcode.py:164,
  311, 407, 490, 570``): ``pot * reach / sum(reach) over (partition
  by keys)`` with no ORDER BY ⇒ unbounded full-partition frame.
  Sites: ``pipelines/tam.nvs_tam`` over (brand, year) and the four
  DTC channels of ``pipelines/digital`` over (brand, month, year).
  One shuffle on the partition keys; WindowExec holds a partition in
  memory — fine for (brand, year, month)-sized partitions.
- **grouped-total join form** (J9, ``stage_1:650-674, 993-1002``):
  the ``monthly_reach`` CTE (``groupBy(keys).sum(reach)``) joined
  back, then ``(reach / total) * pot`` — share first, as the
  reference writes it; ``pot * reach / total`` rounds differently.
  Sites: ``pipelines/digital.hcp_paid_search`` (via
  ``allocate_join``) and ``hcp_all_channels`` (via ``reach_share``,
  whose share also scales the /11 and /9 missing-cost terms). The
  totals come from the reach rows alone, before the pot join, so a
  month with several pots is not counted twice. Two-phase hash agg
  gives map-side partial aggregation; no full-partition window state.

Scale guidance: prefer the join form when #partitions ≪ #rows;
prefer the window form when the same shuffle partitioning is reused
by adjacent window/agg steps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TOTAL = "_total_weight"


def allocate_window(
    df: DataFrame,
    pot_col: Column | str,
    weight_col: Column | str,
    partition_by: Sequence[Column | str],
    out_col: str = "cost",
) -> DataFrame:
    """W1/W2 window-form allocation (``stage_1:164, 311``):
    ``pot * weight / sum(weight) over (partition_by)``."""
    pot = F.col(pot_col) if isinstance(pot_col, str) else pot_col
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    win = Window.partitionBy(*[F.col(c) if isinstance(c, str) else c for c in partition_by])
    return df.withColumn(out_col, pot * w / F.sum(w).over(win))


def grouped_totals(df: DataFrame, weight_col: str, partition_by: Sequence[str]) -> DataFrame:
    """J9's totals CTE (``monthly_reach``, ``stage_1:664-667,
    993-1002``): one row per partition with its summed weight."""
    return df.groupBy(*partition_by).agg(F.sum(weight_col).alias(_TOTAL))


def reach_share(
    df: DataFrame,
    weight_col: str,
    partition_by: Sequence[str],
    totals: DataFrame | None = None,
) -> DataFrame:
    """J9 share: ``df`` joined to its partition totals, plus
    ``share = weight / total``.

    ``totals`` defaults to ``grouped_totals(df, ...)``; a caller that
    reuses them builds (and persists) them once and passes them in.
    The join is an inner equi-join on the keys, so rows with a NULL
    key drop, as in the reference's ``d JOIN monthly_reach mr``.
    """
    if totals is None:
        totals = grouped_totals(df, weight_col, partition_by)
    return (
        df.join(totals, list(partition_by))
        .withColumn("share", F.col(weight_col) / F.col(_TOTAL))
        .drop(_TOTAL)
    )


def allocate_join(
    df: DataFrame,
    pots: DataFrame,
    pot_col: str,
    weight_col: str,
    partition_by: Sequence[str],
    out_col: str = "cost",
) -> DataFrame:
    """J9 grouped-total-join allocation (``stage_1:650-674``):
    ``(weight / total) * pot`` per pot row of the partition.

    ``pots`` carries the partition keys and ``pot_col``; a partition
    with several pots yields one allocation per pot, each over the
    same total.
    """
    return (
        reach_share(df, weight_col, partition_by)
        .join(pots, list(partition_by))
        .withColumn(out_col, F.col("share") * F.col(pot_col))
        .drop("share")
    )


def missing_cost_redistribution(
    reach_df: DataFrame,
    pots_df: DataFrame,
    keys: Sequence[str] = ("year", "month", "channel"),
    reach_col: str = "reach",
    cost_col: str = "cost",
) -> DataFrame:
    """The full-join "missing cost" discovery pass of the
    hcp_all_channels query (``stage_1:1004-1035``), generalized.

    A full outer join of reach rows against cost pots on
    (year, month, channel), keeping pots with no reach — no matching
    reach row, or one whose reach is NULL: cost money that would
    otherwise be dropped. Returns one row per (channel, year): the
    unallocated pot sum (``stage_1:1029-1035``), keyed like the
    reference by ``coalesce(d.k, ca.k)`` — so a NULL-reach row with no
    pot yields a NULL sum for its own (channel, year).

    The reference's degenerate ``coalesce(d.x, ca.x) = ca.x``
    condition (J7, ``stage_1:1024-1025``) equals the equi-join used
    here whenever the reach side's keys are non-null (they come from
    an inner join on those keys), and the equi form plans as a
    SortMergeJoin instead of a nested loop; the DuckDB oracles keep
    the literal form. The /11 (Custom) and /9 (Paid Social)
    redistribution policy (``stage_1:1037-1064``) lives in
    ``pipelines/digital.hcp_all_channels``.
    """
    d = reach_df.alias("d")
    ca = pots_df.alias("ca")
    cond = None
    for k in keys:
        c = F.col(f"d.{k}") == F.col(f"ca.{k}")
        cond = c if cond is None else cond & c
    full = d.join(ca, cond, "full")
    missing = full.filter(F.col(f"d.{reach_col}").isNull())
    return (
        missing.groupBy(
            *[F.coalesce(F.col(f"d.{k}"), F.col(f"ca.{k}")).alias(k) for k in ("channel", "year")]
        )
        .agg(F.sum(F.col(f"ca.{cost_col}")).alias("missing_cost"))
    )
