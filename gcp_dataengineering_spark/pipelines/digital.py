"""nvs_digital reconstruction — the six channel pipelines and their
6-way union (``stage_1_hcp_channel_all_hardcode.py:227-1128``),
composed from the ``ops`` operators.

Each channel is the reference's core pattern: union vintages
(``ops/vintage.union_vintage_ranges``) → conform (``ops/conform``
YYYYMM splits, recodes, typed nulls) → join the deduped DMA dim
(``_join_dma``; J8 cast-key variant for the bigint-coded monthly
feeds) → allocate a cost pot by reach share:
- the four DTC channels are rows of one spec table (``_DTC``, the
  twin of ``suite/e2e._dtc_sql``) and allocate with the W2 window
  (``ops/allocate.allocate_window``);
- hcp_paid_search allocates with the J9 grouped-total join
  (``allocate_join``); hcp_all_channels pivots its weekly feed
  (``ops/pivot.conditional_pivot``), takes its J9 share from
  ``reach_share`` and finds unallocated 2024 pots with
  ``missing_cost_redistribution``.

Preserved quirks (SURVEY.md §4; they affect output bits):
- CASE recodes with no ELSE → unmatched channels become NULL and
  are then dropped by inner joins on channel;
- month is INT in the five simple channels but STRING out of
  hcp_all_channels (old weekly feed yields int month, new monthly
  feed casts to string; their union coerces to string) — the final
  6-way union therefore coerces month to STRING overall, exactly
  like Spark SQL's positional-union coercion in the reference;
- the degenerate full-join condition coalesce(d.k, ca.k) = ca.k,
  run as the equivalent equi-join (see missing_cost_redistribution);
- missing-2024 cost redistributed into Custom (/11) and Paid Social
  (/9) months;
- dtc_poc groups by 9 keys incl. literal columns; redundant
  DISTINCT-with-GROUP-BY kept as plain groupBy (no-op).

Scale notes: every channel feed aggregates to (year, month, dma)
before joining the deduped DMA dim (broadcast); window allocation
partitions on (brand, month, year) — tiny keyspace, so AQE coalesces
the post-shuffle partitions; the monster query's cost tables are
kilobytes and broadcast everywhere.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..ops.allocate import (
    allocate_join,
    allocate_window,
    grouped_totals,
    missing_cost_redistribution,
    reach_share,
)
from ..ops.conform import (
    daily_to_yrmo,
    parse_money,
    recode,
    typed_null,
    week_to_month,
    yrmo_month,
    yrmo_year,
)
from ..ops.pivot import conditional_pivot
from ..ops.vintage import union_vintage_ranges

BRAND = "XOLAIR"

# stage_1:843-850 — weekly-feed channel recode (LIKE guards are exact)
OLD_CHANNEL_RECODE = {
    "EHR": "EHR/EMR",
    "3RD_PARTY_EMAIL": "Third-Party Email",
    "POC": "Point of Care",
    "DISPLAY": "Display",
    "VIDEO": "Custom",
    "CUSTOM": "Custom",
    "ENDEMIC_SOCIAL": "Paid Social",
}

# stage_1:922-928 — monthly-feed channel recode
NEW_CHANNEL_RECODE = {
    "EHR": "EHR/EMR",
    "3rd Party Email": "Third-Party Email",
    "POC": "Point of Care",
    "Digital Display": "Display",
    "Video": "Custom",
    "Custom": "Custom",
    "Endemic Social": "Paid Social",
}

# stage_1:975-981 — cost-unpivot channel recode
COST_CHANNEL_RECODE = {
    "POC": "Point of Care",
    "Digital Display": "Display",
    "3rd Party Email": "Third-Party Email",
    "Endemic Social": "Paid Social",
    "Online Video": "Custom",
    "Video": "Custom",
    "Custom": "Custom",
}

# stage_1:957-969 — legacy npp split fractions per channel
LEGACY_CHANNEL_FRACTIONS = [
    ("Display", 0.39),
    ("Paid Social", 0.22),
    ("Third-Party Email", 0.06),
    ("Point of Care", 0.08),
    ("Custom", 0.08),
    ("EHR/EMR", 0.01),
]


def cleaned_dmas(demographics: DataFrame) -> DataFrame:
    """P11 dim dedup (``stage_1:244-248``) — the demographics table
    carries duplicate (dma_code, dma_name) rows."""
    return demographics.select("dma_code", "dma_name").distinct()


def _conform_feed(
    unioned: DataFrame,
    channel: str,
    audience: str,
    with_engage: bool = True,
) -> DataFrame:
    """nvs_cleaned shape (``stage_1:251-264`` et al.): constant
    enrichment + yrmo split + per-(year, month, dma) aggregation.
    POC has no clicks → engage is a typed null (``stage_1:448``)."""
    return (
        unioned.select(
            F.lit(BRAND).alias("brand"),
            F.lit(channel).alias("channel"),
            F.lit(audience).alias("audience"),
            yrmo_year("year_mth").alias("year"),
            yrmo_month("year_mth").alias("month"),
            F.col("dma_code"),
            typed_null("string").alias("zip_code"),
            typed_null("string").alias("state"),
            F.lit("US").alias("country"),
            F.col("impressions"),
            *( [F.col("clicks")] if with_engage else [] ),
        )
        .groupBy("brand", "channel", "audience", "year", "month", "dma_code",
                 "zip_code", "state", "country")
        .agg(
            F.sum(F.col("impressions").cast("double")).alias("reach"),
            (
                F.sum(F.col("clicks").cast("double")) if with_engage else F.max(typed_null("double"))
            ).alias("engage"),
        )
    )


def _join_dma(conformed: DataFrame, dma_dim: DataFrame, cast_code: bool = False) -> DataFrame:
    """dma_joined (``stage_1:266-281``): attach dma_name, drop
    dma_code. J8 cast-key variant for the bigint-coded feeds
    (``stage_1:940-941``)."""
    nvs = conformed.alias("nvs")
    cd = dma_dim.alias("cd")
    left_key = F.col("nvs.dma_code")
    if cast_code:
        left_key = left_key.cast("string")
    return (
        nvs.join(F.broadcast(cd), left_key == F.col("cd.dma_code"), "inner")
        .select(
            "nvs.brand", "nvs.channel", "nvs.audience", "nvs.month", "nvs.year",
            "nvs.zip_code", F.col("cd.dma_name").alias("dma"), "nvs.state",
            "nvs.country", "nvs.reach", "nvs.engage",
        )
    )


def legacy_costs(costs_wide: DataFrame, money_col: str, cutoff: str | None = "2023-12",
                 factor: float | None = None) -> DataFrame:
    """costs_cleaned legacy branch (``stage_1:283-289``): 'YYYY-MM'
    month key split + de-comma'd money cast; optional npp fraction
    (``stage_1:637`` — npp * 0.16)."""
    df = costs_wide
    if cutoff is not None:
        df = df.filter(F.col("date_month_") <= cutoff)
    cost = parse_money(money_col)
    if factor is not None:
        cost = cost * factor
    dm = F.col("date_month_").cast("string")
    return df.select(
        F.substring(dm, 1, 4).alias("year"),
        F.substring(dm, 6, 2).alias("month"),
        cost.alias("cost"),
    )


def unpivot_costs(costs_unpivot: DataFrame, audience: str, channel_upper: str,
                  grouped: bool = False) -> DataFrame:
    """costs_cleaned new branch (``stage_1:290-296``): tall cost rows
    filtered by audience + upper(channel); HCP search sums per month
    (``stage_1:640-648``)."""
    base = costs_unpivot.filter(
        (F.col("audience") == audience) & (F.upper(F.col("channel")) == channel_upper)
    ).select(
        yrmo_year("year_month").alias("year"),
        yrmo_month("year_month").alias("month"),
        F.col("cost"),
    )
    if grouped:
        return base.groupBy("year", "month").agg(F.sum("cost").alias("cost"))
    return base


def _allocate(dma_joined: DataFrame, costs: DataFrame, how: str) -> DataFrame:
    """final_agg (``stage_1:298-320``): attach the month's cost pot
    (J4/J5) and allocate it by reach share within (brand, month,
    year) — the W2 window. The window partitions on the string month;
    it is cast to INT after, as the reference's select does."""
    dj = dma_joined.alias("dj")
    cc = costs.alias("cc")
    joined = dj.join(
        cc,
        (F.col("dj.year") == F.col("cc.year")) & (F.col("dj.month") == F.col("cc.month")),
        how,
    ).select(
        "dj.brand", "dj.channel", "dj.audience", "dj.year", "dj.month", "dj.zip_code",
        "dj.dma", "dj.state", "dj.country", "dj.reach", "dj.engage",
        F.col("cc.cost").cast("double").alias("cost"),
    )
    return allocate_window(joined, "cost", "reach", ["brand", "month", "year"]).withColumn(
        "month", F.col("month").cast("integer")
    )


class _Dtc(NamedTuple):
    vintages: list[tuple[str, int, int | None]]
    channel: str
    with_engage: bool
    legacy_col: str
    legacy_cutoff: str | None
    unpivot_channel: str | None
    how: str


# The four DTC channels (stage_1:228-578), one row each, with the
# parameters of their oracle twin suite/e2e._dtc_sql: year_mth vintage
# ranges, channel, whether the feed has clicks, legacy cost column and
# date cutoff, the unpivot cost channel (None: legacy costs only) and
# the cost join.
_DTC = {
    "display": _Dtc(
        [("display_v1", 202201, 202212), ("display_v2", 202301, 202312),
         ("display_v3", 202401, None)],
        "Display", True, "dtc_display_", "2023-12", "DIGITAL DISPLAY", "inner",
    ),
    "paid_search": _Dtc(
        [("search_v1", 202201, 202212), ("search_v2", 202301, 202312),
         ("search_v3", 202401, None)],
        "Paid Search", True, "dtc_search", "2023-12", "PAID SEARCH", "inner",
    ),
    "poc": _Dtc(
        [("poc_v1", 202201, 202212), ("poc_v2", 202301, 202312), ("poc_v3", 202401, None)],
        "Point of Care", False, "dtc_poc", "2023-12", None, "left",
    ),
    # legacy costs with NO date cutoff (stage_1:550-556)
    "paid_social": _Dtc(
        [("social_v1", 202201, 202212), ("social_v2", 202301, None)],
        "Paid Social", True, "dtc_social", None, None, "left",
    ),
}


def _dtc_channel(t: dict[str, DataFrame], spec: _Dtc) -> DataFrame:
    feed = ["year_mth", "dma_code", "impressions", *(["clicks"] if spec.with_engage else [])]
    unioned = union_vintage_ranges(t, spec.vintages, feed, "year_mth")
    conformed = _conform_feed(unioned, spec.channel, "DTC", with_engage=spec.with_engage)
    dj = _join_dma(conformed, cleaned_dmas(t["demographics"]))
    costs = legacy_costs(t["costs_wide"], spec.legacy_col, cutoff=spec.legacy_cutoff)
    if spec.unpivot_channel is not None:
        costs = costs.unionByName(unpivot_costs(t["costs_unpivot"], "DTC", spec.unpivot_channel))
    return _allocate(dj, costs, spec.how)


def dtc_display(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """``stage_1:228-321``."""
    return _dtc_channel(t, _DTC["display"])


def dtc_paid_search(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """``stage_1:323-416``."""
    return _dtc_channel(t, _DTC["paid_search"])


def dtc_poc(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """``stage_1:419-499`` — impressions only; LEFT cost join."""
    return _dtc_channel(t, _DTC["poc"])


def dtc_paid_social(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """``stage_1:502-578`` — 2 vintages; LEFT cost join."""
    return _dtc_channel(t, _DTC["paid_social"])


# stage_1:587-593 — the monthly vintages after the daily one
HCP_SEARCH_VINTAGES = [("hcp_search_m1", 202301, 202312), ("hcp_search_m2", 202401, None)]


def hcp_paid_search(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """``stage_1:580-679`` — daily→monthly first vintage (F7/F8);
    cost pot = legacy npp*0.16 ∪ grouped unpivot; allocation via the
    J9 grouped-total join, not a window."""
    daily = t["hcp_search_daily"].filter(F.col("activity_date") <= "2022-12-31").select(
        "dma_code", daily_to_yrmo("activity_date").alias("year_mth"), "impressions", "clicks"
    )
    monthly = union_vintage_ranges(
        t, HCP_SEARCH_VINTAGES, ["dma_code", "year_mth", "impressions", "clicks"], "year_mth"
    )
    unioned = daily.unionByName(monthly.withColumn("year_mth", F.col("year_mth").cast("string")))
    conformed = _conform_feed(unioned, "Paid Search", "HCP")
    dj = _join_dma(conformed, cleaned_dmas(t["demographics"]))

    costs = legacy_costs(t["costs_wide"], "npp", factor=0.16).unionByName(
        unpivot_costs(t["costs_unpivot"], "HCP", "PAID SEARCH", grouped=True)
    )
    return allocate_join(dj, costs, "cost", "reach", ["year", "month"]).select(
        "brand", "channel", "audience", "year", F.col("month").cast("integer").alias("month"),
        "zip_code", "dma", "state", "country", "reach", "engage", "cost",
    )


def hcp_all_channels(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """``stage_1:817-1066`` — the monster: weekly pivoted feed +
    monthly feeds, channel recodes, legacy fraction pots ∪ new pots,
    per-channel monthly reach, full-join discovery of unallocated
    2024 cost, and its /11 (Custom) & /9 (Paid Social)
    redistribution."""
    null_str = typed_null("string")

    # pivoted_hcp_all (stage_1:823-838): conditional-agg pivot A3; the
    # YYYYWW key splits like a YYYYMM one
    weekly = t["hcp_all_weekly"]
    pivoted = conditional_pivot(
        weekly.filter(F.col("zip_cd").isNotNull() & (F.col("yrwk") <= 202352)),
        [
            F.lit(BRAND).alias("brand"),
            F.col("channel"),
            F.lit("HCP").alias("audience"),
            yrmo_year("yrwk").alias("year"),
            yrmo_month("yrwk").alias("week"),
            F.col("zip_cd").alias("zip_code"),
            null_str.alias("dma"),
            null_str.alias("state"),
            F.lit("US").alias("country"),
        ],
        "metric", "value", {"REACH": "reach", "ENGAGEMENT": "engage"},
    )

    # weekly_to_monthly (stage_1:840-859): recode + F11 week→month
    w2m = pivoted.select(
        "brand",
        recode("channel", OLD_CHANNEL_RECODE, default=null_str).alias("channel"),
        "audience",
        "year",
        week_to_month("week").alias("month"),
        "zip_code", "dma", "state", "country", "reach", "engage",
    )

    # hcp_channels_old (stage_1:862-877): redundant distinct + group-by-9
    old = (
        w2m.groupBy("brand", "channel", "audience", "year", "month",
                    F.col("zip_code").cast("string").alias("zip_code"),
                    "dma", "state", "country")
        .agg(F.sum("reach").alias("reach"), F.sum("engage").alias("engage"))
    )

    # hcp_channels_combined (stage_1:884-901): 3 monthly feeds
    ymr = F.col("year_mth")
    comb1 = (
        t["hcp_all_monthly"].filter(ymr >= 202401)
        .groupBy("ipmm_channel", "dma_code", "year_mth")
        .agg(F.sum("impressions").alias("impressions"), F.sum("clicks").alias("clicks"))
    )
    comb2 = (
        t["hcp_poc_monthly"].filter(ymr >= 202401)
        .groupBy(F.lit("POC").alias("ipmm_channel"), "dma_code", "year_mth")
        .agg(F.sum("impressions").alias("impressions"),
             F.max(typed_null("double")).alias("clicks"))
    )
    comb3 = (
        t["hcp_social_monthly"].filter(ymr >= 202401)
        .groupBy(F.lit("Endemic Social").alias("ipmm_channel"), "dma_code", "year_mth")
        .agg(F.sum("impressions").alias("impressions"), F.sum("clicks").alias("clicks"))
    )
    combined = comb1.unionByName(comb2).unionByName(comb3)

    # hcp_raw_data (stage_1:903-918)
    raw = (
        combined.groupBy(
            F.lit(BRAND).alias("brand"),
            F.col("ipmm_channel").alias("channel"),
            F.lit("HCP").alias("audience"),
            F.col("dma_code"),
            yrmo_year("year_mth").alias("year"),
            yrmo_month("year_mth").alias("month"),
            null_str.alias("zip_code"),
            null_str.alias("state"),
            F.lit("US").alias("country"),
        )
        .agg(F.sum("impressions").alias("reach"), F.sum("clicks").alias("engage"))
    )

    # hcp_channels_new (stage_1:920-942): J8 cast-key dim join + recode
    new = _join_dma(raw, cleaned_dmas(t["demographics"]), cast_code=True).withColumn(
        "channel", recode("channel", NEW_CHANNEL_RECODE, default=null_str)
    )

    # all_hcp_unioned (stage_1:943-947): old month INT ∪ new month
    # STRING — SQL positional union coerces to string; done explicitly.
    # Persisted: consumed by monthly_reach, the full-join discovery
    # branch AND the final allocation (3 consumers) — relying on
    # AQE's stage cache to dedup those scans is deployment-dependent;
    # an explicit MEMORY_AND_DISK persist guarantees the union (and
    # everything under it) is computed once on any deployment.
    all_hcp = (
        old.withColumn("month", F.col("month").cast("string"))
        .unionByName(new)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # spend_data + channel_allocations (stage_1:949-991)
    spend = legacy_costs(t["costs_wide"], "npp").withColumnRenamed("cost", "total_cost")
    fractions = spark.createDataFrame(LEGACY_CHANNEL_FRACTIONS, "channel string, frac double")
    alloc_old = spend.crossJoin(F.broadcast(fractions)).select(
        F.lit(BRAND).alias("brand"), "year", "month", "channel",
        (F.col("total_cost") * F.col("frac")).alias("cost"),
    )
    alloc_new = (
        t["costs_unpivot"].filter(F.col("audience") == "HCP")
        .groupBy(
            F.lit(BRAND).alias("brand"),
            yrmo_year("year_month").alias("year"),
            yrmo_month("year_month").alias("month"),
            recode("channel", COST_CHANNEL_RECODE, default=null_str).alias("channel"),
        )
        .agg(F.sum("cost").alias("cost"))
    )
    # Persisted: joined by both the discovery branch and the final
    # allocation (2 consumers each).
    allocations = alloc_old.unionByName(alloc_new).persist(StorageLevel.MEMORY_AND_DISK)

    # monthly_reach (stage_1:993-1002), persisted for its two
    # consumers; d ⋈ mr carries share = reach / total_monthly_reach,
    # and rows with a NULL channel drop at that equi-join. The
    # reference also groups by brand, a single literal here.
    keys = ["year", "month", "channel"]
    monthly_reach = grouped_totals(all_hcp, "reach", keys).persist(StorageLevel.MEMORY_AND_DISK)
    d_mr = reach_share(all_hcp, "reach", keys, totals=monthly_reach)

    # final_allocation_including_missing_cost + missing_cost_channel_year
    # (stage_1:1004-1035): 2024 Custom / Paid Social pots with no reach
    missing = missing_cost_redistribution(d_mr, allocations, keys).filter(
        (F.col("year") == "2024") & F.col("channel").isin("Paid Social", "Custom")
    )

    # final_allocation (stage_1:1037-1064): base allocation + the
    # /11 (Custom) and /9 (Paid Social) 2024 redistribution. The
    # reference also matches mc on audience, which is 'HCP' on every
    # row of both sides.
    d = d_mr.alias("d")
    ca = allocations.alias("ca")
    mc = missing.alias("mc")
    base = d.join(
        ca,
        (F.col("d.year") == F.col("ca.year"))
        & (F.col("d.month") == F.col("ca.month"))
        & (F.col("d.channel") == F.col("ca.channel")),
        "inner",
    ).join(
        mc,
        (F.col("d.year") == F.col("mc.year")) & (F.col("d.channel") == F.col("mc.channel")),
        "left",
    )
    share = F.col("d.share")
    hcp_2024 = (F.col("d.year") == "2024") & (F.col("d.audience") == "HCP")
    return base.select(
        F.col("d.brand").alias("brand"),
        F.col("d.channel").alias("channel"),
        F.col("d.audience").alias("audience"),
        F.col("d.year").alias("year"),
        F.col("d.month").alias("month"),
        F.col("d.zip_code").alias("zip_code"),
        F.col("d.dma").alias("dma"),
        F.col("d.state").alias("state"),
        F.col("d.country").alias("country"),
        F.col("d.reach").alias("reach"),
        F.col("d.engage").alias("engage"),
        F.when(
            (F.col("d.channel") == "Custom") & hcp_2024,
            share * F.col("ca.cost") + share * (F.col("mc.missing_cost") / 11),
        )
        .when(
            (F.col("d.channel") == "Paid Social") & hcp_2024,
            share * F.col("ca.cost") + share * (F.col("mc.missing_cost") / 9),
        )
        .otherwise(share * F.col("ca.cost"))
        .alias("cost"),
    )


def nvs_digital(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """6-way union (``stage_1:1069-1084``). The five simple channels
    emit month INT, hcp_all_channels emits month STRING — the union
    coerces month to STRING (SQL positional-union behavior, made
    explicit here; SURVEY §4 quirk 4)."""
    parts = [
        dtc_display(spark, t),
        dtc_paid_search(spark, t),
        dtc_poc(spark, t),
        dtc_paid_social(spark, t),
        hcp_paid_search(spark, t),
        hcp_all_channels(spark, t),
    ]
    out = None
    for p in parts:
        p = p.withColumn("month", F.col("month").cast("string"))
        out = p if out is None else out.unionByName(p)
    return out
