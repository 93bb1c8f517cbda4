"""nvs_tam reconstruction — the reference's flagship query
(``stage_1_hcp_channel_all_hardcode.py:93-225``), composed from the
``ops`` operators.

Shape: 4-way vintage union of call snapshots
(``ops/vintage.union_vintage_ranges``) → MDM join on npi → HCP-org
join with array_contains brand guard → display-order CASE → inline
year-cost pots → expression-key join on the ``yrmo_year`` split →
W1 window allocation over (brand, year)
(``ops/allocate.allocate_window``) → final typed aggregation.

Scale notes: the two dimension joins broadcast (MDM/org maps are
small next to the call feeds); the window shuffle key (brand, year)
is low-cardinality — at 100 TB the final groupBy dominates and is
map-side-combinable. Time filters sit inside each union branch so
they push into the vintage scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.allocate import allocate_window
from ..ops.conform import typed_null, yrmo_year
from ..ops.vintage import union_vintage_ranges

CALL_COLS = [
    "npi_num", "zip_cd", "city", "state", "brand", "yrmo",
    "call_p1", "call_p2", "call_p3", "calls", "lunch_n_learn_calls",
]

# (vintage table key, lower yrmo, upper yrmo or None) — stage_1:95-115
CALL_VINTAGES = [
    ("calls_v1", 202201, 202206),
    ("calls_v2", 202207, 202212),
    ("calls_v3", 202301, 202312),
    ("calls_v4", 202401, None),
]

# stage_1:134-140 — inline VALUES cost pots
TAM_COSTS = [
    ("XOLAIR", 32000000.0, "2022"),
    ("XOLAIR", 32000000.0, "2023"),
    ("XOLAIR", 36583323.0, "2024"),
]


def nvs_tam(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """t: table registry with keys calls_v1..v4, mdm, hcp_org."""
    raw_calls = union_vintage_ranges(t, CALL_VINTAGES, CALL_COLS, "yrmo")

    mdm = t["mdm"]
    hcp = t["hcp_org"]
    # stage_1:116-133 — joins + display-order CASE + not-null guard
    normalized = (
        raw_calls.filter(F.col("npi_num").isNotNull())
        .join(F.broadcast(mdm), raw_calls.npi_num == mdm.npi_number, "inner")
        .join(
            F.broadcast(hcp),
            (mdm.mdm_id == hcp.mdm_id)
            & F.array_contains(hcp.product_brand_name, "XOLAIR"),
            "inner",
        )
        .select(
            hcp.mdm_zip.alias("zip_code"),
            F.col("yrmo").alias("year_month"),
            F.lit("XOLAIR").alias("product_brand_name"),
            F.when((F.col("call_p1") == "1") | (F.col("lunch_n_learn_calls") == "1"), 1)
            .when(F.col("call_p2") == "1", 2)
            .when(F.col("call_p3") == "1", 3)
            .alias("display_order"),
        )
    )

    costs = spark.createDataFrame(TAM_COSTS, "brand string, cost double, year string")

    # stage_1:141-153 — reach = 1/display_order; join on brand + substr(ym,1,4)=year
    hcp_costs = normalized.join(
        F.broadcast(costs),
        (normalized.product_brand_name == costs.brand)
        & (yrmo_year(normalized.year_month) == costs.year),
        "inner",
    ).select(
        "product_brand_name",
        "year_month",
        F.col("zip_code").alias("zip"),
        F.lit("CE").alias("audience"),
        F.lit("tam_hd").alias("channel"),
        (F.lit(1.0) / F.col("display_order")).alias("reach"),
        "cost",
    )

    # stage_1:154-166 — window allocation over (brand, year)
    final_agg = allocate_window(
        hcp_costs, "cost", "reach", ["product_brand_name", yrmo_year("year_month")]
    )

    # stage_1:167-180 — final typed aggregation
    return final_agg.groupBy(
        "product_brand_name",
        F.lit("NVS").alias("source"),
        "year_month",
        F.col("zip").cast("string").alias("zip"),
        "audience",
        "channel",
    ).agg(
        F.sum(F.col("reach").cast("double")).alias("reach"),
        F.sum(typed_null("double")).alias("engage"),
        F.sum(F.col("cost").cast("double")).alias("cost"),
    )
