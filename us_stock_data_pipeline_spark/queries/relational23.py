"""Round-8 relational/ETL additions, part 23: small-file compaction
planning and discount elasticity regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.catalog import load_table
from us_stock_data_pipeline_spark.registry import register

# --------------------------------------------------------------------------
# Small-file compaction planner (cumulative-bytes bin assignment)
# --------------------------------------------------------------------------

_COMPACT_TARGET = 20_000  # target bytes per compacted output file

_COMPACT_ORACLE = f"""
WITH files AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes
  FROM documents
),
binned AS (
  SELECT source, doc_id, bytes,
         (sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - bytes)
           // {_COMPACT_TARGET} AS bin
  FROM files
)
SELECT source, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM binned
GROUP BY source, bin
ORDER BY source, bin
"""


@register("etl_compaction_bins", oracle=_COMPACT_ORACLE, tags=("etl", "layout"))
def etl_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: assign each file (here a
    document standing in for a landing-zone file manifest row) to a
    compaction bin by CUMULATIVE size within its partition — bin =
    floor(bytes_before / target) — so every output file lands within
    one input file of the target size and the assignment is a pure
    window expression, no bin-packing solver. This is the planning
    half of what `etl/versioned.py`'s `compact_table` executes, and
    the operational answer to the small-files problem
    `etl_input_file_skew` diagnoses: OPTIMIZE/rewrite jobs on
    lakehouse tables do exactly this per partition. Exact integer
    bytes end-to-end; one shuffle on the partition key shared by the
    cumsum window and the final per-bin rollup."""
    docs = load_table(spark, sf_dir, "documents")
    files = docs.select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("bytes")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    binned = files.select(
        "source",
        "doc_id",
        "bytes",
        F.expr(f"CAST((sum(bytes) OVER (PARTITION BY source ORDER BY doc_id "
               f"ROWS UNBOUNDED PRECEDING) - bytes) div {_COMPACT_TARGET} AS BIGINT)")
        .alias("bin"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )


# --------------------------------------------------------------------------
# Discount elasticity: regress quantity on discount per product type
# --------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH obs AS (
  SELECT p.p_type,
         CAST(round(l.l_discount * 100) AS BIGINT) AS d_pct,
         CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
sums AS (
  SELECT p_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d_pct) AS BIGINT) AS sx, CAST(sum(qty) AS BIGINT) AS sy,
         CAST(sum(d_pct * qty) AS BIGINT) AS sxy,
         CAST(sum(d_pct * d_pct) AS BIGINT) AS sxx,
         CAST(sum(qty * qty) AS BIGINT) AS syy
  FROM obs GROUP BY p_type
)
SELECT p_type, n AS n_lines,
       floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 1000000 + 0.5) / 1000000 AS slope_qty_per_pct,
       floor((CAST(sy AS DOUBLE) / n
              - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(sx AS DOUBLE) / n)) * 10000 + 0.5) / 10000 AS intercept_qty,
       floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000 + 0.5) / 1000000 AS r2
FROM sums
ORDER BY p_type
"""


@register("lineitem_discount_elasticity", oracle=_ELASTICITY_ORACLE, tags=("analytics", "stats"))
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity per product type: OLS of line quantity on
    discount percentage — does a deeper discount actually move more
    units, the pricing team's first regression (and the causal
    question behind `q6_forecast_revenue`'s what-if). Discounts
    quantize to exact integer percent, quantities are already exact
    ints, so all five power sums are exact BIGINT and slope /
    intercept / r^2 are single identical double expressions — the
    same engine-neutral raw-sums discipline as `agg_regression` and
    `timeseries_ou_half_life`, here on a fact-table scale where a
    float-accumulating regr_slope would be partitioning-dependent.
    Plan: one fact scan, part dim broadcast, one tiny groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    obs = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_type",
        F.round(F.col("l_discount") * 100).cast("long").alias("d_pct"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    sums = obs.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d_pct").cast("long").alias("sx"),
        F.sum("qty").cast("long").alias("sy"),
        F.sum(F.col("d_pct") * F.col("qty")).cast("long").alias("sxy"),
        F.sum(F.col("d_pct") * F.col("d_pct")).cast("long").alias("sxx"),
        F.sum(F.col("qty") * F.col("qty")).cast("long").alias("syy"),
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    slope_num = nd("n") * F.col("sxy") - nd("sx") * F.col("sy")
    slope_den = nd("n") * F.col("sxx") - nd("sx") * F.col("sx")
    var_y = nd("n") * F.col("syy") - nd("sy") * F.col("sy")
    slope = slope_num / slope_den
    return sums.select(
        "p_type",
        F.col("n").alias("n_lines"),
        (F.floor(slope * 1000000 + F.lit(0.5)) / 1000000).alias("slope_qty_per_pct"),
        (
            F.floor(
                (nd("sy") / F.col("n") - slope * (nd("sx") / F.col("n"))) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("intercept_qty"),
        (
            F.floor(slope_num * slope_num / (slope_den * var_y) * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("r2"),
    ).orderBy("p_type")
