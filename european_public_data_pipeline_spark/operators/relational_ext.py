"""Extended relational surface: string scalar functions, lenient
arithmetic, sketch aggregates, and classic multi-join analytics
(SURVEY.md §2.8 F6, §2.12).

Scale notes: q26/q27 are the canonical fact-to-fact join shapes — filters
are pushed below the join on both sides, the dimension side is broadcast,
and the final top-k is a sort of an already-aggregated (small) result.
q25's HLL sketch is THE cardinality path at 100 TB (fixed-size state,
mergeable across partitions, no shuffle of distinct values); it has no SQL
oracle because the sketch estimate is implementation-specific — the pytest
asserts the error bound against the exact count instead.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.functions.exact import dec, dsum_expr
from european_public_data_pipeline_spark.plans.registry import register
from european_public_data_pipeline_spark.tables import load_table


@register(
    "q24_string_functions",
    category="scalar-functions",
    doc="String scalar surface (F6): concat_ws, format_string, locate, "
    "contains, upper/lower, substring, length — the reference's f-string "
    "path building as native column expressions.",
    oracle="""
SELECT c_custkey,
       concat_ws('/', 'raw', c_mktsegment, c_name) AS blob_path,
       printf('cust-%07d', c_custkey) AS padded_key,
       upper(c_mktsegment) AS seg_upper,
       substr(c_name, 1, 9) AS name_prefix,
       CAST(length(c_name) AS INTEGER) AS name_len,
       CASE WHEN contains(c_name, '00') THEN 1 ELSE 0 END AS has_00,
       CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos
FROM customer
WHERE c_custkey <= 100
ORDER BY c_custkey
""",
)
def q24_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") <= 100)
        .select(
            "c_custkey",
            F.concat_ws("/", F.lit("raw"), F.col("c_mktsegment"), F.col("c_name")).alias(
                "blob_path"
            ),
            F.format_string("cust-%07d", F.col("c_custkey")).alias("padded_key"),
            F.upper("c_mktsegment").alias("seg_upper"),
            F.substring("c_name", 1, 9).alias("name_prefix"),
            F.length("c_name").alias("name_len"),
            F.when(F.col("c_name").contains("00"), 1).otherwise(0).alias("has_00"),
            F.locate("#", F.col("c_name")).alias("hash_pos"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q25_approx_distinct",
    category="aggregation",
    doc="HyperLogLog cardinality sketches (approx_count_distinct) next to "
    "a fixed-size quantile sketch (percentile_approx) — the 100 TB scale "
    "path for distinct counts and percentiles: constant memory, mergeable, "
    "one pass. The sketch estimates themselves aren't reproducible in "
    "DuckDB, so the oracle-checked surface is a BOUNDS AUDIT: the exact "
    "answer plus booleans asserting the sketch landed inside its "
    "documented error bound (HLL within 3*rsd of exact; approx median "
    "inside the exact p45..p55 band — accuracy 10000 bounds rank error at "
    "1e-4, far tighter). The oracle emits the same exact values with "
    "literal TRUEs, so a sketch outside its bound hash-mismatches. The "
    "exact columns are the audit's ruler — at 100 TB you'd ship the "
    "sketch columns alone and run this audit on a sample.",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS hll_within_3rsd,
       TRUE AS median_within_band
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q25_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    # The exact distinct rides its OWN two-stage aggregate (distinct
    # then count — both map-side combinable), NOT a countDistinct fused
    # into the sketch/percentile agg: fusing forces Catalyst's Expand
    # rewrite, which routes a second copy of every row through the
    # percentile value buffers and OOMs small heaps (measured: the
    # fused form dies on a 1 GiB local[32] heap at sf0.1 while each
    # aggregate alone fits comfortably). Two lean passes + a 3-row join
    # beat one fused Expand at any scale.
    exact = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=rsd).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("p55"),
    ).join(F.broadcast(exact), "l_returnflag")
    hll_err = F.abs(F.col("approx_orders") - F.col("exact_orders"))
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (hll_err <= 3 * rsd * F.col("exact_orders")).alias("hll_within_3rsd"),
        F.col("approx_median_price")
        .between(F.col("p45"), F.col("p55"))
        .alias("median_within_band"),
    ).orderBy("l_returnflag")


@register(
    "q26_shipping_priority",
    category="join",
    bench=True,
    doc="TPC-H Q3 shape: segment-filtered customer (broadcast) joined to "
    "date-filtered orders and lineitem, revenue per order, top-10. Both "
    "filters reach the scans before the joins.",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q26_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_date(F.lit("1995-03-15"))
    )
    # scatter: parallelizes the date-filtered scan + decimal partial agg
    # (0.82x measured, OPTIMIZATION_r13.md).
    l = load_table(spark, sf_dir, "lineitem", scatter=True).filter(
        F.col("l_shipdate") > F.to_date(F.lit("1995-03-15"))
    )
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum_expr(dec("l_extendedprice") * (F.lit(1) - dec("l_discount", 4, 2))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q27_late_delivery_semi",
    category="join",
    doc="TPC-H Q4 shape: orders with at least one late line item "
    "(shipped >90 days after the order date — a correlated non-equi "
    "predicate spanning both sides of the EXISTS) counted per priority; "
    "semi join with a composite join condition.",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q27_late_delivery_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_date(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_date(F.lit("1996-04-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.date_add(o.o_orderdate, 90)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q28_try_arithmetic",
    category="scalar-functions",
    doc="Lenient arithmetic (F2 generalized): try_divide / nullable "
    "division semantics — NULL on divide-by-zero instead of error or inf, "
    "the distributed analog of errors='coerce'.",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0 THEN NULL
            ELSE CAST(l_extendedprice AS DOUBLE) / CAST(l_discount AS DOUBLE) END
         AS price_per_discount,
       CASE WHEN (l_quantity - 25) = 0 THEN NULL
            ELSE CAST(l_extendedprice AS DOUBLE) / (l_quantity - 25) END
         AS price_per_qty_offset
FROM lineitem
WHERE l_orderkey <= 1000
ORDER BY l_orderkey, l_linenumber
""",
)
def q28_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice").cast("double"), F.col("l_discount").cast("double")
        ).alias("price_per_discount"),
        F.try_divide(
            F.col("l_extendedprice").cast("double"), F.col("l_quantity") - 25
        ).alias("price_per_qty_offset"),
    ).orderBy("l_orderkey", "l_linenumber")


N_HIST_BINS = 20


@register(
    "q44_price_histogram",
    category="aggregation",
    doc="Equi-width histogram of l_extendedprice in 20 bins, ONE fact "
    "scan: prices are exact 2-decimal money with a bounded domain, so a "
    "first groupBy collapses the fact table to (distinct price, count) — "
    "map-side combine makes the shuffle distinct-domain-sized (~1e6 rows "
    "at 100 TB, independent of row count). Bounds (min/max) and the "
    "20-bin re-aggregation are then both computed from that small "
    "CACHED relation — caching (not exchange reuse) is load-bearing: "
    "column pruning specializes the bounds branch to a distinct-only "
    "subtree, so without the cache the fact table is scanned twice "
    "(locked by tests/test_plans.py). Bin edges and sums go through "
    "exact decimals so the float arithmetic ((x-lo)/width, lo+bin*width) "
    "is an identical op sequence on both engines — no rounding needed. "
    "sum_price folds as SUM(x*cnt) in decimal, exactly equal to the "
    "row-level decimal sum.",
    oracle=f"""
WITH b AS (
  SELECT min(CAST(l_extendedprice AS DECIMAL(18,2))) AS lo,
         max(CAST(l_extendedprice AS DECIMAL(18,2))) AS hi
  FROM lineitem
),
j AS (
  SELECT CAST(l.l_extendedprice AS DECIMAL(18,2)) AS x, b.lo, b.hi
  FROM lineitem l CROSS JOIN b
),
binned AS (
  SELECT least(CAST(floor(CAST(x - lo AS DOUBLE)
                          / (CAST(hi - lo AS DOUBLE) / {N_HIST_BINS})) AS BIGINT),
               {N_HIST_BINS - 1}) AS bin,
         x, lo, hi
  FROM j
)
SELECT bin,
       CAST(lo AS DOUBLE) + bin * (CAST(hi - lo AS DOUBLE) / {N_HIST_BINS}) AS bin_lo,
       COUNT(*) AS n,
       CAST(SUM(x) AS DOUBLE) AS sum_price
FROM binned
GROUP BY bin, lo, hi
ORDER BY bin
""",
)
def q44_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Group on the RAW double: the money values are exact 2-decimal, so
    # double->decimal is injective here and grouping keys agree — while a
    # decimal cast inside the 60M-row hash agg costs ~2.6x (measured at
    # 100x); casting the ~600k-row domain afterwards is free.
    # cache(): column pruning would otherwise specialize the bounds branch
    # to a distinct-only subtree (no cnt), defeating exchange reuse and
    # re-scanning the fact table. The cached relation is distinct-domain-
    # sized (~1e6 rows at 100 TB), trivially memory-resident.
    per_price = (
        li.groupBy(F.col("l_extendedprice").alias("xd"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(dec("xd").alias("x"), "cnt")
        .cache()
    )
    bounds = per_price.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    j = per_price.crossJoin(F.broadcast(bounds))
    width = (F.col("hi") - F.col("lo")).cast("double") / N_HIST_BINS
    bin_ = F.least(
        F.floor((F.col("x") - F.col("lo")).cast("double") / width),
        F.lit(N_HIST_BINS - 1),
    )
    return (
        j.select(bin_.alias("bin"), "x", "cnt", "lo", "hi")
        .groupBy("bin", "lo", "hi")
        .agg(
            F.sum("cnt").alias("n"),
            dsum_expr(F.col("x") * F.col("cnt")).alias("sum_price"),
        )
        .select(
            "bin",
            (F.col("lo").cast("double") + F.col("bin") * width).alias("bin_lo"),
            "n",
            "sum_price",
        )
        .orderBy("bin")
    )


@register(
    "q48_winsorized_mean",
    category="aggregation",
    doc="Winsorized price statistics per return flag: clamp "
    "l_extendedprice into its group's [p05, p95] band, compare the raw "
    "and winsorized means — the robust-statistics pass that keeps tail "
    "outliers from dominating a metric. Shape: tiny per-group percentile "
    "aggregate, broadcast back, clamp row-locally, re-aggregate. The "
    "interpolated thresholds are bit-identical across engines (same "
    "order statistics, same lerp); clamped values are no longer "
    "2-decimal, so the winsorized mean accumulates fixed-point "
    "floor(x*1e6) instead of DECIMAL(18,2) casts.",
    oracle="""
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS x
  FROM lineitem
),
thr AS (
  SELECT flag,
         quantile_cont(x, 0.05) AS lo,
         quantile_cont(x, 0.95) AS hi
  FROM base GROUP BY flag
)
SELECT b.flag,
       COUNT(*) AS n,
       t.lo, t.hi,
       CAST(SUM(CAST(b.x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_raw,
       CAST(SUM(CAST(floor(least(greatest(b.x, t.lo), t.hi) * 1000000.0)
                     AS DECIMAL(38,0))) AS DOUBLE)
         / 1000000.0 / COUNT(*) AS mean_winsorized
FROM base b JOIN thr t USING (flag)
GROUP BY b.flag, t.lo, t.hi
ORDER BY b.flag
""",
)
def q48_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        dec("l_extendedprice").cast("double").alias("x"),
    )
    # One percentile aggregate with both percentages: a single value
    # buffer per group instead of two (measured ~2x on the threshold pass).
    thr = (
        base.groupBy("flag")
        .agg(F.percentile("x", F.array(F.lit(0.05), F.lit(0.95))).alias("p"))
        .select("flag", F.col("p")[0].alias("lo"), F.col("p")[1].alias("hi"))
    )
    clamped = F.least(F.greatest(F.col("x"), F.col("lo")), F.col("hi"))
    return (
        base.join(F.broadcast(thr), "flag")
        .groupBy("flag", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("x").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_raw"),
            (
                F.sum(
                    F.floor(clamped * 1000000.0).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1000000.0)
                / F.count(F.lit(1))
            ).alias("mean_winsorized"),
        )
        .select("flag", "n", "lo", "hi", "mean_raw", "mean_winsorized")
        .orderBy("flag")
    )


@register(
    "q50_revenue_share",
    category="window",
    doc="Percent-of-total (ratio-to-report): each return flag's revenue "
    "share of the corpus total via a window sum over an empty partition "
    "— computed on the already-aggregated per-flag rows, so the "
    "global-total window sees a handful of rows, never the fact table. "
    "Shares are single divisions of exact decimal sums: bit-exact, and "
    "they sum to 1 exactly when the total is.",
    oracle="""
WITH per_flag AS (
  SELECT l_returnflag AS flag,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec
  FROM lineitem GROUP BY l_returnflag
)
SELECT flag,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE)
         AS revenue_share
FROM per_flag
ORDER BY flag
""",
)
def q50_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum(dec("l_extendedprice")).alias("rev_dec")
    )
    total = F.sum("rev_dec").over(Window.partitionBy())
    return (
        per_flag.select(
            "flag",
            F.col("rev_dec").cast("double").alias("revenue"),
            (F.col("rev_dec").cast("double") / total.cast("double")).alias(
                "revenue_share"
            ),
        )
        .orderBy("flag")
    )


GAP_MOD = 5  # hash(flag,month) % GAP_MOD == 0 -> month withheld (~20% gaps)


@register(
    "q51_gap_fill_interpolate",
    category="time-series",
    doc="Monthly-series gap filling by linear interpolation — the "
    "completion of the reference's gap *detection* (its quality check "
    "only reports missing months; this reconstructs them). A ~20% subset "
    "of months is withheld deterministically (portable hash of "
    "(series, month)), the complete month grid is regenerated with "
    "sequence+explode from each series' observed min/max, and every "
    "missing month is filled from its nearest observed neighbors with "
    "last/first IGNORE NULLS windows — two window passes, no self-join, "
    "no driver loop. The interpolation weight is a ratio of exact month "
    "counts, so filled values are bit-identical across engines.",
    oracle=f"""
WITH monthly AS (
  SELECT l_returnflag AS flag,
         CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1, 2
),
obs AS (
  SELECT * FROM monthly
  WHERE CAST('0x' || substr(md5(flag || CAST(month AS VARCHAR)), 1, 7) AS BIGINT)
          % {GAP_MOD} != 0
),
grid AS (
  SELECT flag, CAST(m AS TIMESTAMP) AS month
  FROM (SELECT flag, MIN(month) AS lo, MAX(month) AS hi FROM obs GROUP BY flag),
       UNNEST(generate_series(lo, hi, INTERVAL 1 MONTH)) AS t(m)
),
j AS (
  SELECT g.flag, g.month, o.revenue
  FROM grid g LEFT JOIN obs o ON o.flag = g.flag AND o.month = g.month
),
w AS (
  SELECT flag, month, revenue,
         LAST_VALUE(revenue IGNORE NULLS) OVER (
           PARTITION BY flag ORDER BY month
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
         LAST_VALUE(CASE WHEN revenue IS NOT NULL THEN month END IGNORE NULLS)
           OVER (PARTITION BY flag ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_month,
         FIRST_VALUE(revenue IGNORE NULLS) OVER (
           PARTITION BY flag ORDER BY month
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
         FIRST_VALUE(CASE WHEN revenue IS NOT NULL THEN month END IGNORE NULLS)
           OVER (PARTITION BY flag ORDER BY month
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_month
  FROM j
)
SELECT flag, month,
       CASE WHEN revenue IS NOT NULL THEN revenue
            ELSE prev_val + (next_val - prev_val)
                 * (CAST(date_diff('month', prev_month, month) AS DOUBLE)
                    / CAST(date_diff('month', prev_month, next_month) AS DOUBLE))
       END AS revenue_filled,
       revenue IS NULL AS interpolated
FROM w
ORDER BY flag, month
""",
)
def q51_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.date_trunc("month", F.col("l_shipdate")).alias("month"),
    ).agg(F.sum(dec("l_extendedprice")).cast("double").alias("revenue"))
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col("flag"), F.col("month").cast("string"))), 1, 7
        ),
        16,
        10,
    ).cast("bigint")
    obs = monthly.filter(hv % GAP_MOD != 0)
    grid = (
        obs.groupBy("flag")
        .agg(F.min("month").alias("lo"), F.max("month").alias("hi"))
        .select(
            "flag",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
            ).alias("month"),
        )
    )
    j = grid.join(obs, ["flag", "month"], "left")
    back = (
        Window.partitionBy("flag")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("flag")
        .orderBy("month")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_month = F.when(F.col("revenue").isNotNull(), F.col("month"))
    w = j.select(
        "flag",
        "month",
        "revenue",
        F.last("revenue", ignorenulls=True).over(back).alias("prev_val"),
        F.last(obs_month, ignorenulls=True).over(back).alias("prev_month"),
        F.first("revenue", ignorenulls=True).over(fwd).alias("next_val"),
        F.first(obs_month, ignorenulls=True).over(fwd).alias("next_month"),
    )
    frac = F.months_between(F.col("month"), F.col("prev_month")) / F.months_between(
        F.col("next_month"), F.col("prev_month")
    )
    filled = F.when(F.col("revenue").isNotNull(), F.col("revenue")).otherwise(
        F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac
    )
    return w.select(
        "flag",
        "month",
        filled.alias("revenue_filled"),
        F.col("revenue").isNull().alias("interpolated"),
    ).orderBy("flag", "month")


@register(
    "q53_full_outer_reconciliation",
    category="join",
    doc="FULL OUTER reconciliation report: daily order counts vs daily "
    "event counts, keeping days present on either side with a presence "
    "flag — the source-comparison audit every warehouse runs between two "
    "feeds. Both inputs aggregate to date-cardinality BEFORE the join, so "
    "the full-outer shuffle moves day-count rows, never facts.",
    oracle="""
WITH o AS (
  SELECT o_orderdate AS d, COUNT(*) AS n_orders FROM orders GROUP BY 1
),
e AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT COALESCE(o.d, e.d) AS d,
       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
       CASE WHEN o.d IS NULL THEN 'events_only'
            WHEN e.d IS NULL THEN 'orders_only'
            ELSE 'both' END AS presence
FROM o FULL OUTER JOIN e ON o.d = e.d
ORDER BY d
""",
)
def q53_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    e = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    oo, ee = o.alias("o"), e.alias("e")
    return (
        oo.join(ee, F.col("o.d") == F.col("e.d"), "full_outer")
        .select(
            F.coalesce(F.col("o.d"), F.col("e.d")).alias("d"),
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
            F.when(F.col("o.d").isNull(), "events_only")
            .when(F.col("e.d").isNull(), "orders_only")
            .otherwise("both")
            .alias("presence"),
        )
        .orderBy("d")
    )


@register(
    "q54_regexp_functions",
    category="scalar-functions",
    doc="Regex scalar surface (F6 continued): extract, replace-all, match "
    "flag, and split-count as native column expressions — patterns kept "
    "inside the common Java-regex/RE2 subset (no lookaround, no "
    "backreferences) so engines agree byte-for-byte.",
    oracle="""
SELECT c_custkey,
       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
       regexp_replace(c_name, '[0-9]', '*', 'g') AS masked,
       CASE WHEN regexp_matches(c_name, '0{3,}[1-9]') THEN 1 ELSE 0 END
         AS has_zero_run,
       CAST(len(string_split_regex(c_name, '#')) AS INTEGER) AS name_parts
FROM customer
WHERE c_custkey <= 100
ORDER BY c_custkey
""",
)
def q54_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", r"[0-9]", "*").alias("masked"),
        F.when(F.col("c_name").rlike(r"0{3,}[1-9]"), 1).otherwise(0).alias(
            "has_zero_run"
        ),
        F.size(F.split("c_name", "#")).alias("name_parts"),
    ).orderBy("c_custkey")


@register(
    "q56_revenue_anomaly_zscore",
    category="quality-analytics",
    doc="Per-series anomaly detection: monthly revenue per order priority "
    "z-scored against that priority's own history, outliers flagged at "
    "|z| > 2 — the reference's quality-gate philosophy (check_hicp_quality"
    ".py's bounds checks) generalized to statistical outlier detection. "
    "Determinism: moments accumulate on integer CENTS (DECIMAL(38,0)) — a "
    "scale-2 decimal whose scaled value exceeds 2^53 casts to double with "
    "DOUBLE rounding in DuckDB (int128->double, then /10^scale) but single "
    "rounding in Spark (BigDecimal.doubleValue), 1 ulp apart; integer "
    "decimals cast identically in both. z is scale-invariant, so the cents "
    "formula equals the dollar formula. Shape: one fact aggregation to "
    "(priority, month) cardinality, one priority-partitioned window over "
    "month-count rows — group-cardinality data, never facts.",
    oracle="""
WITH m AS (
  SELECT o_orderpriority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
  FROM orders
  GROUP BY 1, 2
),
c AS (
  SELECT o_orderpriority, month_start, rev_dec,
         CAST(rev_dec * 100 AS DECIMAL(38,0)) AS rev_c
  FROM m
),
s AS (
  SELECT o_orderpriority, month_start, rev_dec,
         CAST(rev_c AS DOUBLE) AS x,
         COUNT(*) OVER w AS n,
         CAST(SUM(rev_c) OVER w AS DOUBLE) AS s1,
         CAST(SUM(rev_c * rev_c) OVER w AS DOUBLE) AS s2
  FROM c
  WINDOW w AS (PARTITION BY o_orderpriority)
)
SELECT o_orderpriority, month_start,
       CAST(rev_dec AS DOUBLE) AS revenue,
       (x - s1 / n) / sqrt((s2 - s1 * s1 / n) / n) AS zscore,
       CASE WHEN abs((x - s1 / n) / sqrt((s2 - s1 * s1 / n) / n)) > 2.0
            THEN 1 ELSE 0 END AS is_outlier
FROM s
ORDER BY o_orderpriority, month_start
""",
)
def q56_revenue_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
    ).agg(F.sum(dec("o_totalprice")).alias("rev_dec"))
    c = m.withColumn("rev_c", (F.col("rev_dec") * 100).cast("decimal(38,0)"))
    w = Window.partitionBy("o_orderpriority")
    x = F.col("rev_c").cast("double")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("rev_c").over(w).cast("double")
    s2 = F.sum(F.col("rev_c") * F.col("rev_c")).over(w).cast("double")
    z = (x - s1 / n) / F.sqrt((s2 - s1 * s1 / n) / n)
    return (
        c.select(
            "o_orderpriority",
            "month_start",
            F.col("rev_dec").cast("double").alias("revenue"),
            z.alias("zscore"),
            F.when(F.abs(z) > 2.0, 1).otherwise(0).alias("is_outlier"),
        )
        .orderBy("o_orderpriority", "month_start")
    )


@register(
    "q74_referential_orphans",
    category="quality",
    doc="Referential-integrity audit across the star schema: orphan "
    "counts for every foreign-key edge (lineitem->orders/part/supplier, "
    "orders->customer, customer/supplier->nation) plus each edge's "
    "child row count — the generalization of the reference's six-check "
    "quality suite to multi-table integrity. Each edge is one left-anti "
    "join; dimension sides broadcast, fact sides aggregate to a count "
    "before the union, so the result relation is edge-cardinality. A "
    "healthy warehouse returns all zeros — the oracle pins exactly "
    "that, so ANY orphan introduced by a bad load flips the hash.",
    oracle="""
SELECT 'customer->nation' AS fk_edge,
       (SELECT COUNT(*) FROM customer) AS n_child,
       (SELECT COUNT(*) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'supplier->nation',
       (SELECT COUNT(*) FROM supplier),
       (SELECT COUNT(*) FROM supplier s
         WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
ORDER BY fk_edge
""",
)
def q74_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")

    def edge(name, child, child_key, parent, parent_key, broadcast_parent=True):
        par = parent.select(parent_key)
        if broadcast_parent:
            par = F.broadcast(par)
        orphans = child.join(
            par, child[child_key] == par[parent_key], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        total = child.agg(F.count(F.lit(1)).alias("n_child"))
        return (
            total.crossJoin(orphans)
            .select(
                F.lit(name).alias("fk_edge"),
                "n_child",
                "n_orphans",
            )
        )

    edges = [
        edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey", broadcast_parent=False),
        edge("lineitem->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
        edge("orders->customer", o, "o_custkey", c, "c_custkey"),
        edge("supplier->nation", s, "s_nationkey", n, "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out.orderBy("fk_edge")


DRIFT_BUCKETS = 10


@register(
    "q75_distribution_drift",
    category="quality",
    doc="Train-data distribution-drift monitor: per-bucket share of "
    "order total-price mass in a reference window (1995) vs a current "
    "window (1996) over 10 fixed-width buckets, with the absolute share "
    "difference and the total-variation distance (TVD = half the L1) "
    "replicated on every row. TVD instead of PSI/KL on purpose: no "
    "transcendentals, so the drift number is bit-identical across "
    "engines (ln() differs in the last ulp between libm and the JVM). "
    "Buckets are FIXED (domain knowledge bounds), making the two "
    "window scans independent single passes — the production shape for "
    "continuous monitoring where the reference histogram is "
    "precomputed.",
    oracle=f"""
WITH bucketed AS (
  SELECT CASE WHEN year(o_orderdate) = 1995 THEN 'ref' ELSE 'cur' END AS win,
         least(CAST(floor(CAST(o_totalprice AS DOUBLE) / 60000.0) AS BIGINT),
               {DRIFT_BUCKETS - 1}) AS bucket
  FROM orders
  WHERE year(o_orderdate) IN (1995, 1996)
),
hist AS (
  SELECT win, bucket, COUNT(*) AS n FROM bucketed GROUP BY win, bucket
),
tot AS (SELECT win, SUM(n) AS total FROM hist GROUP BY win),
shares AS (
  SELECT b.bucket,
         CAST(COALESCE(MAX(CASE WHEN h.win = 'ref' THEN CAST(h.n AS DOUBLE) / t_ref.total END), 0) AS DOUBLE) AS ref_share,
         CAST(COALESCE(MAX(CASE WHEN h.win = 'cur' THEN CAST(h.n AS DOUBLE) / t_cur.total END), 0) AS DOUBLE) AS cur_share
  FROM (SELECT DISTINCT bucket FROM hist) b
  LEFT JOIN hist h ON h.bucket = b.bucket
  CROSS JOIN (SELECT total FROM tot WHERE win = 'ref') t_ref
  CROSS JOIN (SELECT total FROM tot WHERE win = 'cur') t_cur
  GROUP BY b.bucket
)
SELECT bucket, ref_share, cur_share,
       abs(ref_share - cur_share) AS abs_diff,
       (SELECT SUM(abs(ref_share - cur_share)) / 2 FROM shares) AS tvd
FROM shares
ORDER BY bucket
""",
)
def q75_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    win = F.when(F.year("o_orderdate") == 1995, "ref").otherwise("cur")
    bucket = F.least(
        F.floor(F.col("o_totalprice").cast("double") / 60000.0),
        F.lit(DRIFT_BUCKETS - 1),
    ).cast("long")
    hist = (
        o.select(win.alias("win"), bucket.alias("bucket"))
        .groupBy("win", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hist = hist.cache()
    tot = hist.groupBy("win").agg(F.sum("n").alias("total"))
    shares = (
        hist.join(F.broadcast(tot), "win")
        .select(
            "bucket",
            "win",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("win") == "ref", F.col("share"))), F.lit(0.0)
            ).alias("ref_share"),
            F.coalesce(
                F.max(F.when(F.col("win") == "cur", F.col("share"))), F.lit(0.0)
            ).alias("cur_share"),
        )
    ).cache()
    tvd = shares.agg(
        (F.sum(F.abs(F.col("ref_share") - F.col("cur_share"))) / 2).alias("tvd")
    )
    return (
        shares.crossJoin(F.broadcast(tvd))
        .select(
            "bucket",
            "ref_share",
            "cur_share",
            F.abs(F.col("ref_share") - F.col("cur_share")).alias("abs_diff"),
            "tvd",
        )
        .orderBy("bucket")
    )


@register(
    "q82_variant_json_path",
    category="json",
    doc="Semi-structured props via Spark 4's VARIANT type: parse_json "
    "ONCE into the binary variant encoding, then typed variant_get "
    "extraction — the modern engine path for schema-on-read columns "
    "(one parse per row regardless of how many paths are read, vs "
    "get_json_object re-parsing per access as in q17). Per event type "
    "and k-decade bucket: event count and exact-decimal value sum. "
    "DuckDB has no variant, so the oracle extracts the same path with "
    "its native JSON functions — identical typed results prove the "
    "variant path is lossless.",
    oracle="""
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT) AS k_decade,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY event_type, k_decade
""",
)
def q82_variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_type",
        "value",
        F.parse_json("props").alias("v"),
    )
    return (
        parsed.select(
            "event_type",
            F.expr("variant_get(v, '$.k', 'bigint') div 10").alias("k_decade"),
            "value",
        )
        .groupBy("event_type", "k_decade")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("event_type", "k_decade")
    )


@register(
    "q85_ewma_smoothing",
    category="window",
    doc="Exponentially-weighted moving average of monthly revenue per "
    "order priority (alpha=0.2) — the recursive time-series smoothing "
    "(EWMA_i = a*x_i + (1-a)*EWMA_{i-1}) that row-frame windows cannot "
    "express. Shape: ONE fact shuffle pre-aggregates to the "
    "(priority, month) grain; the recursion then runs ROW-LOCALLY as a "
    "higher-order prefix fold over each group's sorted month array — "
    "per-group state is calendar-bounded (~80 months), never "
    "fact-sized, so the construction is unchanged at 100 TB. The fold "
    "(seed = first value, acc' = 0.2*x + 0.8*acc) is sequentially "
    "identical to DuckDB's list_reduce over the same sorted list, so "
    "every smoothed double is bit-equal.",
    oracle="""
WITH m AS (
  SELECT o_orderpriority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS rev
  FROM orders GROUP BY 1, 2
),
g AS (
  SELECT o_orderpriority,
         list(month ORDER BY month) AS months,
         list(rev ORDER BY month) AS revs
  FROM m GROUP BY 1
)
SELECT o_orderpriority,
       months[i] AS month,
       revs[i] AS revenue,
       list_reduce(revs[1:i], (acc, x) -> 0.2*x + 0.8*acc) AS ewma
FROM g, UNNEST(generate_series(1, len(revs))) AS t(i)
ORDER BY o_orderpriority, month
""",
)
def q85_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Exact money sum as LONG centi-units, not DECIMAL(18,2): both are
    # partition-order invariant, but the decimal hash-agg state measured 3x
    # the long state on this composite (string, month) key (10.7s vs 3.7s
    # at 100x rows). cents -> double / 100.0 is single-rounded, bit-equal
    # to the decimal-sum cast. dec() remains the fallback when a group's
    # centi-sum could exceed int64.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    monthly = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg((F.sum(cents).cast("double") / F.lit(100.0)).alias("rev"))
    grouped = monthly.groupBy("o_orderpriority").agg(
        F.array_sort(F.collect_list(F.struct("month", "rev"))).alias("arr")
    )
    revs = F.transform(F.col("arr"), lambda s: s.rev)
    ewma_i = lambda i: F.aggregate(  # noqa: E731
        F.slice(revs, F.lit(2), i - 1),
        F.element_at(revs, F.lit(1)),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    rows = grouped.select(
        "o_orderpriority",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("arr")),
                lambda i: F.struct(
                    F.element_at(F.col("arr"), i).month.alias("month"),
                    F.element_at(F.col("arr"), i).rev.alias("revenue"),
                    ewma_i(i).alias("ewma"),
                ),
            )
        ).alias("r"),
    )
    return rows.select(
        "o_orderpriority", "r.month", "r.revenue", "r.ewma"
    ).orderBy("o_orderpriority", "month")


@register(
    "q87_mad_outliers",
    category="aggregate",
    doc="Robust per-group outlier detection via median absolute deviation "
    "— the heavy-tail-safe alternative to q56's z-scores (mean/stddev "
    "are themselves dragged by the outliers they are meant to flag). "
    "Exact medians are built from first principles so both engines "
    "agree bit-for-bit: row_number + partition count pick the middle "
    "one-or-two ranks per group, AVG of those values IS the median "
    "(identical (a+b)/2 float arithmetic in Spark and DuckDB, no "
    "interpolating quantile implementation in the loop). Two keyed "
    "window passes (value rank, then |x-med| rank) + broadcast of the "
    "group-sized median/MAD relations. Scale: exact grouped median "
    "costs one sort per key group; at 100 TB swap the rank windows for "
    "approx_percentile(0.5) (fixed-size mergeable sketch, q14's path) "
    "and keep the identical flagging rule. Flag threshold is the "
    "textbook 3-sigma-equivalent 3*1.4826*MAD, written as the single "
    "double literal 4.4478 in both engines.",
    oracle="""
WITH e AS (SELECT event_type, value FROM events),
r1 AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
med AS (
  SELECT event_type, AVG(value) AS median
  FROM r1 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
  GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, abs(e.value - m.median) AS adev, m.median
  FROM e JOIN med m ON e.event_type = m.event_type
),
r2 AS (
  SELECT event_type, adev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, AVG(adev) AS mad
  FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
  GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(d.median) AS median,
       MAX(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS outlier_share
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
)
def q87_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale shape (q44's domain trick, generalized to order statistics):
    # the ONLY fact-sized operation is one (event_type, value) groupBy —
    # uniform keys, map-side combined. Both medians then come from the
    # cumulative distribution over the value DOMAIN (distinct measurement
    # values per group — bounded for fixed-precision metrics), NOT from
    # row_number over the fact, which would sort all rows inside
    # #event_type window partitions (parallelism = #groups: measured 5x
    # skew at 100x rows). Value-at-rank-r is the domain row whose
    # cumulative count first covers r; the median is (v1+v2)/2 exactly as
    # in the rank formulation (bit-equal: AVG of one-or-two picked rows ==
    # (v1+v2)/2 in IEEE), so the oracle keeps the textbook rank SQL.
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("event_type", "value")

    def _median_from_domain(dom: DataFrame, col: str, out: str) -> DataFrame:
        """dom: (event_type, <col>, cnt) distinct-value histogram."""
        w_cum = Window.partitionBy("event_type").orderBy(col)
        w_all = Window.partitionBy("event_type")
        cum = dom.select(
            "event_type",
            col,
            "cnt",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
        r1 = ((F.col("n") + 1) / 2).cast("long")
        r2 = ((F.col("n") + 2) / 2).cast("long")
        covers = lambda r: (F.col("cum") - F.col("cnt") < r) & (r <= F.col("cum"))  # noqa: E731
        v1 = F.max(F.when(covers(r1), F.col(col)))
        v2 = F.max(F.when(covers(r2), F.col(col)))
        return cum.groupBy("event_type").agg(((v1 + v2) / 2).alias(out))

    dom = e.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    med = _median_from_domain(dom, "value", "median")
    # |x - median| folds onto the domain too: the deviation histogram is a
    # re-key of (value, cnt) — no second fact scan anywhere.
    dev_dom = (
        dom.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "median",
            F.abs(F.col("value") - F.col("median")).alias("adev"),
            "cnt",
        )
        .groupBy("event_type", "median", "adev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _median_from_domain(
        dev_dom.select("event_type", "adev", "cnt"), "adev", "mad"
    )
    flagged = dev_dom.join(F.broadcast(mad), "event_type")
    out_cnt = F.sum(
        F.when(F.col("adev") > F.lit(4.4478) * F.col("mad"), F.col("cnt")).otherwise(
            F.lit(0)
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            out_cnt.alias("n_outliers"),
            (out_cnt.cast("double") / F.sum("cnt")).alias("outlier_share"),
        )
        .orderBy("event_type")
    )


@register(
    "q90_array_functions",
    category="scalar-functions",
    doc="Array scalar surface (the collection-type complement of q24's "
    "strings and q35's maps): per order, the line-quantity list is "
    "rebuilt deterministically (sort_array over (linenumber, qty) "
    "structs — collect_list order is partition-dependent, struct sort "
    "fixes it) and then exercised with the higher-order toolkit: "
    "array_sort, array_distinct, slice, array_max, array_position, "
    "zip_with dot product against discounts, and an aggregate() "
    "sequential fold — everything row-local after the one orderkey "
    "shuffle; per-order arrays are bounded by lines-per-order (<=7), "
    "never corpus-sized. Each expression has the exact DuckDB list_* "
    "twin; the fold is left-associated in both engines.",
    oracle="""
WITH lines AS (
  SELECT l_orderkey,
         list_sort(list({'ln': l_linenumber, 'qty': l_quantity, 'disc': l_discount}))
           AS rows_sorted
  FROM lineitem
  WHERE l_orderkey <= 2000
  GROUP BY l_orderkey
),
arr AS (
  SELECT l_orderkey,
         list_transform(rows_sorted, r -> CAST(r.qty AS DOUBLE)) AS qtys,
         list_transform(rows_sorted, r -> CAST(r.disc AS DOUBLE)) AS discs
  FROM lines
)
SELECT l_orderkey,
       CAST(len(qtys) AS INTEGER) AS n_lines,
       array_to_string(list_transform(list_sort(qtys),
                                      x -> CAST(round(x * 100) AS BIGINT)),
                       ',') AS qtys_sorted,
       CAST(len(list_distinct(qtys)) AS INTEGER) AS n_distinct_qty,
       array_to_string(list_transform(qtys[1:2],
                                      x -> CAST(round(x * 100) AS BIGINT)),
                       ',') AS first_two,
       list_max(qtys) AS max_qty,
       CAST(list_position(qtys, list_max(qtys)) AS INTEGER) AS argmax_pos,
       list_reduce(
         list_transform(generate_series(1, len(qtys)),
                        i -> qtys[i] * discs[i]),
         (a, b) -> a + b) AS qty_disc_dot,
       list_reduce(qtys, (a, b) -> a + b) AS qty_sum_fold
FROM arr
ORDER BY l_orderkey
""",
)
def q90_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    grouped = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity", "l_discount"))
        ).alias("rows_sorted")
    )
    arr = grouped.select(
        "l_orderkey",
        F.transform("rows_sorted", lambda r: r.l_quantity.cast("double")).alias(
            "qtys"
        ),
        F.transform("rows_sorted", lambda r: r.l_discount.cast("double")).alias(
            "discs"
        ),
    )
    qtys = F.col("qtys")
    dot = F.aggregate(
        F.zip_with("qtys", "discs", lambda q, d: q * d),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    # Serialize the array-typed outputs as comma-joined centi-unit BIGINT
    # strings: the driver's pandas canonicalizer sorts rows with
    # sort_values, which cannot hash python lists, so top-level output
    # columns must be scalar (the array expressions themselves —
    # array_sort / array_distinct / slice / zip_with / aggregate — are all
    # still exercised; only the emitted serialization is scalar).
    def _arr_str(col):
        return F.array_join(
            F.transform(col, lambda x: F.round(x * 100).cast("bigint").cast("string")),
            ",",
        )

    return arr.select(
        "l_orderkey",
        F.size(qtys).alias("n_lines"),
        _arr_str(F.array_sort(qtys)).alias("qtys_sorted"),
        F.size(F.array_distinct(qtys)).alias("n_distinct_qty"),
        _arr_str(F.slice(qtys, 1, 2)).alias("first_two"),
        F.array_max(qtys).alias("max_qty"),
        F.array_position(qtys, F.array_max(qtys)).cast("int").alias("argmax_pos"),
        dot.alias("qty_disc_dot"),
        F.aggregate(qtys, F.lit(0.0), lambda a, b: a + b).alias("qty_sum_fold"),
    ).orderBy("l_orderkey")


@register(
    "q91_date_functions",
    category="scalar-functions",
    doc="Calendar scalar surface (the date complement of q24 strings / "
    "q90 arrays / q35 maps, beyond F1-F5's period-code parsing): month "
    "arithmetic with end-of-month clamping (add_months == + INTERVAL "
    "MONTH in both engines), day arithmetic, pure day-count datediff, "
    "last_day, quarter / year / dayofyear extraction, and month "
    "truncation — all row-local Catalyst expressions that constant-fold "
    "and push through scans; no UDF anywhere near a date.",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS d,
       CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus_3_months,
       CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus_30_days,
       CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
         AS days_since_1992,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
FROM orders
WHERE o_orderkey <= 500
ORDER BY o_orderkey
""",
)
def q91_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.add_months(d, 3).cast("timestamp").alias("plus_3_months"),
        F.date_add(d, 30).cast("timestamp").alias("plus_30_days"),
        F.datediff(d, F.to_date(F.lit("1992-01-01"))).alias("days_since_1992"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).alias("qtr"),
        F.year(d).alias("yr"),
        F.dayofyear(d).alias("doy"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
    ).orderBy("o_orderkey")


@register(
    "q96_incremental_agg_maintenance",
    category="aggregate",
    doc="Algebraic materialized-view maintenance — the 100 TB answer to "
    "'refresh the dashboard aggregate': the per-priority order summary "
    "(count, exact decimal revenue, first/last date, derived average) is "
    "maintained by MERGING a stored base aggregate with the new delta "
    "batch's aggregate — combine(count)=sum, combine(sum)=sum, "
    "combine(min/max)=min/max, avg DERIVED from (sum, count) at read "
    "time (avg is not algebraic on its own; storing sum+count makes it "
    "so). The base relation is never re-scanned: the merge unions two "
    "AGGREGATE-sized relations (here #priorities rows each) — q83 "
    "proves the same property for sketches, this is the exact-aggregate "
    "counterpart every warehouse MV refresh relies on. The oracle "
    "recomputes from ALL rows — hash-equality IS the maintenance "
    "correctness proof.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
       MIN(CAST(o_orderdate AS DATE)) AS first_date,
       MAX(CAST(o_orderdate AS DATE)) AS last_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q96_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = "1996-01-01"
    base = o.filter(F.col("o_orderdate") < cutoff)
    delta = o.filter(F.col("o_orderdate") >= cutoff)

    def partial(df: DataFrame) -> DataFrame:
        # The storable MV state: every column algebraic (mergeable).
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("s_total"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_date"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("s_total").alias("s_total"),
            F.min("first_date").alias("first_date"),
            F.max("last_date").alias("last_date"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("s_total").cast("double").alias("sum_total"),
        "first_date",
        "last_date",
        (F.col("s_total").cast("double") / F.col("n_orders")).alias("avg_total"),
    ).orderBy("o_orderpriority")


def _cdc_snapshot_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic 'yesterday' snapshot shared by q97 (derive), q100
    (apply), and q104 (bucketed layout) — one definition so the
    round-trip proof can't drift."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("a_key"), F.col("c_acctbal").alias("old_bal")
    )


def _cdc_snapshot_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic 'today' snapshot shared by q97 and q104: custkey%11
    rows deleted, custkey%7 balances shifted by +10 (updates)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 11 != 0).select(
        F.col("c_custkey").alias("b_key"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10
        ).otherwise(F.col("c_acctbal")).alias("new_bal"),
    )


def _cdc_changelog(a: DataFrame, b: DataFrame) -> DataFrame:
    """The shared diff tail of q97/q104: full-outer join two keyed
    snapshots, type each change by null-side / value inequality, drop
    unchanged rows."""
    joined = a.join(b, a.a_key == b.b_key, "full_outer")
    change = (
        F.when(F.col("a_key").isNull(), F.lit("insert"))
        .when(F.col("b_key").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        joined.filter(
            F.col("a_key").isNull()
            | F.col("b_key").isNull()
            | (F.col("old_bal") != F.col("new_bal"))
        )
        .select(
            F.coalesce(F.col("a_key"), F.col("b_key")).alias("c_custkey"),
            change.alias("change_type"),
            "old_bal",
            "new_bal",
        )
        .orderBy("c_custkey")
    )


_Q97_ORACLE = """
WITH a AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 13 <> 0
),
b AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 11 <> 0
)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN a.c_custkey IS NULL THEN 'insert'
            WHEN b.c_custkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       a.c_acctbal AS old_bal,
       b.c_acctbal AS new_bal
FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL OR a.c_acctbal <> b.c_acctbal
ORDER BY c_custkey
"""


@register(
    "q97_snapshot_changelog",
    category="join",
    doc="Changelog (CDC) derivation from two table snapshots — the "
    "inverse of MERGE: given yesterday's and today's state of a keyed "
    "table, emit the insert/update/delete stream that transforms one "
    "into the other (what warehouses without a transaction log must "
    "reconstruct to feed downstream incremental consumers). Synthetic "
    "deterministic snapshots from the customer table: snapshot A lacks "
    "custkey%13==0 (later inserts), snapshot B lacks custkey%11==0 "
    "(deletes) and shifts acctbal by +10 where custkey%7==0 (updates). "
    "One full-outer join on the key, change typed by null-side and "
    "value inequality, unchanged rows dropped — the join shuffles both "
    "snapshots once on the key; at 100 TB partition both snapshots on "
    "ingest date-independent key ranges (or bucket them — "
    "q104_bucketed_changelog IS that layout twin, zero-Exchange) so the "
    "diff is co-located.",
    oracle=_Q97_ORACLE,
)
def q97_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _cdc_snapshot_a(spark, sf_dir)
    b = _cdc_snapshot_b(spark, sf_dir)
    return _cdc_changelog(a, b)


@register(
    "q104_bucketed_changelog",
    category="join",
    doc="q97's snapshot changelog over a BUCKETED snapshot layout — the "
    "production shape of recurring CDC derivation: a daily diff job "
    "full-outer-joins two whole-table snapshots on the key EVERY run, "
    "the q65-class repeated fact-fact shuffle. Writing both snapshots "
    "bucketBy(16, key) once at ingest makes the diff a zero-Exchange "
    "sort-merge join forever after (Catalyst recognizes the matching "
    "bucket partitioning; full-outer SMJ preserves it) — at 100 TB "
    "neither snapshot ever rides the wire again for ANY keyed diff. "
    "The builder pays the one-time layout write per call to stay "
    "self-contained (production buckets at ingest); the zero-Exchange "
    "plan is asserted in tests/test_scale_joins.py and the result is "
    "hash-identical to q97 by construction (same oracle, shared "
    "snapshot + diff definitions).",
    oracle=_Q97_ORACLE,
)
def q104_bucketed_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from european_public_data_pipeline_spark.operators.scale_joins import (
        write_bucketed,
    )

    tag = re.sub(r"[^0-9a-z]+", "_", os.path.basename(sf_dir.rstrip("/")).lower())
    # Full-path hash: two different sf_dirs sharing a basename must
    # not collide on the same scratch table (ADVICE-class race).
    import hashlib
    tag += "_" + hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    at, bt = f"bkt_snap_a_{tag}", f"bkt_snap_b_{tag}"
    write_bucketed(_cdc_snapshot_a(spark, sf_dir), at, "a_key", n_buckets=16)
    write_bucketed(_cdc_snapshot_b(spark, sf_dir), bt, "b_key", n_buckets=16)
    # merge hint pins SMJ so the co-location shows at toy scale too (AQE
    # would otherwise broadcast and hide the property being demonstrated).
    a = spark.table(at).hint("merge")
    b = spark.table(bt)
    return _cdc_changelog(a, b)


@register(
    "q98_hll_sketch_rollup",
    category="aggregation",
    doc="Datasketches HLL rollup — the production form of q25's distinct "
    "counting: per-month customer sketches (hll_sketch_agg, lgK=12) "
    "that MERGE to the yearly/total grain (hll_union_agg) without "
    "re-scanning the fact, the property that lets a 100 TB deployment "
    "keep per-partition sketches and answer any coarser distinct-count "
    "rollup from sketch unions alone. Oracle-checked surface is the "
    "q25 bounds-audit pattern (sketch bytes aren't reproducible in "
    "DuckDB): exact per-period distinct counts plus booleans asserting "
    "(a) every period estimate lands within 5% of exact (3x the lgK=12 "
    "rsd of ~1.6%), and (b) the union-of-monthly-sketches estimate agrees with the "
    "one-pass whole-table sketch estimate to within 2% — the "
    "mergeability audit (the two are NOT bit-identical: a union "
    "promotes sparse-mode sketches to the dense HLL target, measured "
    "1491 vs 1494 at sf0.01, both within bound of exact 1500). The "
    "oracle emits the same exact counts with literal TRUEs.",
    oracle="""
SELECT period, exact_customers, hll_within_bound, merged_equals_direct FROM (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS period,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
         TRUE AS hll_within_bound,
         TRUE AS merged_equals_direct
  FROM orders
  GROUP BY 1
  UNION ALL
  SELECT 'TOTAL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT), TRUE, TRUE
  FROM orders
)
ORDER BY period
""",
)
def q98_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bound = 0.05
    monthly = o.groupBy(
        F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("period")
    ).agg(
        F.expr("hll_sketch_agg(o_custkey, 12)").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    month_rows = monthly.select(
        "period",
        "exact_customers",
        (
            F.abs(
                F.expr("hll_sketch_estimate(sk)") - F.col("exact_customers")
            )
            <= bound * F.col("exact_customers")
        ).alias("hll_within_bound"),
        F.lit(True).alias("merged_equals_direct"),
    )
    total = (
        monthly.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias("merged_est")
        )
        .crossJoin(
            F.broadcast(
                o.agg(
                    F.countDistinct("o_custkey").alias("exact_customers"),
                    F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 12))").alias(
                        "direct_est"
                    ),
                )
            )
        )
        .select(
            F.lit("TOTAL").alias("period"),
            "exact_customers",
            (
                F.abs(F.col("merged_est") - F.col("exact_customers"))
                <= bound * F.col("exact_customers")
            ).alias("hll_within_bound"),
            (
                F.abs(F.col("merged_est") - F.col("direct_est"))
                <= 0.02 * F.col("direct_est")
            ).alias("merged_equals_direct"),
        )
    )
    return month_rows.unionByName(total).orderBy("period")


@register(
    "q100_changelog_apply",
    category="join",
    doc="Changelog APPLY — q97's inverse, closing the CDC round trip: "
    "given snapshot A and the insert/update/delete stream, reconstruct "
    "snapshot B. Apply semantics in ONE pass: full-outer join snapshot "
    "to changelog on the key; deletes drop the row, inserts/updates "
    "take the changelog's value, untouched rows pass through — the "
    "standard CDC consumer every downstream replica runs. The proof is "
    "the oracle: it computes snapshot B DIRECTLY (same definition q97 "
    "uses), so hash-equality means apply(A, derive(A, B)) == B — "
    "derive and apply are exact inverses. One key-partitioned shuffle; "
    "at 100 TB co-locate snapshot and changelog on the key (bucketing, "
    "q95) and the apply is exchange-free.",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal
FROM customer WHERE c_custkey % 11 <> 0
ORDER BY c_custkey
""",
)
def q100_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.plans.registry import all_specs

    snap_a = _cdc_snapshot_a(spark, sf_dir).select(
        F.col("a_key").alias("k"), F.col("old_bal").alias("val")
    )
    changelog = all_specs()["q97_snapshot_changelog"].builder(spark, sf_dir)
    cl = changelog.select(
        F.col("c_custkey").alias("ck"), "change_type", "new_bal"
    )
    applied = (
        snap_a.join(cl, snap_a.k == cl.ck, "full_outer")
        .filter(
            F.col("change_type").isNull()  # untouched: pass through
            | (F.col("change_type") != "delete")
        )
        .select(
            F.coalesce(F.col("k"), F.col("ck")).alias("c_custkey"),
            # insert/update take the changelog value; untouched keeps A's.
            F.coalesce(F.col("new_bal"), F.col("val")).alias("c_acctbal"),
        )
    )
    return applied.orderBy("c_custkey")


@register(
    "q101_correlation_exact",
    category="aggregation",
    doc="Sample covariance and Pearson correlation between quantity and "
    "extended price per return flag — q15's exact-power-sum recipe "
    "extended to TWO columns: the five sums (Σx, Σy, Σxy, Σx², Σy²) "
    "accumulate as exact decimals (partition-order invariant, unlike "
    "covar_samp/corr's streaming double state), and the closing "
    "covariance/correlation arithmetic is a fixed chain of IEEE ops on "
    "exact operands — bit-identical across engines and partitionings. "
    "One map-side-combined shuffle to #flags rows.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CASE WHEN COUNT(*) < 2 THEN NULL ELSE
         (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
         / (COUNT(*) - 1) END AS covar_qty_price,
       CASE WHEN COUNT(*) < 2
              OR COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) <= 0
              OR COUNT(*) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) <= 0
            THEN NULL ELSE
         (COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
         / sqrt(
             (COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
             * (COUNT(*) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
           ) END AS corr_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q101_correlation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity"), dec("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    # Degenerate groups (n<2, zero variance) are NULL in BOTH engines —
    # ungated, Spark divides to NULL while DuckDB gives Inf/NaN (review r5).
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    covar = F.when(n >= 2, (sxy - sx * sy / n) / (n - 1))
    corr = F.when(
        (n >= 2) & (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / F.sqrt(vx * vy),
    )
    return agg.select(
        "l_returnflag",
        "n",
        covar.alias("covar_qty_price"),
        corr.alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@register(
    "q102_weighted_median",
    category="aggregation",
    doc="Revenue-weighted median quantity per return flag — the weighted "
    "order statistic (what is the typical order size BY VALUE, not by "
    "line count) that plain medians and percentile_approx cannot "
    "express. q44/q87's domain-histogram recipe with WEIGHTS: one "
    "map-side-combined groupBy to the (flag, quantity) domain "
    "accumulating exact centi-unit revenue weights as BIGINT, a "
    "domain-sized cumulative window, and the median read off where "
    "2·cum ≥ total — pure integer comparisons, no division, bit-exact "
    "across engines. The fact shuffles once to the (tiny) domain; the "
    "window never touches fact-sized partitions.",
    oracle="""
WITH dom AS (
  SELECT l_returnflag, l_quantity,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  GROUP BY l_returnflag, l_quantity
),
cum AS (
  SELECT l_returnflag, l_quantity, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM dom
)
SELECT l_returnflag,
       MIN(l_quantity) AS weighted_median_qty,
       CAST(MAX(tw) AS BIGINT) AS total_weight_cents
FROM cum
WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q102_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    dom = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("w")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = dom.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("weighted_median_qty"),
            F.max("tw").alias("total_weight_cents"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q105_approx_quantile_audit",
    category="aggregation",
    doc="approx_percentile bounds audit — the production proof for the "
    "100 TB quantile swap-in that q14 (exact percentiles) and q87 "
    "(exact MAD) both document as their scale path: Spark's KLL-style "
    "approx_percentile(accuracy=1000) guarantees rank error <= "
    "n/accuracy, so each approximate p50/p90/p99 of l_extendedprice "
    "must land between the EXACT percentiles at p +- 1.5/accuracy "
    "(slack covers interpolation at the rank boundary). One pass "
    "computes the sketch AND the exact reference per l_returnflag "
    "group; the audit booleans ride in the row. Oracle is the q25 "
    "bounds-audit pattern: DuckDB cannot reproduce the sketch, so it "
    "emits the exact quantile_cont values (rounded 4dp, q14's "
    "determinism argument) plus literal TRUEs — a hash mismatch means "
    "the sketch broke its contract. At 100 TB only the sketch pass "
    "survives (mergeable state, one shuffle of sketch blobs); the "
    "exact side here is the audit's ground truth at audit scale.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound,
       TRUE AS p99_within_bound
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q105_approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    acc = 1000
    slack = 1.5 / acc
    lo = [max(0.0, p - slack) for p in (0.5, 0.9, 0.99)]
    hi = [min(1.0, p + slack) for p in (0.5, 0.9, 0.99)]
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile(l_extendedprice, array(0.5, 0.9, 0.99))"
        ).alias("exact"),
        F.expr(
            f"percentile(l_extendedprice, array({lo[0]}, {lo[1]}, {lo[2]}))"
        ).alias("exact_lo"),
        F.expr(
            f"percentile(l_extendedprice, array({hi[0]}, {hi[1]}, {hi[2]}))"
        ).alias("exact_hi"),
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), {acc})"
        ).alias("approx"),
    )

    def within(i: int) -> F.Column:
        a = F.element_at("approx", i)
        return (F.element_at("exact_lo", i) <= a) & (
            a <= F.element_at("exact_hi", i)
        )

    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.element_at("exact", 1), 4).alias("exact_p50"),
        F.round(F.element_at("exact", 2), 4).alias("exact_p90"),
        F.round(F.element_at("exact", 3), 4).alias("exact_p99"),
        within(1).alias("p50_within_bound"),
        within(2).alias("p90_within_bound"),
        within(3).alias("p99_within_bound"),
    ).orderBy("l_returnflag")


@register(
    "q106_zonemap_pruned_scan",
    category="scan-filter-project",
    doc="Manifest zone-map file pruning — the Iceberg/Delta metadata-"
    "pruning move on plain parquet: publish_version(stats_cols=...) "
    "records per-file [min, max] zone maps in the KB-sized manifest "
    "(one O(batch) scan at commit), and read_where() skips every file "
    "whose range cannot intersect the predicate BEFORE Spark plans the "
    "scan — no footers opened, no directory listing. The builder "
    "publishes events range-partitioned on value (8 files), then "
    "answers a selective range aggregate through the pruned read; "
    "tests/test_manifest.py asserts the prune actually drops most "
    "files and that an all-NULL zone and a stats-less file behave "
    "conservatively. At 100 TB the pruning decision is a driver-side "
    "loop over a KB manifest while the saved IO is proportional to "
    "table size — the highest-leverage read optimization a selective "
    "query has. Result checked against the plain full-scan filter.",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE value BETWEEN CAST(100.0 AS DOUBLE) AND CAST(150.0 AS DOUBLE)
GROUP BY event_type
ORDER BY event_type
""",
)
def q106_zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # Deterministic per-sf path, wiped before publishing (q104's rerun
    # pattern): re-runs replace the one table copy instead of leaking a
    # fresh tempdir + an extra manifest version per invocation.
    path = _scratch_table_path("zonemap_events", sf_dir)
    manifest.publish_version(
        ev.repartitionByRange(8, "value"), path, stats_cols=("value",)
    )
    pruned = manifest.read_where(
        spark, path, "value", float(100.0), float(150.0)
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q107_incremental_version_scan",
    category="scan-filter-project",
    doc="Manifest incremental scan — the Iceberg-style 'read only what "
    "arrived since version N' consumption pattern that keeps a "
    "downstream aggregate O(delta) per refresh instead of re-scanning "
    "the corpus: a base snapshot publishes as v1, the day's arrivals "
    "APPEND as v2 (O(batch) data + KB manifest, prior files carried by "
    "reference), and read_appended walks the v1..v2 commit chain "
    "driver-side (manifest.chain_links) to plan ONLY the appended "
    "files. The builder aggregates the incremental slice; the oracle "
    "states the same aggregate over the arrival predicate directly — "
    "equal because an append commit's new files are exactly the new "
    "rows. At 100 TB this is how a q96-style MV maintains itself from "
    "a manifest log without a transaction server. tests/test_manifest.py "
    "pins the chain semantics (appends exact, empty delta, overwrite "
    "and changelog refusal).",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q107_incremental_version_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    cutoff = "1996-01-01"
    path = _scratch_table_path("inc_orders", sf_dir)
    manifest.publish_version(
        o.filter(F.col("o_orderdate").cast("date") < cutoff), path
    )
    manifest.append_version(
        o.filter(F.col("o_orderdate").cast("date") >= cutoff), path
    )
    inc = manifest.read_appended(spark, path, 1, 2)
    return (
        inc.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q108_bloom_point_lookup",
    category="scan-filter-project",
    doc="Per-file Bloom sidecar point lookup — the equality complement "
    "to q106's zone maps: a point probe on an UNCLUSTERED high-"
    "cardinality key (user_id in a time-ordered events table) matches "
    "every file's [min, max], so zone maps prune nothing; the per-file "
    "Bloom index (pipeline/bloom_index.py — ADAPTIVE width, ~10 bits "
    "per key of the largest file rounded up to a power of two with a "
    "16 Ki-bit floor and 64 Mi-bit cap, stored as sparse OR-folded "
    "64-bit words, Iceberg-puffin/Delta-bloom shaped, built in ONE job "
    "grouped by input_file_name) prunes to the files whose k=3 bits "
    "are all set, with Bloom's no-false-negative guarantee making the "
    "pruned read EXACT. The builder publishes events time-partitioned "
    "(user rows scattered across all files — the honest hard case: "
    "most user_ids touch several files but far from all 8), indexes "
    "user_id, and aggregates three users' rows through ONE batched "
    "read_point probe: all three values' cells in one 1-row job, one "
    "sidecar scan, one pruned read over the unioned candidate set — "
    "not three separate lookups paying 3x the per-job latency floor. "
    "The oracle filters directly. tests/test_manifest.py pins pruning "
    "counts, false-negative absence, batched-equals-separate, and the "
    "no-index fallback.",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE user_id IN (3, 47, 111)
GROUP BY user_id
ORDER BY user_id
""",
)
def q108_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )
    from european_public_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    path = _scratch_table_path("bloom_events", sf_dir)
    # Time-ordered layout: every user's rows scatter across files, the
    # case where zone maps on user_id are useless and Blooms are not.
    manifest.publish_version(ev.repartitionByRange(8, "ts"), path)
    build_bloom_index(spark, path, "user_id")
    # ONE batched probe for all three users: one 1-row cell job, one
    # sidecar scan, one pruned read (vs 3x each as separate lookups).
    hits = read_point(spark, path, "user_id", [3, 47, 111]).select(
        "user_id", "value"
    )
    return (
        hits.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "q109_zorder_dual_pruning",
    category="scan-filter-project",
    doc="Z-order + dual-column zone maps — ONE layout that prunes range "
    "predicates on EITHER column: events Morton-clustered on (user_id, "
    "value) (pipeline/layout.py zorder_by — rank-normalized bit "
    "interleave, so every file covers a small rectangle of the 2-D key "
    "space) published with zone maps on both columns; a user-range "
    "aggregate and a value-range aggregate then both read through "
    "read_where's manifest prune. A single-column sort would answer one "
    "of these selectively and scan everything for the other — the "
    "classic reason warehouses z-order their secondary-filter columns. "
    "tests/test_manifest.py asserts both predicates actually drop files "
    "from the same layout. Results checked against plain filters.",
    oracle="""
SELECT dim, n, total_value FROM (
  SELECT 'by_user' AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events WHERE user_id BETWEEN 10 AND 20
  UNION ALL
  SELECT 'by_value',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
  FROM events
  WHERE value BETWEEN CAST(100.0 AS DOUBLE) AND CAST(120.0 AS DOUBLE)
)
ORDER BY dim
""",
)
def q109_zorder_dual_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.layout import zorder_by
    from european_public_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    path = _scratch_table_path("zorder_events", sf_dir)
    manifest.publish_version(
        zorder_by(ev, "user_id", "value", 8),
        path,
        stats_cols=("user_id", "value"),
    )

    def agg(df: DataFrame, dim: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        ).select(F.lit(dim).alias("dim"), "n", "total_value")

    by_user = agg(manifest.read_where(spark, path, "user_id", 10, 20), "by_user")
    by_value = agg(
        manifest.read_where(spark, path, "value", float(100.0), float(120.0)),
        "by_value",
    )
    return by_user.unionByName(by_value).orderBy("dim")


_SCRATCH_DIRS: set[str] = set()


@atexit.register
def _remove_scratch_dirs() -> None:
    """Remove this process's scratch tables at interpreter exit (a forked
    child inherits the set, but its paths name the parent's pid)."""
    for path in _SCRATCH_DIRS:
        if path.endswith(f"_{os.getpid()}"):
            shutil.rmtree(path, ignore_errors=True)


def _scratch_table_path(prefix: str, sf_dir: str) -> str:
    """Deterministic per-process, per-sf scratch path for self-published
    manifest tables (q104's rerun pattern): re-runs in one process
    replace the one table copy instead of leaking a fresh tempdir per
    invocation, the full-path hash keeps two sf_dirs sharing a basename
    from colliding, and the process id keeps two processes building the
    same query from deleting each other's tables. The process's paths
    are removed at interpreter exit."""
    import hashlib
    import re
    import tempfile

    tag = re.sub(r"[^0-9a-z]+", "_", os.path.basename(sf_dir.rstrip("/")).lower())
    tag += "_" + hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    _SCRATCH_DIRS.add(path)
    return path


@register(
    "q110_incremental_mv_refresh",
    category="aggregate",
    doc="Pull-based incremental MV refresh under the driver contract — "
    "the scheduled-job twin of q96's algebraic merge, driven by the "
    "source table's manifest log (pipeline/mv_refresh.py): the builder "
    "self-publishes events as a scratch manifest table (base snapshot "
    "v1), refreshes the MV (full compute), APPENDS the late arrivals as "
    "v2 (O(batch) data + KB manifest), and refreshes again — the second "
    "refresh reads the applied-version watermark from the MV's manifest "
    "meta, diffs two KB manifests, plans ONLY v2's appended files "
    "(O(delta)), aggregates them, and merges two aggregate-sized "
    "relations; history is never re-scanned. The oracle recomputes the "
    "same aggregate over ALL events directly, so the green hash proves "
    "refresh == recompute THROUGH the driver, not just pytest "
    "(tests/test_mv_refresh.py keeps the no-op re-run, rewrite-hazard "
    "and purge-hazard fallback paths pinned). Money stays exact: "
    "centi-unit BIGINT state (q85's recipe), derived double computed "
    "once from the exact integer in both engines. At 100 TB this is "
    "the MV-maintenance shape that makes dashboard refresh cost "
    "proportional to the day's arrivals, not the corpus.",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
       CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
            AS DOUBLE) AS total_value,
       MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
       MAX(CAST(ts AS TIMESTAMP)) AS last_ts
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q110_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        refresh_event_summary,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    src = _scratch_table_path("mvsrc_events", sf_dir)
    mv = _scratch_table_path("mv_summary", sf_dir)
    cutoff = "2024-01-20"
    # Base snapshot -> full MV compute; append -> INCREMENTAL refresh
    # (append commits carry v1's files by reference, so the watermark
    # diff plans exactly the appended files — the O(delta) branch is
    # taken deterministically, never the full-recompute fallback).
    manifest.publish_version(ev.filter(F.col("ts") < cutoff), src)
    refresh_event_summary(spark, src, mv)
    manifest.append_version(ev.filter(F.col("ts") >= cutoff), src)
    refresh_event_summary(spark, src, mv)
    out = manifest.read_version(spark, mv)
    return out.select(
        "event_type",
        "n_events",
        "sum_value_c",
        (F.col("sum_value_c").cast("double") / F.lit(100.0)).alias("total_value"),
        "first_ts",
        "last_ts",
    ).orderBy("event_type")


@register(
    "q111_purge_then_read",
    category="scan-filter-project",
    doc="GDPR hard-delete end state under the driver contract: the "
    "builder self-publishes events as two manifest versions (base "
    "publish + append), purge_rows(user_id=7) rewrites every affected "
    "file ONCE across ALL committed history (plan-carrying tombstone "
    "first, manifests remapped old->new, old bytes deleted last — "
    "pipeline/manifest.py purge_rows; crash replay and the racing-"
    "append guard stay pytest-pinned in tests/test_manifest.py), and "
    "the query then reads BOTH the current version and time-traveled "
    "v1. The oracle states the same aggregates with the user filtered "
    "out, plus a literal-zero purged-row count (q25's bounds-audit "
    "pattern: the builder COMPUTES the count over what it read) — so "
    "the green hash proves erasure reached history, time travel still "
    "works, and every non-purged row survived with exact totals. At "
    "100 TB the purge plans its rewrites from KB manifests, zone-map-"
    "skips clean files, and touches each affected file exactly once "
    "regardless of how many versions share it.",
    oracle="""
SELECT dim, n, n_purged_user, total_value FROM (
  SELECT 'current' AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS n_purged_user,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events
  WHERE user_id <> 7
  UNION ALL
  SELECT 'v1',
         CAST(COUNT(*) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
  FROM events
  WHERE user_id <> 7
    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
)
ORDER BY dim
""",
)
def q111_purge_then_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _scratch_table_path("purge_events", sf_dir)
    cutoff = "2024-01-20"
    manifest.publish_version(
        ev.filter(F.col("ts") < cutoff).repartitionByRange(4, "ts"),
        path,
        stats_cols=("user_id",),
    )
    manifest.append_version(
        ev.filter(F.col("ts") >= cutoff).repartitionByRange(4, "ts"),
        path,
        stats_cols=("user_id",),
    )
    manifest.purge_rows(spark, path, "user_id", [7])

    def agg(df: DataFrame, dim: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("user_id") == 7, 1)).alias("n_purged_user"),
            dsum("value").alias("total_value"),
        ).select(F.lit(dim).alias("dim"), "n", "n_purged_user", "total_value")

    cur = agg(manifest.read_version(spark, path), "current")
    v1 = agg(manifest.read_version(spark, path, 1), "v1")
    return cur.unionByName(v1).orderBy("dim")


@register(
    "q112_clustered_compact_scan",
    category="scan-filter-project",
    doc="Clustered compaction under the driver contract — Delta's "
    "OPTIMIZE ZORDER move for one key (pipeline/manifest.compact with "
    "cluster_by): four interleaved appends leave every file spanning "
    "the full o_totalprice range (zone maps prune nothing), then ONE "
    "compaction rewrites the head version range-partitioned + sorted "
    "on the key with stats recomputed automatically, and the query "
    "reads a selective price band through read_where's manifest prune. "
    "The oracle states the same filtered aggregate over orders "
    "directly, so the green hash proves the rewrite lost and invented "
    "NOTHING while restoring selective pruning (the file-count drop "
    "itself is pinned in tests/test_manifest.py — repartitionByRange "
    "samples, so file boundaries are not oracle-assertable). At 100 TB "
    "this is the scheduled rewrite that keeps append-heavy tables "
    "selectively readable; the compaction is the table's only "
    "full-size write.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
WHERE o_totalprice BETWEEN CAST(10000.0 AS DOUBLE) AND CAST(20000.0 AS DOUBLE)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q112_clustered_compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    o = load_table(spark, sf_dir, "orders")
    path = _scratch_table_path("compact_orders", sf_dir)
    # Interleaved appends: every slice (hence every file) spans the full
    # price range — the layout clustered compaction exists to repair.
    for r in range(4):
        manifest.append_version(
            o.filter(F.col("o_orderkey") % 4 == r).coalesce(2),
            path,
            stats_cols=("o_totalprice",),
        )
    manifest.compact(spark, path, target_files=4, cluster_by="o_totalprice")
    pruned = manifest.read_where(
        spark, path, "o_totalprice", float(10000.0), float(20000.0)
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q113_merge_upsert",
    category="join",
    doc="Transactional-MERGE semantics under the driver contract "
    "(pipeline/cow_merge.py merge_into_manifest): the scratch target "
    "publishes as the shared CDC snapshot A (q97/q100/q104's "
    "'yesterday'), snapshot B merges into it — key-matched rows "
    "replaced (the %7 balance shifts), new keys appended (the %13 gap "
    "rows), unmatched target rows preserved (B's %11 'deletes' do NOT "
    "delete in a MERGE without WHEN NOT MATCHED BY SOURCE — they simply "
    "stay, which the oracle's FULL OUTER COALESCE states exactly). "
    "Duplicate-update refusal, zone-map file pruning and additive "
    "schema evolution stay pytest-pinned (tests/test_cow_merge.py, "
    "tests/test_merge.py); the driver hash certifies the end state "
    "row-for-row. At 100 TB, with zone maps on the key, the merge "
    "rewrites only the files that can hold an update key — O(touched "
    "files), not O(table).",
    oracle="""
WITH a AS (
  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 13 <> 0
),
b AS (
  SELECT c_custkey,
         CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10
                   ELSE c_acctbal END AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 11 <> 0
)
SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
       COALESCE(b.bal, a.bal) AS bal
FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
ORDER BY c_custkey
""",
)
def q113_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    a = _cdc_snapshot_a(spark, sf_dir).select(
        F.col("a_key").alias("c_custkey"),
        F.col("old_bal").cast("double").alias("bal"),
    )
    b = _cdc_snapshot_b(spark, sf_dir).select(
        F.col("b_key").alias("c_custkey"),
        F.col("new_bal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("merge_customer", sf_dir)
    manifest.publish_version(a, path)
    merge_into_manifest(spark, path, b, keys=["c_custkey"])
    return manifest.read_version(spark, path).select("c_custkey", "bal").orderBy(
        "c_custkey"
    )


@register(
    "q114_scd2_history",
    category="join",
    doc="SCD Type-2 history under the driver contract (pipeline/scd.py "
    "scd2_apply): snapshot A loads as the initial current rows "
    "(valid_from t1, open-ended), snapshot B applies as the day-2 "
    "batch — changed keys (the %7 balance shifts) get their current "
    "row CLOSED at t2 and a new current row opened, brand-new keys "
    "(the %13 gap rows) open at t2, unchanged keys keep their t1 row, "
    "and keys absent from B stay current (SCD2 closes on observed "
    "change, not on absence). The oracle restates the complete "
    "(current + history) row set from the two snapshot predicates "
    "directly — closed rows with exact [t1, t2) ranges included — so "
    "the hash certifies every validity interval byte-for-byte. "
    "snapshot_at time travel and multi-batch idempotency stay "
    "pytest-pinned (tests/test_scd.py).",
    oracle="""
WITH a AS (
  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 13 <> 0
),
b AS (
  SELECT c_custkey,
         CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10
                   ELSE c_acctbal END AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 11 <> 0
),
t AS (SELECT TIMESTAMP '2024-01-01 00:00:00' AS t1,
             TIMESTAMP '2024-02-01 00:00:00' AS t2)
SELECT c_custkey, bal, valid_from, valid_to, is_current FROM (
  -- closed: keys in both whose balance changed
  SELECT a.c_custkey, a.bal, t.t1 AS valid_from, t.t2 AS valid_to,
         FALSE AS is_current
  FROM a JOIN b ON a.c_custkey = b.c_custkey, t
  WHERE a.bal IS DISTINCT FROM b.bal
  UNION ALL
  -- re-opened current rows for those changed keys
  SELECT b.c_custkey, b.bal, t.t2, CAST(NULL AS TIMESTAMP), TRUE
  FROM a JOIN b ON a.c_custkey = b.c_custkey, t
  WHERE a.bal IS DISTINCT FROM b.bal
  UNION ALL
  -- unchanged keys present in both: the original t1 row stays current
  SELECT a.c_custkey, a.bal, t.t1, CAST(NULL AS TIMESTAMP), TRUE
  FROM a JOIN b ON a.c_custkey = b.c_custkey, t
  WHERE NOT (a.bal IS DISTINCT FROM b.bal)
  UNION ALL
  -- keys only in A: absence is not change; t1 row stays current
  SELECT a.c_custkey, a.bal, t.t1, CAST(NULL AS TIMESTAMP), TRUE
  FROM a, t WHERE a.c_custkey NOT IN (SELECT c_custkey FROM b)
  UNION ALL
  -- brand-new keys in B open at t2
  SELECT b.c_custkey, b.bal, t.t2, CAST(NULL AS TIMESTAMP), TRUE
  FROM b, t WHERE b.c_custkey NOT IN (SELECT c_custkey FROM a)
)
ORDER BY c_custkey, valid_from
""",
)
def q114_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline.scd import (
        read_scd2,
        scd2_apply,
    )

    a = _cdc_snapshot_a(spark, sf_dir).select(
        F.col("a_key").alias("c_custkey"),
        F.col("old_bal").cast("double").alias("bal"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_ts"),
    )
    b = _cdc_snapshot_b(spark, sf_dir).select(
        F.col("b_key").alias("c_custkey"),
        F.col("new_bal").cast("double").alias("bal"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("effective_ts"),
    )
    path = _scratch_table_path("scd2_customer", sf_dir)
    scd2_apply(spark, path, a, key_cols=["c_custkey"], attr_cols=["bal"])
    scd2_apply(spark, path, b, key_cols=["c_custkey"], attr_cols=["bal"])
    return read_scd2(spark, path).select(
        "c_custkey", "bal", "valid_from", "valid_to", "is_current"
    ).orderBy("c_custkey", "valid_from")


@register(
    "q115_wap_gated_publish",
    category="scan-filter-project",
    doc="Write-audit-publish happy path under the driver contract "
    "(pipeline/wap.py write_audit_publish): the batch stages with its "
    "row-level constraints lifted onto the write job as observed "
    "metrics (ONE source scan), the audit gate passes, and the batch "
    "publishes via dynamic partition overwrite; the query aggregates "
    "the PUBLISHED table and the oracle states the same aggregate over "
    "the source predicate — a lost or duplicated row anywhere in the "
    "stage/publish cycle hash-mismatches. The failing-audit quarantine "
    "path (exception + staging retained + report) stays pytest-pinned "
    "in tests/test_wap.py; publish_version_gated is the manifest-native "
    "twin.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_shipdate >= DATE '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q115_wap_gated_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline.wap import (
        write_audit_publish,
    )
    from european_public_data_pipeline_spark.quality.checks import CheckSuite

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1998-01-01"
    )
    batch = li.select("l_orderkey", "l_returnflag", "l_quantity")
    suite = (
        CheckSuite(batch)
        .expect_not_null(["l_orderkey", "l_returnflag"])
        .expect_no_violation("non_positive_qty", F.col("l_quantity") <= 0)
    )
    path = _scratch_table_path("wap_lineitem", sf_dir)
    write_audit_publish(batch, suite, path, ["l_returnflag"])
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q116_mv_refresh_rewrite_hazard",
    category="aggregate",
    doc="The MV-refresh REWRITE-HAZARD path under the driver contract — "
    "q110 proves the O(delta) append branch; this proves the detector "
    "that guards it (pipeline/mv_refresh.py): publish base -> refresh "
    "(full), append -> refresh (incremental), then OVERWRITE the source "
    "with a full publish_version (an untagged rewrite — no row-"
    "preservation guarantee; since round 11's commit-kind tags a "
    "compaction is a tagged replace the chain may SKIP, pinned by "
    "q127), append again -> refresh. The chain since the applied "
    "version now contains an overwrite commit, so the third refresh "
    "must fall back to a FULL recompute — a detector that wrongly "
    "stayed incremental would re-absorb the republished files (the "
    "whole table) on top of the already-merged state and double-count "
    "every pre-rewrite row, hash-mismatching the oracle's direct "
    "recompute. Each refresh also commits WHICH branch it took into "
    "the MV's manifest meta, and the builder emits those as result "
    "columns against oracle literals (q25's bounds-audit pattern), so "
    "the green hash pins the branch SEQUENCE (incremental then full), "
    "not just the end state. At 100 TB this is the guard that makes an "
    "ad-hoc table rewrite safe to run under a live MV: the next "
    "refresh pays one rebuild, and every refresh after that is "
    "O(delta) again.",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
       CAST('incremental' AS VARCHAR) AS refresh2_mode,
       CAST('full' AS VARCHAR) AS refresh3_mode
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q116_mv_refresh_rewrite_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        refresh_event_summary,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    src = _scratch_table_path("mvhaz_events", sf_dir)
    mv = _scratch_table_path("mvhaz_summary", sf_dir)
    c1, c2 = "2024-01-15", "2024-01-25"
    manifest.publish_version(ev.filter(F.col("ts") < c1), src)
    refresh_event_summary(spark, src, mv)  # full (first build)
    manifest.append_version(
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)), src
    )
    refresh_event_summary(spark, src, mv)  # incremental (append chain)
    mode2 = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    # Rewrite hazard: a full publish is an OVERWRITE commit — unlike
    # compact's tagged row-preserving replace (q127), nothing certifies
    # the rows survived, so the chain walk must refuse the delta.
    manifest.publish_version(
        manifest.read_version(spark, src), src
    )
    manifest.append_version(ev.filter(F.col("ts") >= c2), src)
    refresh_event_summary(spark, src, mv)  # full (overwrite in chain)
    mode3 = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    out = manifest.read_version(spark, mv)
    return out.select(
        "event_type",
        "n_events",
        "sum_value_c",
        F.lit(mode2).alias("refresh2_mode"),
        F.lit(mode3).alias("refresh3_mode"),
    ).orderBy("event_type")


@register(
    "q117_bloom_stale_sidecar_purge",
    category="scan-filter-project",
    doc="Bloom-index soundness across purge_rows under the driver "
    "contract — the composition q108's docstring promises: publish "
    "events (two versions, time-ordered so user rows scatter), build "
    "the user_id Bloom sidecar, then purge one user. The purge rewrites "
    "every affected file under a NEW name without bumping any version, "
    "so the sidecar is now STALE: read_point must keep the never-seen "
    "rewritten files as candidates (pruning is only sound for files the "
    "index covers) — the probe of a LIVE user through the stale sidecar "
    "is exact, and the probe of the PURGED user returns zero rows even "
    "though the sidecar's filters still bit-match the erased key in the "
    "old (deleted) files. pipeline/bloom_index.py rebuild_index then "
    "rebuilds every existing sidecar for the column against the current "
    "file lists (the post-purge remediation), the live probe re-reads "
    "exactly, and — since unchanged files keep identical filters while "
    "rewritten files go from always-candidate to probe-tested — the "
    "rebuilt plan's file set is deterministically a SUBSET of the stale "
    "plan's (emitted as a boolean against an oracle literal TRUE, q25's "
    "bounds-audit pattern). At 100 TB: purge staleness degrades point "
    "lookups toward full scans but never toward wrong answers, and one "
    "metadata-scale rebuild per indexed version restores the pruning.",
    oracle="""
SELECT dim, n, total_value, rebuild_narrows FROM (
  SELECT 'live_rebuilt' AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE)
           AS total_value,
         TRUE AS rebuild_narrows
  FROM events WHERE user_id = 3
  UNION ALL
  SELECT 'live_stale',
         CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE),
         TRUE
  FROM events WHERE user_id = 3
  UNION ALL
  SELECT 'purged_stale', CAST(0 AS BIGINT), CAST(0 AS DOUBLE), TRUE
)
ORDER BY dim
""",
)
def q117_bloom_stale_sidecar_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
        rebuild_index,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _scratch_table_path("bloomstale_events", sf_dir)
    cutoff = "2024-01-20"
    manifest.publish_version(
        ev.filter(F.col("ts") < cutoff).repartitionByRange(4, "ts"), path
    )
    manifest.append_version(
        ev.filter(F.col("ts") >= cutoff).repartitionByRange(4, "ts"), path
    )
    build_bloom_index(spark, path, "user_id")
    manifest.purge_rows(spark, path, "user_id", [7])  # sidecar now stale

    live_stale = read_point(spark, path, "user_id", 3)
    purged_stale = read_point(spark, path, "user_id", 7)
    stale_planned = set(live_stale.inputFiles())
    rebuild_index(spark, path, "user_id")
    live_rebuilt = read_point(spark, path, "user_id", 3)
    narrows = set(live_rebuilt.inputFiles()) <= stale_planned

    def agg(df: DataFrame, dim: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(dsum("value"), F.lit(0.0)).alias("total_value"),
        ).select(
            F.lit(dim).alias("dim"),
            "n",
            "total_value",
            F.lit(narrows).alias("rebuild_narrows"),
        )

    return (
        agg(live_rebuilt, "live_rebuilt")
        .unionByName(agg(live_stale, "live_stale"))
        .unionByName(agg(purged_stale, "purged_stale"))
        .orderBy("dim")
    )


@register(
    "q118_scd2_partition_scoped",
    category="join",
    doc="Partition-scoped SCD2 applies under the driver contract — the "
    "fact-scale path added in round 9 (pipeline/scd.py scd2_apply "
    "partition_col; measured 9.16s -> 3.14s with 2/80 sub-partitions "
    "rewritten, PLANS.md): the same two-snapshot history as q114, but "
    "the table sub-partitions current AND history by kb (a bucket "
    "derived from the key — a stable function, scd2_apply's "
    "partition_col contract), and the day-2 batch touches "
    "ONLY buckets b1/b3. The apply must scope its change detection and "
    "current-row replace to those two sub-partitions; the oracle "
    "restates the COMPLETE history — including every untouched "
    "bucket's still-current rows — so a scoped rewrite that dropped "
    "any out-of-scope row (the NULL-partition overwrite hazard class "
    "caught in review, pinned in tests/test_scd.py) hash-mismatches. "
    "At 100 TB this row certifies the layout that makes SCD2 applies "
    "O(touched partitions) on fact-sized keyed tables.",
    oracle="""
WITH a AS (
  SELECT c_custkey, 'b' || CAST(c_custkey % 8 AS VARCHAR) AS kb,
         CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 13 <> 0
),
b AS (
  SELECT c_custkey, 'b' || CAST(c_custkey % 8 AS VARCHAR) AS kb,
         CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10
                   ELSE c_acctbal END AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 11 <> 0 AND c_custkey % 8 IN (1, 3)
),
t AS (SELECT TIMESTAMP '2024-01-01 00:00:00' AS t1,
             TIMESTAMP '2024-02-01 00:00:00' AS t2)
SELECT c_custkey, kb, bal, valid_from, valid_to, is_current FROM (
  SELECT a.c_custkey, a.kb, a.bal, t.t1 AS valid_from, t.t2 AS valid_to,
         FALSE AS is_current
  FROM a JOIN b ON a.c_custkey = b.c_custkey, t
  WHERE a.bal IS DISTINCT FROM b.bal
  UNION ALL
  SELECT b.c_custkey, b.kb, b.bal, t.t2, CAST(NULL AS TIMESTAMP), TRUE
  FROM a JOIN b ON a.c_custkey = b.c_custkey, t
  WHERE a.bal IS DISTINCT FROM b.bal
  UNION ALL
  SELECT a.c_custkey, a.kb, a.bal, t.t1, CAST(NULL AS TIMESTAMP), TRUE
  FROM a JOIN b ON a.c_custkey = b.c_custkey, t
  WHERE NOT (a.bal IS DISTINCT FROM b.bal)
  UNION ALL
  SELECT a.c_custkey, a.kb, a.bal, t.t1, CAST(NULL AS TIMESTAMP), TRUE
  FROM a, t WHERE a.c_custkey NOT IN (SELECT c_custkey FROM b)
  UNION ALL
  SELECT b.c_custkey, b.kb, b.bal, t.t2, CAST(NULL AS TIMESTAMP), TRUE
  FROM b, t WHERE b.c_custkey NOT IN (SELECT c_custkey FROM a)
)
ORDER BY c_custkey, valid_from
""",
)
def q118_scd2_partition_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline.scd import (
        read_scd2,
        scd2_apply,
    )

    kb = F.concat(F.lit("b"), F.pmod(F.col("c_custkey"), 8).cast("string"))
    a = _cdc_snapshot_a(spark, sf_dir).select(
        F.col("a_key").alias("c_custkey"),
        F.col("old_bal").cast("double").alias("bal"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_ts"),
    ).withColumn("kb", kb)
    b = (
        _cdc_snapshot_b(spark, sf_dir)
        .select(
            F.col("b_key").alias("c_custkey"),
            F.col("new_bal").cast("double").alias("bal"),
            F.lit("2024-02-01 00:00:00").cast("timestamp").alias("effective_ts"),
        )
        .withColumn("kb", kb)
        .filter(F.col("kb").isin("b1", "b3"))
    )
    path = _scratch_table_path("scd2_scoped_customer", sf_dir)
    scd2_apply(
        spark, path, a,
        key_cols=["c_custkey"], attr_cols=["bal"], partition_col="kb",
    )
    scd2_apply(
        spark, path, b,
        key_cols=["c_custkey"], attr_cols=["bal"], partition_col="kb",
    )
    return read_scd2(spark, path).select(
        "c_custkey", "kb", "bal", "valid_from", "valid_to", "is_current"
    ).orderBy("c_custkey", "valid_from")


@register(
    "q119_retention_expire_versions",
    category="scan-filter-project",
    doc="Retention GC under the driver contract — the lifecycle op that "
    "completes the lakehouse layer (pipeline/manifest.py "
    "expire_versions, Iceberg's expire_snapshots): publish v1, append "
    "v2 (carries v1's files BY REFERENCE), compact v3 (rewrites "
    "everything), append v4, then expire to keep_last=2. The refcount "
    "is the content of the proof: v1/v2's manifests and their "
    "now-exclusively-owned bytes are reclaimed, while every byte the "
    "retained v3/v4 reference survives — the CURRENT aggregate and the "
    "TIME-TRAVELED v3 aggregate are both restated by the oracle from "
    "the source predicates, so a GC that deleted one shared file too "
    "many (the classic retention bug: diffing directories instead of "
    "refcounting manifests) hash-mismatches. Bounds-audit literals pin "
    "the rest: exactly two versions expired, some bytes actually "
    "reclaimed, and the expired v1 no longer time-travels. "
    "vacuum_orphans (crashed-publisher staging reclaim, age-fenced) "
    "and the rollback-target/pending-purge guards stay pytest-pinned "
    "(tests/test_manifest.py). At 100 TB this bounds time-travel "
    "storage: manifests are KB-sized, the delete list is exact from "
    "the refcount, and no directory diff ever runs.",
    oracle="""
SELECT dim, n, total_value, n_expired, reclaimed_some, v1_gone FROM (
  SELECT 'current' AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         CAST(2 AS BIGINT) AS n_expired,
         TRUE AS reclaimed_some,
         TRUE AS v1_gone
  FROM events
  UNION ALL
  SELECT 'v3_time_travel',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
         CAST(2 AS BIGINT), TRUE, TRUE
  FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-25 00:00:00'
)
ORDER BY dim
""",
)
def q119_retention_expire_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _scratch_table_path("expire_events", sf_dir)
    c1, c2 = "2024-01-15", "2024-01-25"
    manifest.publish_version(ev.filter(F.col("ts") < c1), path)          # v1
    manifest.append_version(
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)), path
    )                                                                     # v2
    manifest.compact(spark, path, target_files=2)                         # v3
    manifest.append_version(ev.filter(F.col("ts") >= c2), path)          # v4
    out = manifest.expire_versions(spark, path, keep_last=2)
    try:
        manifest.read_version(spark, path, 1)
        v1_gone = False
    except Exception:
        v1_gone = True

    def agg(df: DataFrame, dim: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        ).select(
            F.lit(dim).alias("dim"),
            "n",
            "total_value",
            F.lit(out["versions_expired"]).cast("long").alias("n_expired"),
            F.lit(out["files_deleted"] > 0).alias("reclaimed_some"),
            F.lit(v1_gone).alias("v1_gone"),
        )

    return (
        agg(manifest.read_version(spark, path), "current")
        .unionByName(agg(manifest.read_version(spark, path, 3), "v3_time_travel"))
        .orderBy("dim")
    )


@register(
    "q120_manifest_schema_evolution",
    category="scan-filter-project",
    doc="Additive schema evolution on manifest tables under the driver "
    "contract — the manifest OWNS the schema (pipeline/manifest.py "
    "_merge_schemas/_read_files, Delta/Iceberg's rule): v1 publishes "
    "events WITHOUT the event_type column, v2 appends the later rows "
    "WITH it; the committed v2 manifest records the union schema "
    "(prior columns first, new column appended), so the current read "
    "serves every row with pre-evolution rows reading the new column "
    "as NULL — parquet-footer inference would instead serve whichever "
    "file's schema the reader sampled and silently drop the column for "
    "everyone. The oracle restates the per-bucket aggregate with a "
    "CASE on the cutoff (legacy rows grouped under the NULL-backfill "
    "bucket), so a reader that lost the column, backfilled the wrong "
    "rows, or dropped legacy rows hash-mismatches; the time-traveled "
    "v1 column count (a pre-evolution schema stays ITS OWN schema) "
    "rides as a bounds-audit literal. Same-name type conflicts refuse "
    "loudly and compaction/purge preserve evolution — pytest-pinned "
    "(tests/test_manifest.py). At 100 TB: schema changes are a KB "
    "manifest commit, never a table rewrite, and readers never pay "
    "footer sampling to learn the schema.",
    oracle="""
SELECT bucket, n, total_value, v1_ncols FROM (
  SELECT CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
              THEN '(pre-evolution)' ELSE event_type END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         CAST(3 AS BIGINT) AS v1_ncols
  FROM events
  GROUP BY 1
)
ORDER BY bucket
""",
)
def q120_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    ev = load_table(spark, sf_dir, "events")
    path = _scratch_table_path("evolve_events", sf_dir)
    cutoff = "2024-01-20"
    manifest.publish_version(
        ev.filter(F.col("ts") < cutoff).select("event_id", "ts", "value"), path
    )
    manifest.append_version(
        ev.filter(F.col("ts") >= cutoff).select(
            "event_id", "ts", "value", "event_type"
        ),
        path,
    )
    v1_ncols = len(manifest.read_version(spark, path, 1).columns)
    return (
        manifest.read_version(spark, path)
        .groupBy(
            F.coalesce(F.col("event_type"), F.lit("(pre-evolution)")).alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .select(
            "bucket", "n", "total_value",
            F.lit(v1_ncols).cast("long").alias("v1_ncols"),
        )
        .orderBy("bucket")
    )


@register(
    "q121_declarative_mv_second_shape",
    category="aggregate",
    doc="The generic MV engine maintaining a SECOND declarative shape "
    "under the driver contract — the round-10 generalization of q110's "
    "one hard-coded view (pipeline/mv_refresh.py): refresh_mv takes an "
    "MVSpec (group keys + re-aggregable count/sum/min/max measures) on "
    "the unchanged watermark + files-md5 + containment-hazard "
    "machinery, and ORDER_TOTALS_SPEC maintains per-customer order "
    "totals over a manifest orders table — the 100 TB generalization "
    "of the reference's gold stage (load_hicp_to_sql.py:54-101), which "
    "is exactly a maintained downstream aggregate of silver. Publish "
    "pre-1999 orders -> refresh (full), append the rest -> refresh: "
    "the second refresh must take the O(delta) incremental branch "
    "(append commits carry prior files by reference), and the branch "
    "it took rides as a bounds-audit literal from the MV's committed "
    "meta. The oracle recomputes the totals over ALL orders directly, "
    "so the green hash proves spec-driven merge == recompute for a "
    "shape the engine had never seen — and non-re-aggregable measures "
    "(avg/median/distinct) refuse at spec construction, pytest-pinned "
    "in tests/test_mv_refresh.py. Money stays exact: centi-unit BIGINT "
    "state, derived double computed once from the exact integer in "
    "both engines.",
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_total_c,
       CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS DOUBLE) AS total_value,
       MIN(CAST(o_orderdate AS TIMESTAMP)) AS first_order,
       MAX(CAST(o_orderdate AS TIMESTAMP)) AS last_order,
       CAST('incremental' AS VARCHAR) AS refresh2_mode
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def q121_declarative_mv_second_shape(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        ORDER_TOTALS_SPEC,
        refresh_mv,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    src = _scratch_table_path("mv2src_orders", sf_dir)
    mv = _scratch_table_path("mv2_order_totals", sf_dir)
    cutoff = "1999-01-01"
    manifest.publish_version(o.filter(F.col("o_orderdate") < cutoff), src)
    refresh_mv(spark, src, mv, ORDER_TOTALS_SPEC)  # full (first build)
    manifest.append_version(o.filter(F.col("o_orderdate") >= cutoff), src)
    refresh_mv(spark, src, mv, ORDER_TOTALS_SPEC)  # incremental (append)
    mode2 = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    out = manifest.read_version(spark, mv)
    return out.select(
        "o_custkey",
        "n_orders",
        "sum_total_c",
        (F.col("sum_total_c").cast("double") / F.lit(100.0)).alias("total_value"),
        "first_order",
        "last_order",
        F.lit(mode2).alias("refresh2_mode"),
    ).orderBy("o_custkey")


@register(
    "q122_vacuum_orphans",
    category="scan-filter-project",
    doc="vacuum_orphans under the driver contract — the crash-recovery "
    "half of q119's retention story (pipeline/manifest.py, Delta's "
    "VACUUM): the builder stages the exact crash states GC deliberately "
    "leaves to vacuum — a crashed PUBLISHER's uuid-staged batch that no "
    "manifest ever named, and a simulated mid-expire_versions crash "
    "(v1/v2 manifests deleted, their exclusively-owned bytes left — "
    "expire deletes manifests FIRST, bytes second) — backdates those "
    "orphans past the age fence, plants a YOUNG unreferenced decoy "
    "batch (an in-flight commit's staging, by construction newer than "
    "the fence), and vacuums. The refcount walk must reclaim every "
    "backdated orphan, remove their emptied staging dirs, and leave "
    "BOTH the young decoy (the fence is the whole safety story: a "
    "publisher stages before it commits) and every byte the live v3 "
    "manifest references. The oracle restates the surviving table's "
    "aggregate from source predicates plus bounds-audit literals "
    "(orphans reclaimed, decoy survived), so a vacuum that diffed "
    "directories instead of refcounting manifests — or ignored the "
    "fence — hash-mismatches. With q119 this puts the whole lifecycle "
    "(publish -> append -> compact -> expire -> crash -> vacuum) under "
    "the driver hash; at 100 TB the walk is metadata-scale (KB "
    "manifests + one recursive listing).",
    oracle="""
SELECT CAST('current' AS VARCHAR) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       TRUE AS deleted_some,
       TRUE AS young_survived,
       TRUE AS orphans_all_reclaimed
FROM events
WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-25 00:00:00'
""",
)
def q122_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _scratch_table_path("vacuum_events", sf_dir)
    c1, c2 = "2024-01-15", "2024-01-25"
    manifest.publish_version(ev.filter(F.col("ts") < c1), path)           # v1
    manifest.append_version(
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)), path
    )                                                                      # v2
    manifest.compact(spark, path, target_files=2)                          # v3
    # Crash state A: a publisher staged its batch, then died before its
    # manifest commit — a uuid-prefixed dir no manifest names.
    ev.filter(F.col("ts") >= c2).coalesce(1).write.parquet(
        f"{path}/data/v00000099-crashedpub"
    )
    # Crash state B: expire_versions died between its two phases —
    # v1/v2 manifests already deleted, their exclusively-owned bytes
    # (v3's compaction rewrote everything, so nothing is shared) left.
    for v in (1, 2):
        os.remove(manifest._manifest_file(path, v))
    # Backdate every unreferenced file past the fence (the crashes
    # happened "long ago"); the decoy staged AFTER this stays young.
    live = {
        manifest._path_key(f)
        for f in manifest._read_manifest(spark, path, 3)["files"]
    }
    stale_ts = _time.time() - 7200.0
    for root, _dirs, files in os.walk(f"{path}/data"):
        for fn in files:
            p = os.path.join(root, fn)
            if manifest._path_key(p) not in live:
                os.utime(p, (stale_ts, stale_ts))
    # The young decoy: an "in-flight commit's" staging, newer than the
    # fence — vacuum must leave it alone.
    young_dir = f"{path}/data/v00000098-young"
    ev.filter(F.col("ts") >= c2).limit(50).coalesce(1).write.parquet(young_dir)
    res = manifest.vacuum_orphans(spark, path, min_age_seconds=3600.0)
    young_survived = any(
        fn.endswith(".parquet") for fn in os.listdir(young_dir)
    )
    # Hidden/metadata names (.crc checksum sidecars, _SUCCESS markers)
    # are invisible to Hadoop listings — the vacuum contract is about
    # data files, so the leftover audit skips them like Spark does.
    leftovers = [
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(f"{path}/data")
        for fn in files
        if not fn.startswith((".", "_"))
        and manifest._path_key(os.path.join(root, fn)) not in live
        and not root.startswith(young_dir)
    ]
    return (
        manifest.read_version(spark, path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.lit("current").alias("dim"),
            "n",
            "total_value",
            F.lit(res["files_deleted"] > 0).alias("deleted_some"),
            F.lit(young_survived).alias("young_survived"),
            F.lit(not leftovers).alias("orphans_all_reclaimed"),
        )
    )


@register(
    "q123_widen_column_rewrite",
    category="scan-filter-project",
    doc="The explicit type-widen rewrite schema evolution's conflict "
    "error promises under the driver contract (pipeline/manifest.py "
    "widen_column): v1 publishes events with user_id as INT (with a "
    "zone map on it), widen_column rewrites it to BIGINT as v2 — one "
    "full-size rewrite, compact's discipline: stats recomputed, meta "
    "carried, column order preserved — and v3 then APPENDS rows whose "
    "user_id is naturally BIGINT, the exact append _merge_schemas "
    "would have refused before the widen. The current read serves the "
    "union at the widened type while the time-traveled v1 keeps its "
    "narrow INT (both type names ride as bounds-audit literals), and "
    "the oracle restates the per-bucket aggregate over all events, so "
    "a widen that lost rows, reordered columns, or mis-cast values "
    "hash-mismatches. Lossless-only enforcement (narrowing, "
    "long->double, cross-kind refuse loudly) and the Bloom-sidecar "
    "rebuild on widen stay pytest-pinned (tests/test_manifest.py). At "
    "100 TB this is the one sanctioned O(table) evolution op — "
    "everything additive stays a KB manifest commit (q120).",
    oracle="""
SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST('int' AS VARCHAR) AS v1_type,
       CAST('bigint' AS VARCHAR) AS current_type
FROM events
GROUP BY 1
ORDER BY bucket
""",
)
def q123_widen_column_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _scratch_table_path("widen_events", sf_dir)
    cutoff = "2024-01-20"
    manifest.publish_version(
        ev.filter(F.col("ts") < cutoff).withColumn(
            "user_id", F.col("user_id").cast("int")
        ),
        path,
        stats_cols=("user_id",),
    )                                                                      # v1
    manifest.widen_column(spark, path, "user_id", "bigint")               # v2
    manifest.append_version(ev.filter(F.col("ts") >= cutoff), path)       # v3
    v1_type = (
        manifest.read_version(spark, path, 1).schema["user_id"]
        .dataType.simpleString()
    )
    cur = manifest.read_version(spark, path)
    cur_type = cur.schema["user_id"].dataType.simpleString()
    return (
        cur.groupBy(F.pmod(F.col("user_id"), F.lit(10)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .select(
            "bucket", "n", "total_value",
            F.lit(v1_type).alias("v1_type"),
            F.lit(cur_type).alias("current_type"),
        )
        .orderBy("bucket")
    )


@register(
    "q124_streaming_mv_maintenance",
    category="streaming",
    doc="The push-based streaming MV driver under the driver contract — "
    "q110/q121 prove the pull-based scheduler; this proves foreachBatch "
    "maintenance (streaming/mv_maintenance.py maintain_mv) of the SAME "
    "declarative spec: the builder lands the pre-cutoff events in a "
    "scratch source dir, runs one Trigger.AvailableNow pass (batch 0 "
    "absorbed, MV committed through the versioned-manifest protocol), "
    "lands the rest, and re-runs with the SAME checkpoint — the second "
    "pass absorbs ONLY the new files as batch 1 and merges two "
    "aggregate-sized relations (history never re-scanned; replayed "
    "batch ids are no-ops through the shared replay-guarded fold, "
    "streaming/sinks.py fold_batch, pytest-pinned in "
    "test_mv_maintenance.py). final_batch is the absorbed-batch "
    "watermark read from the MV head's manifest meta. "
    "The oracle recomputes the aggregate over ALL events directly and "
    "pins that watermark as a literal, so the green hash "
    "proves stream-maintained == recompute THROUGH the driver and that "
    "the second pass really was incremental. With q110 (scheduled) and "
    "q121 (second shape) this puts every MV driver on the shared "
    "MVSpec algebra under the hash. At 100 TB this is the shape that "
    "keeps a continuously-ingested table's dashboard aggregate current "
    "at O(batch + |MV|) per micro-batch.",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
       MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
       MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
       CAST(1 AS BIGINT) AS final_batch
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q124_streaming_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.streaming.mv_maintenance import (
        maintain_event_summary,
    )
    from european_public_data_pipeline_spark.streaming.windows import (
        read_events_stream,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = _scratch_table_path("smv_src", sf_dir)
    mv = _scratch_table_path("smv_mv", sf_dir)
    ckpt = _scratch_table_path("smv_ckpt", sf_dir)
    cutoff = "2024-01-20"
    ev.filter(F.col("ts") < cutoff).write.parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt)  # batch 0
    ev.filter(F.col("ts") >= cutoff).write.mode("append").parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt)  # batch 1
    final_batch = manifest.version_meta(spark, mv)["applied_batch"]
    return manifest.read_version(spark, mv).select(
        "event_type",
        "n_events",
        "sum_value_c",
        "first_ts",
        "last_ts",
        F.lit(final_batch).cast("long").alias("final_batch"),
    ).orderBy("event_type")


@register(
    "q125_changelog_applied_mv",
    category="aggregate",
    doc="Row-level changelog maintenance of an MV under the driver "
    "contract (pipeline/mv_refresh.py apply_changelog_mv) — the Delta-"
    "CDF-style path for sources that UPDATE and DELETE in place, where "
    "refresh_mv's file-level delta is useless (every MERGE breaks file "
    "containment and forces a full recompute): build the per-bucket MV "
    "over the shared CDC snapshot A (q97's 'yesterday'), derive the "
    "A->B changelog with the SAME diff q97 hashes, explode it to "
    "weighted row images (delete -1, insert +1, update both), and fold "
    "it in — O(changelog + |MV|), history never re-scanned. The oracle "
    "recomputes the buckets directly over snapshot B, so the green "
    "hash proves changelog-fold == recompute including deletes and "
    "updates; the refresh mode rides from the MV's committed meta. "
    "Invertible measures only (count refcount retires emptied groups; "
    "min/max refuse loudly with refresh_mv's full recompute as the "
    "documented path) — refusals and group-retirement are pytest-"
    "pinned in tests/test_mv_refresh.py. At 100 TB this is the MV "
    "answer for MERGE-heavy tables: the day's changelog is KB-GB while "
    "the table is the 100 TB.",
    oracle="""
WITH b AS (
  SELECT c_custkey,
         CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10
                   ELSE c_acctbal END AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 11 <> 0
)
SELECT CAST(c_custkey % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST('changelog' AS VARCHAR) AS refresh_mode
FROM b
GROUP BY 1
ORDER BY kb
""",
)
def q125_changelog_applied_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("kb",),
        measures=(
            Measure("n", "count"),
            Measure("sum_bal_c", "sum", "CAST(ROUND(bal * 100) AS BIGINT)"),
        ),
    )
    kb = F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb")
    a = _cdc_snapshot_a(spark, sf_dir).select(
        F.col("a_key").alias("c_custkey"),
        F.col("old_bal").cast("double").alias("bal"),
    )
    mv = _scratch_table_path("cdcmv", sf_dir)
    # Initial build: snapshot A as an all-inserts changelog (weight +1).
    apply_changelog_mv(
        spark, mv, a.select(kb, "bal", F.lit(1).alias("__w")), spec
    )
    # The A->B row-level changelog (q97's shared diff), exploded to
    # weighted images: delete = old image -1, insert = new image +1,
    # update = both. One pass, no per-change branching downstream.
    log = _cdc_changelog(
        _cdc_snapshot_a(spark, sf_dir), _cdc_snapshot_b(spark, sf_dir)
    )
    weighted = log.select(
        F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb"),
        F.explode(
            F.when(
                F.col("change_type") == "insert",
                F.array(F.struct(F.col("new_bal").cast("double").alias("bal"),
                                 F.lit(1).alias("__w"))),
            )
            .when(
                F.col("change_type") == "delete",
                F.array(F.struct(F.col("old_bal").cast("double").alias("bal"),
                                 F.lit(-1).alias("__w"))),
            )
            .otherwise(
                F.array(
                    F.struct(F.col("old_bal").cast("double").alias("bal"),
                             F.lit(-1).alias("__w")),
                    F.struct(F.col("new_bal").cast("double").alias("bal"),
                             F.lit(1).alias("__w")),
                )
            )
        ).alias("img"),
    ).select("kb", F.col("img.bal").alias("bal"), F.col("img.__w").alias("__w"))
    apply_changelog_mv(spark, mv, weighted, spec)
    mode = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    return (
        manifest.read_version(spark, mv)
        .select(
            "kb", "n", "sum_bal_c", F.lit(mode).alias("refresh_mode")
        )
        .orderBy("kb")
    )


@register(
    "q126_lifecycle_grand_tour",
    category="scan-filter-project",
    doc="The whole table lifecycle COMPOSED under one driver hash — "
    "every piece is individually hashed (q120 evolution, q123 widen, "
    "q111 purge, q112 compaction, q119 retention, q122 vacuum); this "
    "row pins their INTERACTIONS, where lifecycle bugs actually live: "
    "publish v1 without event_type and with an INT user_id -> additive "
    "evolution appends v2 WITH event_type -> widen_column rewrites "
    "user_id to BIGINT as v3 (materializing the NULL backfill the "
    "evolved schema promised) -> v4 appends naturally-BIGINT rows -> "
    "purge_rows erases user 7 across ALL four versions, probing v1/v2 "
    "files at their INT footer type and v3/v4 at BIGINT in one pass "
    "(the per-file type resolution, exercised in composition) -> "
    "compact rewrites to v5 -> v6 appends post-purge arrivals "
    "(including user 7's new rows — purge erases as of its snapshot, "
    "not forever) -> expire_versions reclaims v1-v4 exactly (refcount, "
    "never a directory diff) -> a backdated crashed-publisher orphan "
    "is vacuumed while the live table is untouched. The oracle "
    "restates the CURRENT and the retained time-traveled v5 aggregates "
    "from source predicates (evolution bucket via the cutoff CASE, "
    "erasure via the user filter) plus bounds-audit literals "
    "(post-widen type, exactly four versions expired, purge hit, "
    "orphan reclaimed) — one hash over the composed end state. At "
    "100 TB this is the claim that matters: the maintenance ops are "
    "not just individually correct but CLOSED under each other.",
    oracle="""
WITH cur AS (
  SELECT * FROM events
  WHERE NOT (user_id = 7 AND CAST(ts AS TIMESTAMP)
             < TIMESTAMP '2024-01-25 00:00:00')
),
v5 AS (
  SELECT * FROM cur
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-25 00:00:00'
)
SELECT dim, bucket, n, total_value, cur_type, n_expired, purge_hit,
       orphan_reclaimed FROM (
  SELECT 'current' AS dim,
         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
              THEN '(pre-evolution)' ELSE event_type END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         CAST('bigint' AS VARCHAR) AS cur_type,
         CAST(4 AS BIGINT) AS n_expired,
         TRUE AS purge_hit,
         TRUE AS orphan_reclaimed
  FROM cur GROUP BY 2
  UNION ALL
  SELECT 'v5_time_travel',
         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
              THEN '(pre-evolution)' ELSE event_type END,
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
         CAST('bigint' AS VARCHAR), CAST(4 AS BIGINT), TRUE, TRUE
  FROM v5 GROUP BY 2
)
ORDER BY dim, bucket
""",
)
def q126_lifecycle_grand_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _scratch_table_path("lifecycle_events", sf_dir)
    c1, c2, c3 = "2024-01-10", "2024-01-18", "2024-01-25"
    uid_int = F.col("user_id").cast("int").alias("user_id")
    manifest.publish_version(                                           # v1
        ev.filter(F.col("ts") < c1).select("event_id", "ts", uid_int, "value"),
        path, stats_cols=("user_id",),
    )
    manifest.append_version(                                            # v2
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)).select(
            "event_id", "ts", uid_int, "value", "event_type"
        ),
        path,
    )
    manifest.widen_column(spark, path, "user_id", "bigint")            # v3
    manifest.append_version(                                            # v4
        ev.filter((F.col("ts") >= c2) & (F.col("ts") < c3)).select(
            "event_id", "ts", "user_id", "value", "event_type"
        ),
        path,
    )
    purge = manifest.purge_rows(spark, path, "user_id", [7])
    manifest.compact(spark, path, target_files=2)                       # v5
    manifest.append_version(                                            # v6
        ev.filter(F.col("ts") >= c3).select(
            "event_id", "ts", "user_id", "value", "event_type"
        ),
        path,
    )
    gc = manifest.expire_versions(spark, path, keep_last=2)
    # A crashed publisher's staged batch, old enough to pass the fence.
    orphan_dir = f"{path}/data/v00000099-crashedpub"
    ev.limit(100).coalesce(1).write.parquet(orphan_dir)
    old = _time.time() - 7200
    for root, _dirs, files in os.walk(orphan_dir):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
    vac = manifest.vacuum_orphans(spark, path, min_age_seconds=3600.0)
    cur = manifest.read_version(spark, path)
    cur_type = cur.schema["user_id"].dataType.simpleString()

    def agg(df: DataFrame, dim: str) -> DataFrame:
        return (
            df.groupBy(
                F.coalesce(F.col("event_type"), F.lit("(pre-evolution)"))
                .alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("value").alias("total_value"),
            )
            .select(
                F.lit(dim).alias("dim"), "bucket", "n", "total_value",
                F.lit(cur_type).alias("cur_type"),
                F.lit(gc["versions_expired"]).cast("long").alias("n_expired"),
                F.lit(purge["rows_removed"] > 0).alias("purge_hit"),
                F.lit(vac["files_deleted"] > 0).alias("orphan_reclaimed"),
            )
        )

    return (
        agg(cur, "current")
        .unionByName(agg(manifest.read_version(spark, path, 5), "v5_time_travel"))
        .orderBy("dim", "bucket")
    )


@register(
    "q127_mv_safe_compaction",
    category="aggregate",
    doc="Commit-kind tags making compaction MV-SAFE under the driver "
    "contract — the round-11 answer to the one remaining O(source) "
    "cost a routine maintenance op could inflict: every manifest "
    "commit now records an operation kind (pipeline/manifest.py "
    "_commit, Iceberg's snapshot `operation` — append / replace / "
    "overwrite), and refresh_mv walks the commit chain since the "
    "applied version, aggregating only the `append` deltas and "
    "SKIPPING `replace` commits entirely (compact and widen_column "
    "preserve every row value-for-value, so their rows are already "
    "absorbed). The builder runs publish -> refresh (full, first "
    "build) -> append -> refresh -> compact -> append -> refresh: "
    "both post-build refreshes must take the INCREMENTAL branch — "
    "before the tags, the post-compact refresh full-recomputed (the "
    "old behavior q116 used to pin; at 100 TB a nightly compact "
    "forced an O(table) MV rebuild, hours of waste). Branch modes "
    "ride from the MVs' committed meta and the compact's recorded "
    "kind from version_op, all against oracle literals; the oracle "
    "recomputes the aggregate over ALL events directly, so a chain "
    "walk that skipped too much (losing the post-compact append) or "
    "too little (double-absorbing the compacted files) "
    "hash-mismatches. Delta segments are read with their own "
    "version's schema and conformed to the head's "
    "(tests/test_mv_refresh.py pins widen + evolution in the chain).",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
       CAST('incremental' AS VARCHAR) AS refresh2_mode,
       CAST('incremental' AS VARCHAR) AS refresh3_mode,
       CAST('replace' AS VARCHAR) AS compact_op
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q127_mv_safe_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        refresh_event_summary,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    src = _scratch_table_path("mvsafe_events", sf_dir)
    mv = _scratch_table_path("mvsafe_summary", sf_dir)
    c1, c2 = "2024-01-15", "2024-01-25"
    manifest.publish_version(ev.filter(F.col("ts") < c1), src)
    refresh_event_summary(spark, src, mv)  # full (first build)
    manifest.append_version(
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)), src
    )
    refresh_event_summary(spark, src, mv)  # incremental (append)
    mode2 = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    manifest.compact(spark, src, target_files=2)  # tagged replace
    compact_op = manifest.version_op(spark, src)
    manifest.append_version(ev.filter(F.col("ts") >= c2), src)
    refresh_event_summary(spark, src, mv)  # incremental ACROSS the compact
    mode3 = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    out = manifest.read_version(spark, mv)
    return out.select(
        "event_type",
        "n_events",
        "sum_value_c",
        F.lit(mode2).alias("refresh2_mode"),
        F.lit(mode3).alias("refresh3_mode"),
        F.lit(compact_op).alias("compact_op"),
    ).orderBy("event_type")


@register(
    "q128_changelog_minmax_targeted",
    category="aggregate",
    doc="Targeted per-group recompute for min/max under changelog MV "
    "maintenance (pipeline/mv_refresh.py apply_changelog_mv with "
    "source=) — the round-11 narrowing of the _invertible refusal: "
    "count/sum fold purely from the weighted changelog, inserts can "
    "only IMPROVE an extremum (folded exactly via spec.merge), and "
    "only deletes that TIE a stored extremum dirty their group — "
    "those groups, and only those, are re-aggregated from the "
    "post-change source (semi join on group key + extremum tie; at "
    "100 TB the dirty set is the handful of groups whose champion "
    "left, never the table — the alternative was refresh_mv's "
    "O(source) full rebuild on every MERGE). The builder folds the "
    "shared CDC A->B changelog (q97's diff, q125's weighted images) "
    "into a per-bucket MV carrying count/sum AND min/max balance, "
    "with the replay guard exercised en route (the same changelog_id "
    "re-applied must no-op). The oracle recomputes all four measures "
    "directly over snapshot B, so a dirty-set that missed a tied "
    "delete (stale extremum survives) or recomputed from the wrong "
    "snapshot hash-mismatches; the dirty-group count and mode ride "
    "from committed meta as bounds-audit literals.",
    oracle="""
WITH b AS (
  SELECT c_custkey,
         CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10
                   ELSE c_acctbal END AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 11 <> 0
)
SELECT CAST(c_custkey % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST(MIN(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS min_bal_c,
       CAST(MAX(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS max_bal_c,
       TRUE AS dirty_bounded,
       CAST('changelog' AS VARCHAR) AS refresh_mode
FROM b
GROUP BY 1
ORDER BY kb
""",
)
def q128_changelog_minmax_targeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("kb",),
        measures=(
            Measure("n", "count"),
            Measure("sum_bal_c", "sum", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("min_bal_c", "min", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("max_bal_c", "max", "CAST(ROUND(bal * 100) AS BIGINT)"),
        ),
    )
    kb = F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb")
    a = _cdc_snapshot_a(spark, sf_dir).select(
        F.col("a_key").alias("c_custkey"),
        F.col("old_bal").cast("double").alias("bal"),
    )
    b = _cdc_snapshot_b(spark, sf_dir).select(
        F.col("b_key").alias("c_custkey"),
        F.col("new_bal").cast("double").alias("bal"),
    )
    mv = _scratch_table_path("cdcmm", sf_dir)
    # Initial build from snapshot A as an all-inserts changelog; the
    # first apply has no stored extrema to dirty (source = A).
    apply_changelog_mv(
        spark,
        mv,
        a.select(kb, "bal", F.lit(1).alias("__w")),
        spec,
        source=a.select(kb, "bal"),
        changelog_id=1,
    )
    # The A->B weighted changelog (q125's exploded images). B deletes
    # every %11 key — some of those are group extrema, which is the
    # whole point: the fold must recompute exactly those groups from B.
    log = _cdc_changelog(
        _cdc_snapshot_a(spark, sf_dir), _cdc_snapshot_b(spark, sf_dir)
    )
    weighted = log.select(
        F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb"),
        F.explode(
            F.when(
                F.col("change_type") == "insert",
                F.array(F.struct(F.col("new_bal").cast("double").alias("bal"),
                                 F.lit(1).alias("__w"))),
            )
            .when(
                F.col("change_type") == "delete",
                F.array(F.struct(F.col("old_bal").cast("double").alias("bal"),
                                 F.lit(-1).alias("__w"))),
            )
            .otherwise(
                F.array(
                    F.struct(F.col("old_bal").cast("double").alias("bal"),
                             F.lit(-1).alias("__w")),
                    F.struct(F.col("new_bal").cast("double").alias("bal"),
                             F.lit(1).alias("__w")),
                )
            )
        ).alias("img"),
    ).select("kb", F.col("img.bal").alias("bal"), F.col("img.__w").alias("__w"))
    post = b.select(kb, "bal")
    apply_changelog_mv(spark, mv, weighted, spec, source=post, changelog_id=2)
    v_after = manifest.versions(spark, mv)[-1]
    # Replay guard: the same changelog id again must commit NOTHING.
    apply_changelog_mv(spark, mv, weighted, spec, source=post, changelog_id=2)
    replay_noop = manifest.versions(spark, mv)[-1] == v_after
    meta = manifest.version_meta(spark, mv)
    mode = meta.get(_META_MODE, "?")
    n_dirty = int(meta.get("n_dirty_groups", -1))
    return (
        manifest.read_version(spark, mv)
        .select(
            "kb", "n", "sum_bal_c", "min_bal_c", "max_bal_c",
            # Dirty set bounded by the group count (8 buckets) and the
            # replay no-op held — both must be true for a green hash.
            F.lit(bool(0 <= n_dirty <= 8) and replay_noop).alias(
                "dirty_bounded"
            ),
            F.lit(mode).alias("refresh_mode"),
        )
        .orderBy("kb")
    )


@register(
    "q129_read_appended_through_compact",
    category="scan-filter-project",
    doc="Incremental reads that look THROUGH row-preserving rewrites — "
    "read_appended (pipeline/manifest.py), q107's incremental read "
    "over a chain that holds a rewrite, walked by the same "
    "manifest.chain_links as q127's MV engine (Iceberg's incremental "
    "scan, which skips `replace` snapshots): publish a base of orders, "
    "append a slice, COMPACT (renames every file — an endpoint file "
    "diff would return the WHOLE table as 'new'), append another "
    "slice, then read the rows appended since the base version. The "
    "chain walk collects only the two append commits' files, skipping "
    "the compact; the oracle states exactly the two appended slices "
    "by predicate plus bounds-audit literals (the compact's recorded "
    "kind; the overwrite refusal fired — after a full re-publish the "
    "chain is NOT append-exact and read_appended must raise rather "
    "than serve the table as a delta). At 100 TB this is the consumer "
    "API that keeps downstream jobs O(delta) across nightly "
    "compactions: two KB manifests per chain link decide everything "
    "driver-side, no data is touched outside the appended files.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_appended,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
       CAST('replace' AS VARCHAR) AS compact_op,
       TRUE AS overwrite_refused
FROM orders
WHERE o_orderkey % 4 IN (1, 2)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q129_read_appended_through_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from european_public_data_pipeline_spark.functions.exact import dsum
    from european_public_data_pipeline_spark.pipeline import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch_table_path("appended_orders", sf_dir)
    manifest.publish_version(o.filter(F.col("o_orderkey") % 4 == 0), path)  # v1
    manifest.append_version(o.filter(F.col("o_orderkey") % 4 == 1), path)   # v2
    manifest.compact(spark, path, target_files=2)                           # v3
    compact_op = manifest.version_op(spark, path)
    manifest.append_version(o.filter(F.col("o_orderkey") % 4 == 2), path)   # v4
    appended = manifest.read_appended(spark, path, 1)
    # The refusal half: after an overwrite the chain is not append-exact.
    manifest.publish_version(o, path)                                       # v5
    try:
        manifest.read_appended(spark, path, 1)
        refused = False
    except ValueError:
        refused = True
    return (
        appended.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_appended"),
            dsum("o_totalprice").alias("sum_total"),
        )
        .select(
            "o_orderpriority", "n_appended", "sum_total",
            F.lit(compact_op).alias("compact_op"),
            F.lit(refused).alias("overwrite_refused"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q130_cow_merge_manifest",
    category="join",
    doc="Copy-on-write MERGE INTO a versioned-manifest table "
    "(pipeline/cow_merge.py merge_into_manifest) — Iceberg's COW MERGE "
    "on the repo's manifest format, the keyed write next to the "
    "manifest append/compact family (q113 runs the same merge unpruned): "
    "the builder publishes customers range-clustered on the key with "
    "zone maps, then merges a batch that updates a BOUNDED key range "
    "(the bottom quarter's %7 keys get a balance bump) plus inserts "
    "far above the table's max key. Only files whose zone interval "
    "contains an update key are rewritten — the sorted-key bisect "
    "probe, not a [lo,hi] envelope, which the high inserts would "
    "stretch over every file — everything else is carried by "
    "reference, and the pre-merge version stays time-travelable. A "
    "WHEN-MATCHED-DELETE clause (the bottom quarter's %11-not-%7 keys) "
    "removes target rows in the same single pass. The oracle restates "
    "the merged end state row-for-row (FULL OUTER COALESCE of base, "
    "bounded updates, and offset inserts, minus the deleted keys) plus "
    "bounds-audit literals: some files pruned without being read, "
    "carried outnumbering rewritten, matches and deletes found, v1 "
    "intact, and the commit tagged overwrite (file-level MV consumers "
    "must NOT treat a merge as an append — q131 is their row-level "
    "path). At 100 TB this is the upsert shape: O(touched files + "
    "batch), never O(table).",
    oracle="""
WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
k4 AS (SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS kmax FROM customer),
base AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal FROM customer
),
upd AS (
  SELECT c_custkey AS k, CAST(c_acctbal + 10 AS DOUBLE) AS bal
  FROM customer, k4 WHERE c_custkey % 7 = 0 AND c_custkey <= k4.kmax
),
ins AS (
  SELECT c_custkey + 2 * mx.mk AS k, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer, mx WHERE c_custkey % 13 = 0
),
batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT k, bal,
       TRUE AS pruned_some,
       TRUE AS carried_gt_rewritten,
       TRUE AS matched_some,
       TRUE AS deleted_some,
       TRUE AS v1_intact,
       CAST('overwrite' AS VARCHAR) AS merge_op
FROM (
  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.bal, t.bal) AS bal
  FROM base t FULL OUTER JOIN batch b ON t.k = b.k
), k4
WHERE NOT (k % 11 = 0 AND k % 7 <> 0 AND k <= k4.kmax)
ORDER BY k
""",
)
def q130_cow_merge_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("cow_customer", sf_dir)
    manifest.publish_version(
        c.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )
    n_base = manifest.read_version(spark, path).count()
    mx = c.agg(F.max("k")).collect()[0][0]
    kmax = mx // 4
    updates = (
        c.filter((F.col("k") % 7 == 0) & (F.col("k") <= kmax))
        .withColumn("bal", F.col("bal") + 10)
        .unionByName(
            c.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 2 * mx).alias("k"), "bal"
            )
        )
    )
    deletes = c.filter(
        (F.col("k") % 11 == 0) & (F.col("k") % 7 != 0) & (F.col("k") <= kmax)
    ).select("k")
    out = merge_into_manifest(
        spark, path, updates, keys=["k"], deletes=deletes
    )
    v1_intact = manifest.read_version(spark, path, 1).count() == n_base
    return manifest.read_version(spark, path).select(
        "k",
        "bal",
        F.lit(out["files_pruned"] > 0).alias("pruned_some"),
        F.lit(out["files_carried"] > out["files_rewritten"]).alias(
            "carried_gt_rewritten"
        ),
        F.lit(out["rows_matched"] > 0).alias("matched_some"),
        F.lit(out["rows_deleted"] > 0).alias("deleted_some"),
        F.lit(v1_intact).alias("v1_intact"),
        F.lit(manifest.version_op(spark, path)).alias("merge_op"),
    ).orderBy("k")


@register(
    "q131_merge_emitted_changelog_mv",
    category="aggregate",
    doc="The writer-emitted changelog closing the Delta-CDF loop "
    "(cow_merge emit_changelog -> apply_changelog_mv): q97/q100 derive "
    "changelogs by snapshot diff AFTER the fact; here the MERGE itself "
    "hands back its row-level delta (old images -1 read lazily from "
    "the prior version's affected files, update rows +1), and the MV — "
    "count, exact centi-sum, AND min/max — folds it at O(changelog + "
    "|MV|) with the targeted extremum recompute handling the balances "
    "the merge moved off a group bound. The oracle recomputes all four "
    "measures directly over the merged end state (q130's FULL OUTER "
    "COALESCE), so a changelog missing an image, double-counting an "
    "insert, or leaving a stale extremum hash-mismatches; the refresh "
    "mode rides from committed meta. At 100 TB this is the MV answer "
    "for MERGE-heavy manifest tables: the writer already knows the "
    "delta — no O(table) snapshot diff, no full recompute.",
    oracle="""
WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
k4 AS (SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS kmax FROM customer),
base AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal FROM customer
),
upd AS (
  SELECT c_custkey AS k, CAST(c_acctbal + 10 AS DOUBLE) AS bal
  FROM customer, k4 WHERE c_custkey % 7 = 0 AND c_custkey <= k4.kmax
),
ins AS (
  SELECT c_custkey + 2 * mx.mk AS k, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer, mx WHERE c_custkey % 13 = 0
),
batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.bal, t.bal) AS bal
  FROM base t FULL OUTER JOIN batch b ON t.k = b.k
)
SELECT CAST(k % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST(MIN(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS min_bal_c,
       CAST(MAX(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS max_bal_c,
       CAST('changelog' AS VARCHAR) AS refresh_mode
FROM merged
GROUP BY 1
ORDER BY kb
""",
)
def q131_merge_emitted_changelog_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("kb",),
        measures=(
            Measure("n", "count"),
            Measure("sum_bal_c", "sum", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("min_bal_c", "min", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("max_bal_c", "max", "CAST(ROUND(bal * 100) AS BIGINT)"),
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("cowcl_customer", sf_dir)
    mv = _scratch_table_path("cowcl_mv", sf_dir)
    manifest.publish_version(
        c.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )

    def grouped(df: DataFrame, *extra: str) -> DataFrame:
        return df.select(
            F.pmod(F.col("k"), F.lit(8)).alias("kb"), "bal", *extra
        )

    base = grouped(manifest.read_version(spark, path))
    apply_changelog_mv(
        spark, mv, base.withColumn("__w", F.lit(1)), spec,
        source=base, changelog_id=1,
    )
    mx = c.agg(F.max("k")).collect()[0][0]
    kmax = mx // 4
    updates = (
        c.filter((F.col("k") % 7 == 0) & (F.col("k") <= kmax))
        .withColumn("bal", F.col("bal") + 10)
        .unionByName(
            c.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 2 * mx).alias("k"), "bal"
            )
        )
    )
    out = merge_into_manifest(
        spark, path, updates, keys=["k"], emit_changelog=True
    )
    merged_src = grouped(manifest.read_version(spark, path))
    apply_changelog_mv(
        spark,
        mv,
        grouped(out["changelog"], "__w"),
        spec,
        source=merged_src,
        changelog_id=2,
    )
    mode = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    return (
        manifest.read_version(spark, mv)
        .select(
            "kb", "n", "sum_bal_c", "min_bal_c", "max_bal_c",
            F.lit(mode).alias("refresh_mode"),
        )
        .orderBy("kb")
    )


@register(
    "q132_persisted_changelog_refresh",
    category="aggregate",
    doc="Persisted merge changelogs close refresh_mv's last O(source) "
    "gap (Delta CDF materialized by the writer: cow_merge "
    "persist_changelog=True writes the weighted images under "
    "{table}/changelog/ and the manifest records them atomically; "
    "manifest.chain_links + mv_refresh._chain_changelog fold "
    "them): the builder publishes two-thirds of customers as a "
    "clustered manifest table, refreshes the MV (full), APPENDS the "
    "held-out third (incremental refresh), then COW-merges a batch "
    "(bounded updates + far inserts + deletes) WITH a persisted "
    "changelog — the next refresh walks append + overwrite links and "
    "folds both at O(delta + |MV|) instead of the O(source) rebuild "
    "q116 pins for OPAQUE overwrites, handling min/max via the "
    "targeted tying-delete recompute. The mode literal rides from "
    "committed meta so a silent fallback to 'full' hash-mismatches; a "
    "second refresh with nothing new must not commit (replay_noop). "
    "At 100 TB this is the difference between a daily MERGE into a "
    "curated corpus costing O(changelog) downstream and costing a "
    "full MV rebuild. Oracle: DuckDB recomputes all four measures "
    "over the merged-minus-deleted end state.",
    oracle="""
WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
k4 AS (SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS kmax FROM customer),
base AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal FROM customer
),
upd AS (
  SELECT c_custkey AS k, CAST(c_acctbal + 10 AS DOUBLE) AS bal
  FROM customer, k4 WHERE c_custkey % 7 = 0 AND c_custkey <= k4.kmax
),
ins AS (
  SELECT c_custkey + 2 * mx.mk AS k, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer, mx WHERE c_custkey % 13 = 0
),
batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.bal, t.bal) AS bal
  FROM base t FULL OUTER JOIN batch b ON t.k = b.k
),
final AS (
  SELECT k, bal FROM merged, k4
  WHERE NOT (k % 11 = 0 AND k % 7 <> 0 AND k <= k4.kmax)
)
SELECT CAST(k % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST(MIN(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS min_bal_c,
       CAST(MAX(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS max_bal_c,
       CAST('changelog' AS VARCHAR) AS refresh_mode,
       TRUE AS replay_noop
FROM final
GROUP BY 1
ORDER BY kb
""",
)
def q132_persisted_changelog_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("kb",),
        measures=(
            Measure("n", "count"),
            Measure("sum_bal_c", "sum", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("min_bal_c", "min", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("max_bal_c", "max", "CAST(ROUND(bal * 100) AS BIGINT)"),
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("pclref_customer", sf_dir)
    mv = _scratch_table_path("pclref_mv", sf_dir)
    manifest.publish_version(
        c.filter(F.col("k") % 3 != 0)
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )
    refresh_mv(spark, path, mv, spec)                  # v1 -> full build
    manifest.append_version(c.filter(F.col("k") % 3 == 0), path)
    refresh_mv(spark, path, mv, spec)                  # v2 -> incremental
    mx = c.agg(F.max("k")).collect()[0][0]
    kmax = mx // 4
    updates = (
        c.filter((F.col("k") % 7 == 0) & (F.col("k") <= kmax))
        .withColumn("bal", F.col("bal") + 10)
        .unionByName(
            c.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 2 * mx).alias("k"),
                F.pmod(F.col("k") + 2 * mx, F.lit(8)).alias("kb"),
                "bal",
            )
        )
    )
    deletes = c.filter(
        (F.col("k") % 11 == 0) & (F.col("k") % 7 != 0) & (F.col("k") <= kmax)
    ).select("k")
    merge_into_manifest(
        spark, path, updates, keys=["k"], deletes=deletes,
        persist_changelog=True,
    )                                                   # v3: overwrite + CDF
    refresh_mv(spark, path, mv, spec)                   # -> changelog fold
    mode = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    v_before = manifest.versions(spark, mv)[-1]
    refresh_mv(spark, path, mv, spec)                   # nothing new
    noop = manifest.versions(spark, mv)[-1] == v_before
    return (
        manifest.read_version(spark, mv)
        .select(
            "kb", "n", "sum_bal_c", "min_bal_c", "max_bal_c",
            F.lit(mode).alias("refresh_mode"),
            F.lit(noop).alias("replay_noop"),
        )
        .orderBy("kb")
    )


@register(
    "q133_mor_delete_scan",
    category="scan",
    doc="Merge-on-read equality deletes (pipeline/mor_delete.py "
    "delete_rows_mor — Iceberg v2 equality-delete files / Delta "
    "deletion vectors on the repo's manifest format), the "
    "complementary write shape to q130's COW merge: two delete commits "
    "write KB-scale key sidecars and NO data files (the builder pins "
    "metadata_only by comparing the file lists before/after — "
    "byte-identical data tree), every read applies them as broadcast "
    "anti joins, an APPEND then re-inserts half the first batch's keys "
    "(the file_added sequence rule keeps them alive — a sidecar only "
    "applies to files added before it), and a clustered compact FOLDS "
    "the sidecars into clean files (delete state cleared, deleted rows "
    "stay dead). Time travel to the pre-delete version still shows "
    "every row (v1_intact). At 100 TB this is the trickle-delete "
    "answer: 100 rows spread over 100 files cost one KB sidecar "
    "commit, not 100 file rewrites — COW stays the right shape for "
    "bounded clustered batches, MOR for scattered small ones. Oracle: "
    "DuckDB restates the end state (survivors UNION re-inserts).",
    oracle="""
WITH final AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer
  WHERE c_custkey % 17 <> 0 AND c_custkey % 23 <> 0
  UNION ALL
  SELECT c_custkey AS k, CAST(c_acctbal + 1000 AS DOUBLE) AS bal
  FROM customer
  WHERE c_custkey % 17 = 0 AND c_custkey % 2 = 0
)
SELECT CAST(k % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST('delete' AS VARCHAR) AS delete_op,
       TRUE AS v1_intact,
       TRUE AS metadata_only,
       TRUE AS deleted_some
FROM final
GROUP BY 1
ORDER BY kb
""",
)
def q133_mor_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_rows_mor,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("mor_customer", sf_dir)
    manifest.publish_version(
        c.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )                                                           # v1
    n_base = manifest.read_version(spark, path).count()
    m1_files = set(manifest._read_manifest(spark, path, 1)["files"])
    d1 = delete_rows_mor(
        spark, path, c.filter(F.col("k") % 17 == 0).select("k"), ["k"]
    )                                                           # v2
    delete_op = manifest.version_op(spark, path)
    d2 = delete_rows_mor(
        spark, path, c.filter(F.col("k") % 23 == 0).select("k"), ["k"]
    )                                                           # v3
    m3 = manifest._read_manifest(spark, path, d2["version"])
    metadata_only = set(m3["files"]) == m1_files  # zero data files written
    manifest.append_version(
        c.filter((F.col("k") % 17 == 0) & (F.col("k") % 2 == 0)).withColumn(
            "bal", F.col("bal") + 1000
        ),
        path,
    )                                                           # v4: re-insert
    v1_intact = manifest.read_version(spark, path, 1).count() == n_base
    manifest.compact(spark, path, target_files=4, cluster_by="k")  # v5: fold
    return (
        manifest.read_version(spark, path)
        .groupBy(F.pmod(F.col("k"), F.lit(8)).alias("kb"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("bal") * 100).cast("bigint")
            ).alias("sum_bal_c"),
        )
        .select(
            "kb", "n", "sum_bal_c",
            F.lit(delete_op).alias("delete_op"),
            F.lit(v1_intact).alias("v1_intact"),
            F.lit(metadata_only).alias("metadata_only"),
            F.lit(d1["rows_deleted"] > 0 and d2["rows_deleted"] > 0).alias(
                "deleted_some"
            ),
        )
        .orderBy("kb")
    )


@register(
    "q134_mor_position_delete",
    category="scan",
    doc="Position-delete sidecars (pipeline/mor_delete.py "
    "delete_where_mor — Iceberg v2's SECOND delete flavor, position-"
    "delete files): a PREDICATE delete on a table WITHOUT unique keys "
    "(the builder publishes customers with duplicated rows) commits a "
    "sidecar of exact (file, row_index) pairs — something q133's "
    "equality deletes cannot express, since no key tuple names one of "
    "two identical rows — killing every matching physical row, "
    "duplicates included, with NO data file written. The physical "
    "identity is captured AT SCAN via _metadata.file_path/row_index "
    "with the path normalized by the same expression the reader uses. "
    "A later append re-inserts predicate-matching rows (alive — "
    "positions never apply to files added after the sidecar), an "
    "equality delete then coexists with the position sidecar (both "
    "flavors applied as broadcast anti joins, applicability decided "
    "per file by file_added), and a clustered compact folds BOTH and "
    "clears the state. Time travel to the pre-delete version shows "
    "all 20% duplicate rows (v1_intact); the position delete's count "
    "equals the duplicate-inclusive predicate count "
    "(dups_died_together). Oracle: DuckDB restates the end state.",
    oracle="""
WITH base AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal FROM customer
  UNION ALL
  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) FROM customer
  WHERE c_custkey % 5 = 0
),
final AS (
  SELECT k, bal FROM base WHERE NOT (bal < 0) AND k % 33 <> 0
  UNION ALL
  SELECT c_custkey AS k, CAST(-50 AS DOUBLE) AS bal FROM customer
  WHERE c_custkey % 100 = 0 AND c_custkey % 33 <> 0
)
SELECT CAST(k % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST('position' AS VARCHAR) AS sidecar_kind,
       TRUE AS v1_intact,
       TRUE AS dups_died_together
FROM final
GROUP BY 1
ORDER BY kb
""",
)
def q134_mor_position_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_rows_mor,
        delete_where_mor,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    base = c.unionByName(c.filter(F.col("k") % 5 == 0))  # duplicates
    path = _scratch_table_path("morpos_customer", sf_dir)
    manifest.publish_version(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )                                                           # v1
    n_base = manifest.read_version(spark, path).count()
    expected_neg = (
        manifest.read_version(spark, path, 1)
        .filter(F.col("bal") < 0)
        .count()
    )
    out1 = delete_where_mor(spark, path, "bal < 0")             # v2
    kind = manifest._read_manifest(spark, path, out1["version"])[
        "delete_files"
    ][-1].get("kind", "?")
    manifest.append_version(
        c.filter(F.col("k") % 100 == 0).withColumn(
            "bal", F.lit(-50.0)
        ),
        path,
    )                                                           # v3: re-insert
    delete_rows_mor(
        spark, path, c.filter(F.col("k") % 33 == 0).select("k"), ["k"]
    )                                                           # v4: equality
    v1_intact = manifest.read_version(spark, path, 1).count() == n_base
    manifest.compact(spark, path, target_files=4, cluster_by="k")  # v5: fold
    return (
        manifest.read_version(spark, path)
        .groupBy(F.pmod(F.col("k"), F.lit(8)).alias("kb"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("bal") * 100).cast("bigint")
            ).alias("sum_bal_c"),
        )
        .select(
            "kb", "n", "sum_bal_c",
            F.lit(kind).alias("sidecar_kind"),
            F.lit(v1_intact).alias("v1_intact"),
            F.lit(out1["rows_deleted"] == expected_neg).alias(
                "dups_died_together"
            ),
        )
        .orderBy("kb")
    )


@register(
    "q135_streaming_cdc_upsert_mv",
    category="streaming",
    doc="The end-to-end streaming CDC shape on the lakehouse substrate "
    "(streaming/sinks.py upsert_stream_manifest): a checkpointed "
    "foreachBatch stream lands each micro-batch as a copy-on-write "
    "MERGE commit into a manifest table (zone-map pruned, snapshot-"
    "isolated) that PERSISTS its row-level changelog, and the "
    "downstream MV is refreshed by the scheduled pull engine "
    "(refresh_mv) which folds BOTH merge commits' persisted changelogs "
    "in one 'changelog'-mode pass — never an O(source) rebuild. The "
    "builder seeds two-thirds of customers, full-builds the MV, "
    "streams two CDC batches (bounded balance bumps at +10 then +20, "
    "plus far-key inserts) through the sink as two micro-batches "
    "(availableNow runs over a growing feed directory), then one "
    "refresh folds merge v2 AND v3. Exactly-once: the checkpoint "
    "dedupes input files; a replayed merge batch is end-state "
    "idempotent. Count, exact centi-sum, min AND max measures — the "
    "bumps move group extrema, exercising the targeted tying-delete "
    "recompute inside the chain fold. Oracle: DuckDB recomputes the "
    "final state directly.",
    oracle="""
WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
k4 AS (SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS kmax FROM customer),
base AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 3 <> 0
),
merged AS (
  SELECT k,
         CASE
           WHEN k % 7 = 0 AND k <= (SELECT kmax FROM k4) THEN bal + 10
           WHEN k % 11 = 0 AND k % 7 <> 0 AND k <= (SELECT kmax FROM k4)
             THEN bal + 20
           ELSE bal
         END AS bal
  FROM base
  UNION ALL
  SELECT c_custkey + 2 * (SELECT mk FROM mx) AS k,
         CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT CAST(k % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST(MIN(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS min_bal_c,
       CAST(MAX(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS max_bal_c,
       CAST('changelog' AS VARCHAR) AS refresh_mode,
       CAST(2 AS BIGINT) AS merge_commits
FROM merged
GROUP BY 1
ORDER BY kb
""",
)
def q135_streaming_cdc_upsert_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        Measure,
        MVSpec,
        refresh_mv,
    )
    from european_public_data_pipeline_spark.streaming.sinks import (
        upsert_stream_manifest,
    )

    spec = MVSpec(
        group_keys=("kb",),
        measures=(
            Measure("n", "count"),
            Measure("sum_bal_c", "sum", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("min_bal_c", "min", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("max_bal_c", "max", "CAST(ROUND(bal * 100) AS BIGINT)"),
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("cdcup_customer", sf_dir)
    mv = _scratch_table_path("cdcup_mv", sf_dir)
    feed = _scratch_table_path("cdcup_feed", sf_dir)
    ckpt = _scratch_table_path("cdcup_ckpt", sf_dir)
    seeded = c.filter(F.col("k") % 3 != 0)
    manifest.publish_version(
        seeded.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )                                                           # v1
    refresh_mv(spark, path, mv, spec)                           # full build
    mx = c.agg(F.max("k")).collect()[0][0]
    kmax = mx // 4

    def stream_once():
        feed_df = spark.readStream.schema(
            "k long, kb long, bal double"
        ).parquet(feed)
        upsert_stream_manifest(feed_df, path, ckpt, keys=["k"])

    # CDC batch A: +10 bumps on in-table keys. One availableNow run =
    # one micro-batch = one merge commit (v2).
    seeded.filter((F.col("k") % 7 == 0) & (F.col("k") <= kmax)).withColumn(
        "bal", F.col("bal") + 10
    ).coalesce(1).write.parquet(feed)
    stream_once()
    # CDC batch B: +20 bumps (disjoint keys) + far-key inserts -> v3.
    seeded.filter(
        (F.col("k") % 11 == 0) & (F.col("k") % 7 != 0) & (F.col("k") <= kmax)
    ).withColumn("bal", F.col("bal") + 20).unionByName(
        c.filter(F.col("k") % 13 == 0).select(
            (F.col("k") + 2 * mx).alias("k"),
            F.pmod(F.col("k") + 2 * mx, F.lit(8)).alias("kb"),
            "bal",
        )
    ).coalesce(1).write.mode("append").parquet(feed)
    stream_once()
    n_merges = manifest.current_version(spark, path) - 1
    refresh_mv(spark, path, mv, spec)  # folds BOTH persisted changelogs
    mode = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    return (
        manifest.read_version(spark, mv)
        .select(
            "kb", "n", "sum_bal_c", "min_bal_c", "max_bal_c",
            F.lit(mode).alias("refresh_mode"),
            F.lit(n_merges).cast("long").alias("merge_commits"),
        )
        .orderBy("kb")
    )


@register(
    "q136_mor_upsert_merge",
    category="scan",
    doc="Merge-on-read UPSERT (pipeline/mor_delete.py upsert_rows_mor — "
    "the Iceberg MOR MERGE shape): each commit carries an equality-"
    "delete sidecar for its matched keys PLUS one small appended file "
    "of new images, so a scattered CDC batch against a 100 TB table "
    "writes O(batch) bytes where q130's COW merge rewrites every "
    "touched file (the write-amplification pin lives in "
    "test_mor_delete.py::test_mor_upsert_commit_writes_o_batch_bytes). "
    "The builder chains the full trickle-write lifecycle: upsert A "
    "(+100 bumps on k%19 keys + far-key inserts) -> MOR delete of "
    "k%23 keys -> upsert B that RE-INSERTS the even deleted keys at a "
    "sentinel balance and re-updates surviving k%19*3 keys to an "
    "absolute +300 image — all three commits persist Delta-CDF "
    "changelogs, and ONE refresh_mv folds them in a single "
    "'changelog'-mode pass (count/sum/min/max measures, exercising "
    "insert-image extrema and the tying-delete recompute). The builder "
    "pins the MOR shape (every v1 data file carried untouched through "
    "all three commits), v1 time-travel intactness, and MV-vs-table "
    "parity, then a clustered compact folds sidecars + images into "
    "clean files and the aggregate is read from the FOLDED table. "
    "Oracle: DuckDB recomputes the end state directly.",
    oracle="""
WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
final AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 19 = 0 AND c_custkey % 3 = 0
              THEN CAST(c_acctbal + 300 AS DOUBLE)
              WHEN c_custkey % 19 = 0
              THEN CAST(c_acctbal + 100 AS DOUBLE)
              ELSE CAST(c_acctbal AS DOUBLE) END AS bal
  FROM customer WHERE c_custkey % 23 <> 0
  UNION ALL
  SELECT c_custkey AS k, CAST(7777 AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 23 = 0 AND c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey + 2 * (SELECT mk FROM mx) AS k,
         CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 29 = 0
)
SELECT CAST(k % 8 AS BIGINT) AS kb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c,
       CAST(MIN(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS min_bal_c,
       CAST(MAX(CAST(ROUND(bal * 100) AS BIGINT)) AS BIGINT) AS max_bal_c,
       CAST('changelog' AS VARCHAR) AS refresh_mode,
       TRUE AS v1_intact,
       TRUE AS mor_shape,
       TRUE AS mv_matches
FROM final
GROUP BY 1
ORDER BY kb
""",
)
def q136_mor_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.pipeline import manifest
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_rows_mor,
        upsert_rows_mor,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        _META_MODE,
        Measure,
        MVSpec,
        refresh_mv,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.pmod(F.col("c_custkey"), F.lit(8)).alias("kb"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    path = _scratch_table_path("morup_customer", sf_dir)
    mv = _scratch_table_path("morup_mv", sf_dir)
    spec = MVSpec(
        group_keys=("kb",),
        measures=(
            Measure("n", "count"),
            Measure("sum_bal_c", "sum", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("min_bal_c", "min", "CAST(ROUND(bal * 100) AS BIGINT)"),
            Measure("max_bal_c", "max", "CAST(ROUND(bal * 100) AS BIGINT)"),
        ),
    )
    manifest.publish_version(
        c.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        stats_cols=("k",),
    )                                                           # v1
    n_base = manifest.read_version(spark, path).count()
    m1_files = set(manifest._read_manifest(spark, path, 1)["files"])
    refresh_mv(spark, path, mv, spec)                           # full build
    mx = c.agg(F.max("k")).collect()[0][0]
    # Upsert A (v2): +100 bumps on k%19 keys + far-key inserts.
    up_a = c.filter(F.col("k") % 19 == 0).withColumn(
        "bal", F.col("bal") + 100
    ).unionByName(
        c.filter(F.col("k") % 29 == 0).select(
            (F.col("k") + 2 * mx).alias("k"),
            F.pmod(F.col("k") + 2 * mx, F.lit(8)).alias("kb"),
            "bal",
        )
    )
    o_a = upsert_rows_mor(spark, path, up_a, ["k"], persist_changelog=True)
    # MOR delete (v3): k%23 keys (original key space only).
    delete_rows_mor(
        spark,
        path,
        c.filter(F.col("k") % 23 == 0).select("k"),
        ["k"],
        persist_changelog=True,
    )
    # Upsert B (v4): RE-INSERT the even deleted keys at a sentinel
    # balance; re-update surviving k%19*3 keys to an ABSOLUTE +300
    # image (deterministic regardless of A's bump).
    up_b = c.filter(
        (F.col("k") % 23 == 0) & (F.col("k") % 2 == 0)
    ).withColumn("bal", F.lit(7777.0)).unionByName(
        c.filter(
            (F.col("k") % 19 == 0)
            & (F.col("k") % 3 == 0)
            & (F.col("k") % 23 != 0)
        ).withColumn("bal", F.col("bal") + 300)
    )
    o_b = upsert_rows_mor(spark, path, up_b, ["k"], persist_changelog=True)
    m4 = manifest._read_manifest(spark, path, o_b["version"])
    mor_shape = (
        m1_files <= set(m4["files"])             # v1 files never rewritten
        and o_a["rows_updated"] > 0
        and o_b["rows_inserted"] > 0             # re-inserts were inserts
        and len(m4.get("delete_files") or []) >= 2
    )
    v1_intact = manifest.read_version(spark, path, 1).count() == n_base
    refresh_mv(spark, path, mv, spec)  # ONE pass folds all three changelogs
    mode = manifest.version_meta(spark, mv).get(_META_MODE, "?")
    manifest.compact(spark, path, target_files=8, cluster_by="k")  # v5: fold
    agg = (
        manifest.read_version(spark, path)
        .groupBy(F.pmod(F.col("k"), F.lit(8)).alias("kb"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("bal") * 100).cast("bigint")
            ).alias("sum_bal_c"),
            F.min(
                F.round(F.col("bal") * 100).cast("bigint")
            ).alias("min_bal_c"),
            F.max(
                F.round(F.col("bal") * 100).cast("bigint")
            ).alias("max_bal_c"),
        )
    )
    mv_rows = {
        r["kb"]: (r["n"], r["sum_bal_c"], r["min_bal_c"], r["max_bal_c"])
        for r in manifest.read_version(spark, mv).collect()
    }
    agg_rows = {
        r["kb"]: (r["n"], r["sum_bal_c"], r["min_bal_c"], r["max_bal_c"])
        for r in agg.collect()
    }
    mv_matches = mv_rows == agg_rows
    return (
        agg.select(
            "kb", "n", "sum_bal_c", "min_bal_c", "max_bal_c",
            F.lit(mode).alias("refresh_mode"),
            F.lit(v1_intact).alias("v1_intact"),
            F.lit(mor_shape).alias("mor_shape"),
            F.lit(mv_matches).alias("mv_matches"),
        )
        .orderBy("kb")
    )
