"""Aggregation operators (SURVEY.md SS2.5, A1-A16).

The reference's analytics core is group-by slicing over the papers
corpus: mean metric per slice, disparity = max-min across slices,
under-representation vs the median slice size, distribution counts,
column-level quality stats, and threshold/anomaly conditional
aggregates (reference: databias/slicing_bias_analysis.py:208-229,
300-319,388-401; Validation/schema_validator.py:135-350;
databias/analyze_bias.py:64-136).

Spark restatement: each slice analysis is one shuffle (partial
aggregation map-side, merged reduce-side); the disparity/median
cross-slice step runs over the already-tiny aggregate, so we keep it
as an unpartitioned window rather than a driver collect. Dimension
lookups broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import literal_frame, load_table


@query(
    "bias_slice_disparity",
    oracle="""
    WITH slices AS (
        SELECT r.r_name AS slice_name,
               ROUND(AVG(c.c_acctbal), 6) AS mean_acctbal,
               COUNT(*) AS n_customers
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE c.c_acctbal IS NOT NULL
        GROUP BY r.r_name
    )
    SELECT slice_name, mean_acctbal, n_customers,
           ROUND(MAX(mean_acctbal) OVER () - MIN(mean_acctbal) OVER (), 6)
               AS disparity
    FROM slices
    ORDER BY slice_name
    """,
)
def bias_slice_disparity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's bias-slice analysis re-expressed.

    Mean metric per slice + cross-slice disparity (max-min), the
    MetricFrame/disparity pipeline of slicing_bias_analysis.py:208-229
    and :388-401 (A1+A10+A11), with the domain dict-lookup (D5)
    generalized to broadcast dimension joins.

    Scale shape: fact scans shuffle once on the group key; region and
    nation are broadcast (5/25 rows at any SF) so the join adds no
    shuffle; the disparity window runs over ~#slices rows.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    slices = (
        customer.filter(F.col("c_acctbal").isNotNull())
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("slice_name"))
        .agg(
            F.round(F.avg("c_acctbal"), 6).alias("mean_acctbal"),
            F.count("*").alias("n_customers"),
        )
    )
    w = Window.partitionBy()  # #slices rows; single-partition window is fine
    return slices.withColumn(
        "disparity",
        F.round(F.max("mean_acctbal").over(w) - F.min("mean_acctbal").over(w), 6),
    ).orderBy("slice_name")


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate slicing (A2): the groupby(...).agg(['mean',
    'count','sum']) pattern of slicing_bias_analysis.py:234 and
    visualization_generator.py:157,211, in TPC-H Q1 shape.

    The shipdate predicate pushes down to the parquet scan; the
    aggregate is one shuffle with map-side partial aggregation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # money sums reach 1e9+ at bench scale: 6-dp rounding
            # would demand 16 significant digits — past double's
            # guarantee, so engines flip the last ulp on summation
            # order. 2 dp (cent precision) is the honest contract.
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "value_counts",
    oracle="""
    SELECT o_orderpriority AS value, COUNT(*) AS count
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY count DESC, value
    """,
)
def value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution count (A4): pandas ``value_counts()`` over
    year/domain/quality (schema_validator.py:200-235,
    visualization_generator.py:66-200) = groupBy().count() with a
    deterministic (count desc, value) order."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("value"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "value")
    )


@query(
    "group_size_median",
    oracle="""
    WITH sizes AS (
        SELECT c_mktsegment AS grp, COUNT(*) AS n
        FROM customer
        GROUP BY c_mktsegment
    )
    SELECT grp, n,
           ROUND(MEDIAN(n) OVER (), 6) AS median_n,
           CASE WHEN n < 0.8 * MEDIAN(n) OVER () THEN TRUE ELSE FALSE END
               AS under_represented
    FROM sizes
    ORDER BY grp
    """,
)
def group_size_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Under-representation analysis (A3): group sizes vs the median
    slice size flag which groups need mitigation re-collection
    (slicing_bias_analysis.py:300-319). Median over the tiny aggregate
    runs as an unpartitioned window, not a driver collect."""
    customer = load_table(spark, sf_dir, "customer")
    sizes = customer.groupBy(F.col("c_mktsegment").alias("grp")).agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy()
    return (
        sizes.withColumn("median_n", F.round(F.expr("median(n)").over(w), 6))
        .withColumn("under_represented", F.col("n") < 0.8 * F.col("median_n"))
        .orderBy("grp")
    )


@query(
    "column_stats",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(o_totalprice) AS n_present,
           COUNT(*) - COUNT(o_totalprice) AS n_missing,
           ROUND(AVG(o_totalprice), 6) AS mean,
           ROUND(MIN(o_totalprice), 6) AS min,
           ROUND(MAX(o_totalprice), 6) AS max,
           ROUND(STDDEV_SAMP(o_totalprice), 6) AS stddev
    FROM orders
    """,
)
def column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level quality stats (A6): per-column mean/min/max/missing
    of the observed-schema snapshot (schema_validator.py:304-331). One
    pass, all aggregates fused in a single stage."""
    orders = load_table(spark, sf_dir, "orders")
    c = F.col("o_totalprice")
    return orders.agg(
        F.lit("o_totalprice").alias("column_name"),
        F.count("*").alias("n_rows"),
        F.count(c).alias("n_present"),
        (F.count("*") - F.count(c)).alias("n_missing"),
        F.round(F.avg(c), 6).alias("mean"),
        F.round(F.min(c), 6).alias("min"),
        F.round(F.max(c), 6).alias("max"),
        F.round(F.stddev_samp(c), 6).alias("stddev"),
    )


@query(
    "top_decile_mean",
    oracle="""
    SELECT ROUND(AVG(o_totalprice), 6) AS top_decile_mean,
           COUNT(*) AS n_top
    FROM orders
    WHERE o_totalprice >= (
        SELECT QUANTILE_CONT(o_totalprice, 0.9) FROM orders
    )
    """,
)
def top_decile_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Citation-skew stat (A7): mean of the top decile
    (analyze_bias.py:94-100 ``nlargest(0.1*n).mean()``), restated as
    exact-percentile cutoff + filtered aggregate. The scalar cutoff is
    a 1-row broadcast cross join, not a collect; at extreme scale the
    exact percentile can be swapped for approx_percentile."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = orders.agg(
        F.expr("percentile(o_totalprice, 0.9)").alias("_cutoff")
    )
    return (
        orders.join(F.broadcast(cutoff))
        .filter(F.col("o_totalprice") >= F.col("_cutoff"))
        .agg(
            F.round(F.avg("o_totalprice"), 6).alias("top_decile_mean"),
            F.count("*").alias("n_top"),
        )
    )


@query(
    "pivot_mean",
    oracle="""
    SELECT o_orderpriority,
           ROUND(AVG(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 6) AS F,
           ROUND(AVG(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 6) AS O,
           ROUND(AVG(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 6) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def pivot_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot table (A9): subdomain x domain mean-citations matrix
    (visualization_generator.py:393-404). Pivot values are declared
    explicitly so Spark skips the extra distinct-values job."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.avg("o_totalprice"), 6))
        # 5-row pivot: a global orderBy would add a range-sample job
        # + exchange just to sort it — fold to one partition and sort
        # there (r10 verdict #2: job-count floor dominates this query)
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )
    return piv


@query(
    "conditional_agg_anomaly",
    oracle="""
    WITH rates AS (
        SELECT
            ROUND(AVG(CASE WHEN l_discount = 0 THEN 1.0 ELSE 0.0 END), 6)
                AS zero_discount_rate,
            ROUND(AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 6)
                AS return_rate,
            COUNT(*) AS n_rows
        FROM lineitem
    )
    SELECT zero_discount_rate, return_rate, n_rows,
           CASE WHEN return_rate > 0.8 THEN 'critical'
                WHEN return_rate > 0.6 THEN 'warning'
                ELSE 'ok' END AS severity
    FROM rates
    """,
)
def conditional_agg_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold anomaly checks (A13/P3): share-above-threshold rates
    with severity classification (schema_validator.py:135-237 --
    extraction-failure%, zero-citation%, top-domain concentration).
    Conditional aggregates avg(when(...)) fuse into one scan."""
    li = load_table(spark, sf_dir, "lineitem")
    rates = li.agg(
        F.round(
            F.avg(F.when(F.col("l_discount") == 0, 1.0).otherwise(0.0)), 6
        ).alias("zero_discount_rate"),
        F.round(
            F.avg(F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)), 6
        ).alias("return_rate"),
        F.count("*").alias("n_rows"),
    )
    return rates.withColumn(
        "severity",
        F.when(F.col("return_rate") > 0.8, "critical")
        .when(F.col("return_rate") > 0.6, "warning")
        .otherwise("ok"),
    )


@query(
    "group_describe",
    oracle="""
    SELECT c_mktsegment,
           COUNT(c_acctbal) AS count,
           ROUND(AVG(c_acctbal), 6) AS mean,
           ROUND(STDDEV_SAMP(c_acctbal), 6) AS std,
           ROUND(MIN(c_acctbal), 6) AS min,
           ROUND(QUANTILE_CONT(c_acctbal, 0.25), 6) AS p25,
           ROUND(QUANTILE_CONT(c_acctbal, 0.50), 6) AS p50,
           ROUND(QUANTILE_CONT(c_acctbal, 0.75), 6) AS p75,
           ROUND(MAX(c_acctbal), 6) AS max
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def group_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped describe (A8): ``groupby(...)['x'].describe()`` of
    analyze_bias.py:126 -- count/mean/std/min/quartiles/max per group.
    Exact percentiles here (small group count); approx_percentile is
    the drop-in at extreme cardinality."""
    customer = load_table(spark, sf_dir, "customer")
    c = F.col("c_acctbal")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(c).alias("count"),
            F.round(F.avg(c), 6).alias("mean"),
            F.round(F.stddev_samp(c), 6).alias("std"),
            F.round(F.min(c), 6).alias("min"),
            F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(c_acctbal, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("p75"),
            F.round(F.max(c), 6).alias("max"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "rollup_slices",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           COALESCE(n.n_name, 'ALL') AS nation_name,
           ROUND(SUM(c.c_acctbal), 6) AS total_acctbal,
           COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY region_name, nation_name
    """,
)
def rollup_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical slice rollup -- the multi-level slice summary the
    reference computes with separate groupbys per level
    (slicing_bias_analysis.py:208-213 does domain, subdomain, year
    independently), fused into one ROLLUP pass (SURVEY.md SS2.5 notes
    this as a free Spark win). One shuffle instead of one per level."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 6).alias("total_acctbal"),
            F.count("*").alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "total_acctbal",
            "n_customers",
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "cube_slices",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(CAST(year_ AS VARCHAR), 'ALL') AS year,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM (
        SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate) AS year_,
               o_totalprice
        FROM orders
    )
    GROUP BY CUBE (o_orderpriority, year_)
    ORDER BY priority, year
    """,
)
def cube_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, year) — the multi-dimensional slicing the
    reference computes as separate groupbys per dimension
    (slicing_bias_analysis.py:208-213 runs one groupby per slice
    column). One cube = all 4 grouping sets in a single pass with
    partial aggregation; a 'free Spark win' SURVEY.md §2.5 calls out.
    Grouping nulls are labeled 'ALL' (no real nulls in these dims)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority",
            F.year("o_orderdate").alias("year_"),
            "o_totalprice",
        )
        .cube("o_orderpriority", "year_")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("year_").cast("string"), F.lit("ALL")).alias(
                "year"
            ),
            "n_orders",
            "total_price",
        )
        .orderBy("priority", "year")
    )


@query("approx_distinct_stats")  # rows-only: HLL sketch is engine-specific
def approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count —
    the cardinality-estimation 'free win' (SURVEY.md §2.5). At 100 TB
    the exact distinct of a high-cardinality key is a full shuffle of
    every distinct value; the sketch is a fixed few KB per partition
    merged on the driver, no shuffle of values at all. The relative
    error column is the accuracy contract (rsd default 5%)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.3): TWO exact distincts in one agg plan an
    # Expand that doubles the input stream (every row evaluated once
    # per distinct group) before the dedup exchange. Split the exact
    # sides into one agg per distinct column — each is a plain
    # partial-dedup two-phase agg over one narrow column. The 1-row
    # order count folds in as a scalar subquery, evaluated once and
    # read as a value (no join, so no nested loop); the rel_err
    # arithmetic stays on the folded columns (same 4-dp round).
    parts = li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )
    orders_cnt = li.agg(F.countDistinct("l_orderkey"))
    return parts.select(
        "exact_parts",
        "approx_parts",
        orders_cnt.scalar().alias("exact_orders"),
        "approx_orders",
        F.round(
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts"),
            4,
        ).alias("rel_err_parts"),
    )


@query(
    "schema_snapshot",
    oracle="""
    SELECT 'o_orderkey' AS column_name, 'bigint' AS dtype,
           COUNT(*) - COUNT(o_orderkey) AS missing_count,
           ROUND(AVG(o_orderkey), 4) AS mean_value,
           ROUND(MIN(o_orderkey), 4) AS min_value,
           ROUND(MAX(o_orderkey), 4) AS max_value,
           COUNT(DISTINCT o_orderkey) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', 'bigint',
           COUNT(*) - COUNT(o_custkey),
           ROUND(AVG(o_custkey), 4), ROUND(MIN(o_custkey), 4),
           ROUND(MAX(o_custkey), 4), COUNT(DISTINCT o_custkey)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', 'double',
           COUNT(*) - COUNT(o_totalprice),
           ROUND(AVG(o_totalprice), 4), ROUND(MIN(o_totalprice), 4),
           ROUND(MAX(o_totalprice), 4), COUNT(DISTINCT o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', 'string',
           COUNT(*) - COUNT(o_orderpriority),
           NULL, NULL, NULL, COUNT(DISTINCT o_orderpriority)
    FROM orders
    ORDER BY column_name
    """,
)
def schema_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed-schema snapshot (A6/A14 full form): per-column dtype,
    missing count, numeric stats and distinct cardinality — the
    reference's ``SchemaValidator.generate_and_validate`` per-run
    artifact (schema_validator.py:289-331) as ONE aggregation pass.
    All per-column stats are computed in a single agg (one scan, one
    reduce) and reshaped to rows driver-side from the 1-row result —
    the wide->long pivot touches a handful of values, not data."""
    orders = load_table(spark, sf_dir, "orders")
    numeric = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_totalprice", "double"),
    ]
    aggs = []
    for c, _ in numeric:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__missing"),
            F.round(F.avg(c), 4).alias(f"{c}__mean"),
            F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"),
            F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"),
        ]
    aggs += [
        (F.count("*") - F.count("o_orderpriority")).alias("op__missing"),
    ]
    # Distinct counts as a UNION of per-column two-level aggregations
    # (groupBy col -> count groups) instead of countDistinct inside
    # the stats agg: N countDistincts force one Expand-multiplied
    # mega-aggregate whose generated code is ~2x slower to compile
    # AND execute than N small pre-aggregated plans (measured 3.4 s
    # -> 2.0 s cold at sf0.1); at 100 TB the two-level form also
    # partial-aggregates each column before its shuffle instead of
    # shuffling the Expand product.
    dparts = None
    for c in [n for n, _ in numeric] + ["o_orderpriority"]:
        p = (
            orders.select(c)
            .groupBy(c)
            .agg(F.lit(1).alias("_one"))
            .agg(F.count("*").alias("n_distinct"))
            .select(F.lit(c).alias("column_name"), "n_distinct")
        )
        dparts = p if dparts is None else dparts.unionByName(p)
    row = orders.agg(*aggs).first()
    distincts = {
        r.column_name: r.n_distinct for r in dparts.collect()
    }
    out = [
        (
            c,
            t,
            row[f"{c}__missing"],
            float(row[f"{c}__mean"]),
            float(row[f"{c}__min"]),
            float(row[f"{c}__max"]),
            distincts[c],
        )
        for c, t in numeric
    ] + [
        (
            "o_orderpriority",
            "string",
            row["op__missing"],
            None,
            None,
            None,
            distincts["o_orderpriority"],
        )
    ]
    return literal_frame(
        spark,
        "column_name string, dtype string, missing_count bigint, "
        "mean_value double, min_value double, max_value double, "
        "n_distinct bigint",
        out,
    ).orderBy("column_name")


@query(
    "unpivot_metrics",
    oracle="""
    WITH per_day AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               ROUND(AVG(value), 6) AS mean_value,
               ROUND(MAX(value), 6) AS max_value,
               CAST(COUNT(*) AS DOUBLE) AS n_events
        FROM events
        GROUP BY 1
    )
    SELECT day, metric, ROUND(val, 6) AS val
    FROM per_day
    UNPIVOT (val FOR metric IN (mean_value, max_value, n_events))
    ORDER BY day, metric
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt): per-day metric columns reshaped to
    (day, metric, val) rows — the shape every metrics store and
    plotting layer wants, and the inverse of A9's pivot. Native
    ``unpivot`` (SQL ``stack``): a narrow 1->N projection, no
    shuffle beyond the pre-aggregate."""
    events = load_table(spark, sf_dir, "events")
    per_day = events.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.count("*").cast("double").alias("n_events"),
    )
    return (
        per_day.unpivot(
            ["day"],
            ["mean_value", "max_value", "n_events"],
            "metric",
            "val",
        )
        .select("day", "metric", F.round("val", 6).alias("val"))
        .orderBy("day", "metric")
    )


@query(
    "grouping_sets_slices",
    oracle="""
    SELECT c_mktsegment AS segment, o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority))
    ORDER BY segment NULLS LAST, priority NULLS LAST
    """,
)
def grouping_sets_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (SURVEY SS2.5 free-win family, completing
    cube/rollup): the bias module computes each slice dimension in a
    separate pass (slicing_bias_analysis.py:208-234 loops dimensions);
    grouping sets emits exactly the requested slices — here the two
    1-D slices without the cross products a CUBE would pay for — in
    ONE scan + one shuffle (Spark Expand, one input-row copy per
    set, vs one full pass per dimension)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    )
    joined.createOrReplaceTempView("gs_orders")
    return joined.sparkSession.sql(
        """
        SELECT c_mktsegment AS segment, o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS total_price
        FROM gs_orders
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority))
        ORDER BY segment NULLS LAST, priority NULLS LAST
        """
    )


FRESH_STALE_DAYS = 30  # staleness alert threshold


@query(
    "freshness_audit",
    oracle=f"""
    WITH marks AS (
        SELECT 'orders' AS tbl,
               CAST(MIN(o_orderdate) AS DATE) AS first_seen,
               CAST(MAX(o_orderdate) AS DATE) AS last_seen,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'lineitem', CAST(MIN(l_shipdate) AS DATE),
               CAST(MAX(l_shipdate) AS DATE), COUNT(*)
        FROM lineitem
        UNION ALL
        SELECT 'events', CAST(MIN(ts) AS DATE),
               CAST(MAX(ts) AS DATE), COUNT(*)
        FROM events
    ),
    anchor AS (SELECT MAX(last_seen) AS hi FROM marks)
    SELECT m.tbl,
           CAST(m.n_rows AS BIGINT) AS n_rows,
           CAST(m.first_seen AS VARCHAR) AS first_seen,
           CAST(m.last_seen AS VARCHAR) AS last_seen,
           CAST(date_diff('day', m.last_seen, a.hi) AS BIGINT)
               AS staleness_days,
           date_diff('day', m.last_seen, a.hi)
               > {FRESH_STALE_DAYS} AS stale
    FROM marks m CROSS JOIN anchor a
    ORDER BY m.tbl
    """,
)
def freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake freshness audit: per fact table, the observed date span
    and the staleness against the NEWEST mark across the lake — the
    first page of any data-platform runbook (an ingest that silently
    stopped shows up as one table's last_seen frozen while its
    siblings advance; absolute-clock freshness is deployment config,
    cross-table RELATIVE freshness is computable anywhere and
    catches the same failure). Complements `late_arrival_audit`
    (event-time vs processing-time within a stream) at the
    between-table grain.

    Scale shape: one min/max/count aggregate per fact table (pure
    map-side), a 3-row union, a 1-row anchor broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def mark(df, name, col):
        return df.agg(
            F.lit(name).alias("tbl"),
            F.min(F.to_date(col)).alias("first_seen"),
            F.max(F.to_date(col)).alias("last_seen"),
            F.count("*").alias("n_rows"),
        )

    marks = (
        mark(orders, "orders", "o_orderdate")
        .unionAll(mark(li, "lineitem", "l_shipdate"))
        .unionAll(mark(ev, "events", "ts"))
    )
    anchor = marks.agg(F.max("last_seen").alias("hi"))
    stale_days = F.datediff(F.col("hi"), F.col("last_seen"))
    return (
        marks.crossJoin(F.broadcast(anchor))
        .select(
            "tbl",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("first_seen").cast("string").alias("first_seen"),
            F.col("last_seen").cast("string").alias("last_seen"),
            stale_days.cast("bigint").alias("staleness_days"),
            (stale_days > FRESH_STALE_DAYS).alias("stale"),
        )
        .orderBy("tbl")
    )
