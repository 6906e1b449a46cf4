"""Join operators (SURVEY.md SS2.4 D3-D6): anti/semi joins, broadcast
dimension lookups, array semi-filters, citation-graph expansion.

The reference's join-shaped logic is all set membership and dict
lookup: skip-existing upsert via a Python ``set`` of DB ids
(Processing/upload_papers_to_supabase.py:78-87,247-252), the
``SUBDOMAIN_TO_DOMAIN`` reverse map
(databias/slicing_bias_analysis.py:259-294), filtering each paper's
``references_id`` array to ids present in the final dataset
(Ingestion/main.py:597-608), and 1-hop citation-graph expansion
(main.py:493-574). Here each becomes a real relational join so
Catalyst can pick broadcast-hash vs sort-merge and AQE can fix skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import load_table


@query(
    "anti_join_new_rows",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    ORDER BY c.c_custkey
    """,
)
def anti_join_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-existing anti-join (D3): rows not yet present in the sink
    (upload_papers_to_supabase.py:247-252 builds a Python id-set; here
    a left-anti join that scales past driver memory). The probe side
    streams; only ids shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders.select("o_custkey"),
            customer.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "semi_join_existing",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    ORDER BY c.c_custkey
    """,
)
def semi_join_existing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership semi-join (U5/D4 shape): keep rows whose key appears
    in another set, without duplicating on multiplicity. The pushed
    filter on the probe side prunes before the shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    )


@query(
    "broadcast_dim_lookup",
    oracle="""
    SELECT n.n_name AS nation_name, r.r_name AS region_name,
           COUNT(*) AS n_suppliers,
           ROUND(SUM(s.s_acctbal), 6) AS total_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY nation_name
    """,
)
def broadcast_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict-lookup join (D5): the SUBDOMAIN_TO_DOMAIN reverse-map
    classification (slicing_bias_analysis.py:259-294) generalized to a
    broadcast-hash join against small dimension tables -- zero extra
    shuffle regardless of fact-table size."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 6).alias("total_acctbal"),
        )
        .orderBy("nation_name")
    )


@query(
    "array_semi_filter",
    oracle="""
    WITH order_parts AS (
        SELECT l_orderkey,
               list_sort(array_agg(DISTINCT l_partkey)) AS ref_parts
        FROM lineitem
        GROUP BY l_orderkey
    ),
    kept_arr AS (
        SELECT array_agg(p_partkey) AS kept_set
        FROM part WHERE p_size >= 25
    )
    SELECT op.l_orderkey,
           len(op.ref_parts) AS n_refs,
           COALESCE(array_to_string(
               list_sort(list_intersect(op.ref_parts, ka.kept_set)), ','
           ), '') AS kept_parts
    FROM order_parts op, kept_arr ka
    ORDER BY op.l_orderkey
    LIMIT 100
    """,
)
def array_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array semi-filter (D4): restrict each row's id-array to ids
    present in a kept set (main.py:597-608 filters references_id to
    the final dataset). The kept set is collected into a broadcast
    array_intersect -- fine while it is dimension-sized; the explode ->
    semi-join -> collect_list re-group form is the unbounded-set
    fallback (SURVEY.md D4)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # Flag-then-group (SURVEY.md D4's unbounded-set form): broadcast
    # the kept dimension as a FLAG onto each ref edge, then build both
    # the full ref set and the kept subset in ONE groupBy — a single
    # shuffle on the group key. A literal array_intersect against a
    # collected kept-set is O(|refs| * |kept|) per row and dies once
    # the kept set outgrows a dimension; grouping twice and re-joining
    # (the naive form) pays three shuffles for the same answer.
    kept = part.filter(F.col("p_size") >= 25).select(
        "p_partkey", F.lit(True).alias("kept")
    )
    # r13 (guide §1.2 don't compute what you throw away): the result
    # is the 100 SMALLEST l_orderkey groups, so find the 100th
    # smallest distinct key first (narrow 8-byte column through a
    # map-side-deduped exchange) and prune every other order BEFORE
    # the distinct + array-building group — the previous form built
    # ref/kept arrays for every order in the lake and TakeOrdered'd
    # 99.99% of them away. The 1-row cutoff is a scalar subquery,
    # evaluated once and read by the filter as a value (no join, so
    # no nested loop). With fewer than 100 orders the cutoff is the
    # largest key and every order is kept; on an empty table it is
    # NULL and the null-safe coalesce still keeps every row.
    cutoff = (
        li.select("l_orderkey")
        .distinct()
        .orderBy("l_orderkey")
        .limit(100)
        .agg(F.max("l_orderkey"))
    )
    refs = (
        li.select("l_orderkey", "l_partkey")
        .filter(
            F.col("l_orderkey")
            <= F.coalesce(cutoff.scalar(), F.col("l_orderkey"))
        )
        .distinct()
    )
    flagged = refs.join(
        kept, refs.l_partkey == kept.p_partkey, "left"
    )
    return (
        flagged.groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_set("l_partkey")).alias("ref_parts"),
            F.array_sort(
                F.collect_set(F.when(F.col("kept"), F.col("l_partkey")))
            ).alias("kept_parts"),
        )
        .select(
            "l_orderkey",
            F.size("ref_parts").alias("n_refs"),
            # String, not array<bigint>: the driver's hash harness
            # sorts pandas columns and list cells are unhashable.
            F.concat_ws(",", "kept_parts").alias("kept_parts"),
        )
        .orderBy("l_orderkey")
        .limit(100)
    )


@query(
    "graph_1hop_expansion",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    )
    SELECT e.src AS cust_id, COUNT(*) AS n_neighbors,
           ROUND(SUM(s.s_acctbal), 6) AS neighbor_acctbal
    FROM edges e JOIN supplier s ON e.dst = s.s_suppkey
    GROUP BY e.src
    ORDER BY cust_id
    """,
)
def graph_1hop_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Citation-graph 1-hop expansion (D6): seeds -> distinct neighbor
    ids -> fetch neighbor records -> aggregate (main.py:493-574 does
    seed papers -> references_id -> fetch papers). Edge list as a
    DataFrame; n-hop is this join iterated with a frontier DataFrame
    (GraphFrames-style BFS), each hop one shuffle on the frontier."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        orders.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        .join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .distinct()
    )
    return (
        edges.join(supplier, edges.dst == supplier.s_suppkey)
        .groupBy(F.col("src").alias("cust_id"))
        .agg(
            F.count("*").alias("n_neighbors"),
            F.round(F.sum("s_acctbal"), 6).alias("neighbor_acctbal"),
        )
        .orderBy("cust_id")
    )


@query(
    "graph_2hop_frontier",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), seeds AS (
        SELECT DISTINCT src FROM edges WHERE src < 50
    ), hop1 AS (
        SELECT DISTINCT e.dst AS supp FROM edges e
        JOIN seeds s ON e.src = s.src
    ), hop2 AS (
        SELECT DISTINCT e.src AS cust FROM edges e
        JOIN hop1 h ON e.dst = h.supp
    )
    SELECT (SELECT COUNT(*) FROM seeds) AS n_seeds,
           (SELECT COUNT(*) FROM hop1) AS n_hop1_suppliers,
           (SELECT COUNT(*) FROM hop2) AS n_hop2_customers
    """,
)
def graph_2hop_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph expansion, hop 2 (D6 n-hop): seeds -> supplier
    frontier -> customers reachable through those suppliers — the
    reference's reference-of-reference fetch loop (main.py:493-574
    iterated) as frontier semi-joins on an edge DataFrame. Each hop is
    one shuffle on the frontier key; the edge list is computed once
    and reused (GraphFrames-style BFS). Output is the frontier-size
    triple, the shape a crawl scheduler consumes."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .distinct()
    )
    seeds = edges.select("src").filter(F.col("src") < 50).distinct()
    hop1 = (
        edges.join(seeds, "src", "left_semi").select("dst").distinct()
    )
    hop2 = (
        edges.join(
            hop1.withColumnRenamed("dst", "supp"),
            edges.dst == F.col("supp"),
            "left_semi",
        )
        .select("src")
        .distinct()
    )
    return (
        seeds.agg(F.count("*").alias("n_seeds"))
        .join(hop1.agg(F.count("*").alias("n_hop1_suppliers")))
        .join(hop2.agg(F.count("*").alias("n_hop2_customers")))
    )


@query(
    "left_join_fill",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           COALESCE(o.n_orders, 0) AS n_orders,
           ROUND(COALESCE(o.total_spent, 0), 4) AS total_spent
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders,
               SUM(o_totalprice) AS total_spent
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey
    """,
)
def left_join_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with null-fill (P8/F15 lifted to joins): every
    dimension row survives, absent fact-side aggregates coalesce to
    zero — the reference's defensive ``df.get(...)/fillna`` access
    (upload_papers_to_supabase.py:131-142, slicing_bias_analysis.py:
    160-162) as outer-join semantics instead of per-row guards.
    Aggregate-BELOW-join: orders collapses to one row per custkey
    before joining, so the join input is dimension-sized on both
    sides and the null-fill is a narrow projection."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("total_spent"),
    )
    return (
        customer.join(
            per_cust, customer.c_custkey == per_cust.o_custkey, "left"
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("total_spent", F.lit(0.0)), 4).alias(
                "total_spent"
            ),
        )
        .orderBy("c_custkey")
    )


@query(
    "run_diff_full_outer",
    oracle="""
    WITH run_a AS (
        SELECT event_type, COUNT(*) AS n
        FROM events
        WHERE ts < TIMESTAMP '2024-01-04'
        GROUP BY event_type
    ), run_b AS (
        SELECT event_type, COUNT(*) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-04' AND event_type <> 'error'
        GROUP BY event_type
    )
    SELECT COALESCE(a.event_type, b.event_type) AS event_type,
           COALESCE(a.n, 0) AS run_a_count,
           COALESCE(b.n, 0) AS run_b_count,
           CASE WHEN a.event_type IS NULL THEN 'added'
                WHEN b.event_type IS NULL THEN 'removed'
                WHEN a.n <> b.n THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM run_a a
    FULL OUTER JOIN run_b b ON a.event_type = b.event_type
    ORDER BY event_type
    """,
)
def run_diff_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run reconciliation as a FULL OUTER join (W1's
    compare-with-previous, schema_validator.py:352-386, generalized):
    distributions from two runs joined on the group key; keys present
    in only one side classify as added/removed, both-side deltas as
    changed (run B drops 'error' events so the null side of the outer
    join is actually exercised — a both-sides-populated diff would be
    an inner join in disguise). Both inputs pre-aggregate to group-key cardinality before
    the join, so the full-outer join is tiny regardless of fact size —
    the pattern for diffing any two snapshot aggregates at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-04").cast("timestamp")
    # Both runs derive from the same scan: rename the key per side so
    # the self-join condition is unambiguous (same-lineage columns
    # otherwise collide).
    run_a = (
        events.filter(F.col("ts") < cut)
        .groupBy(F.col("event_type").alias("et_a"))
        .agg(F.count("*").alias("n_a"))
    )
    run_b = (
        events.filter((F.col("ts") >= cut) & (F.col("event_type") != "error"))
        .groupBy(F.col("event_type").alias("et_b"))
        .agg(F.count("*").alias("n_b"))
    )
    return (
        run_a.join(run_b, F.col("et_a") == F.col("et_b"), "full_outer")
        .select(
            F.coalesce("et_a", "et_b").alias("event_type"),
            F.coalesce("n_a", F.lit(0)).alias("run_a_count"),
            F.coalesce("n_b", F.lit(0)).alias("run_b_count"),
            F.when(F.col("et_a").isNull(), "added")
            .when(F.col("et_b").isNull(), "removed")
            .when(F.col("n_a") != F.col("n_b"), "changed")
            .otherwise("unchanged")
            .alias("change"),
        )
        .orderBy("event_type")
    )


_IOJ_DAY_US = 86_400_000_000


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | None = None,
    suffixes: tuple[str, str] = ("_l", "_r"),
    s_col: str = "s_us",
    e_col: str = "e_us",
) -> DataFrame:
    """Generic interval x interval OVERLAP join (api.timeseries.
    interval_overlap): both sides carry (s_us, e_us) microsecond
    intervals; returns pairs whose intervals intersect (inclusive),
    with the overlap length. The scalable restatement of the
    quadratic range predicate: each interval explodes to the DAY
    bins it spans, the join runs as an EQUI join on (day [+ on
    keys]) with the overlap condition as a post-filter, and pairs
    spanning several shared days are deduplicated by keeping the
    pair's FIRST shared day (min-day filter, no distinct shuffle).
    Bin width is a tuning constant: intervals much longer than a day
    explode to more bins; much shorter, each bin holds more
    candidates — same trade as every spatial grid join.

    Binning uses F.floor, NOT a long cast: cast truncates toward
    zero, so pre-1970 (negative-microsecond) intervals would land in
    the wrong bin and the first-shared-day dedup would drop or
    duplicate pairs. Floor keeps bins monotone across the epoch and
    matches the SQL-oracle floor-division semantics."""
    on = on or []
    for df, side in ((left, "left"), (right, "right")):
        missing = {s_col, e_col} - set(df.columns)
        if missing:
            raise ValueError(
                f"interval_overlap_join: {side} input lacks interval "
                f"column(s) {sorted(missing)}; pass s_col/e_col to "
                "name them"
            )

    def day_bin(col: str):
        return F.floor(F.col(col) / _IOJ_DAY_US).cast("long")

    def binned(df: DataFrame, sfx: str) -> DataFrame:
        cols = [
            F.col(c).alias(c if c in on else f"{c}{sfx}")
            for c in df.columns
        ]
        return df.select(
            *cols,
            F.explode(
                F.sequence(day_bin(s_col), day_bin(e_col))
            ).alias("_day"),
        )

    l_, r_ = suffixes
    lb, rb = binned(left, l_), binned(right, r_)
    sl, el = f"{s_col}{l_}", f"{e_col}{l_}"
    sr, er = f"{s_col}{r_}", f"{e_col}{r_}"
    joined = lb.join(rb, ["_day", *on]).filter(
        (F.col(sl) <= F.col(er)) & (F.col(sr) <= F.col(el))
    )
    first_shared = F.greatest(day_bin(sl), day_bin(sr))
    return joined.filter(F.col("_day") == first_shared).select(
        *[c for c in joined.columns if c != "_day"],
        (
            F.least(F.col(el), F.col(er))
            - F.greatest(F.col(sl), F.col(sr))
        ).alias("overlap_us"),
    )


@query(
    "session_overlap_pairs",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, session_seq,
               MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
        FROM (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)
                       AS session_seq
            FROM flagged
        )
        GROUP BY user_id, session_seq
        HAVING MAX(epoch_us(ts)) > MIN(epoch_us(ts))
    ),
    pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us)
                   AS overlap_us
        FROM sessions a JOIN sessions b
          ON a.user_id < b.user_id
         AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    )
    SELECT user_a, user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
    FROM pairs
    GROUP BY user_a, user_b
    ORDER BY total_overlap_us DESC, user_a, user_b
    LIMIT 20
    """,
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Who is online together: the interval x interval OVERLAP join
    (the pair-enumerating sibling of `peak_concurrency_by_day`'s
    sweep-line count), reported as the top-20 user pairs by total
    concurrent-session time — the co-presence signal behind
    collusion/fraud screens and collaborative-session analytics.
    Zero-length sessions are excluded (a single event carries no
    duration to overlap). The oracle spells the quadratic range
    predicate directly (fine at oracle scale); the engine runs
    `interval_overlap_join`'s day-binned equi rewrite with
    first-shared-day dedup — no nested loop, no distinct shuffle.

    Scale shape: sessions ride the user-keyed window; the pair join
    shuffles on the DAY bin, so the skew unit is one day's
    concurrent sessions — the same boundedness argument as the
    sweep-line's."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev_us = F.unix_micros(F.lag("ts").over(w))
    numbered = ev.select(
        "user_id",
        "ts",
        F.sum(
            F.when(
                prev_us.isNull()
                | (F.unix_micros(F.col("ts")) - prev_us > gap_us),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    intervals = (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
        .filter(F.col("e_us") > F.col("s_us"))
    )
    pairs = interval_overlap_join(
        intervals.select("user_id", "s_us", "e_us"),
        intervals.select("user_id", "s_us", "e_us"),
    ).filter(F.col("user_id_l") < F.col("user_id_r"))
    return (
        pairs.groupBy(
            F.col("user_id_l").alias("user_a"),
            F.col("user_id_r").alias("user_b"),
        )
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum("overlap_us").cast("bigint").alias("total_overlap_us"),
        )
        .orderBy(F.desc("total_overlap_us"), "user_a", "user_b")
        .limit(20)
    )
