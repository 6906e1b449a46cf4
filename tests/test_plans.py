"""Physical-plan property tests: the optimizations the engine's docs
claim must be visible in the executed/physical plan — pushdown
reaching the parquet scan, column pruning, broadcast joins for dims,
equi-key range joins not degrading to nested loop. These are the
100 TB guarantees; asserting them stops a refactor from silently
regressing a scan into a full read.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citeconnect_datapipeline_spark.plans.registry import get_queries
from citeconnect_datapipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    orders = load_table(spark, SF_DIR, "orders")
    df = orders.filter(F.col("o_custkey") == 42).select("o_orderkey")
    plan = physical(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_custkey,42)" in plan, plan


def test_column_pruning_in_read_schema(spark):
    orders = load_table(spark, SF_DIR, "orders")
    df = orders.select("o_orderkey", "o_totalprice")
    plan = physical(df)
    # only the two projected columns reach the scan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_dim_join_is_broadcast(spark):
    plan = physical(get_queries()["broadcast_dim_lookup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multijoin_dims_broadcast_no_nested_loop(spark):
    """Q5-shape 6-way join: every dimension hop (region, nation,
    supplier, customer-keys) must ride a broadcast-hash join — the
    only allowed shuffle is fact><fact — and nothing may degrade to a
    nested loop (the c_nationkey=s_nationkey extra predicate is an
    equi-key, not a theta condition)."""
    plan = physical(get_queries()["regional_supplier_volume"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "NestedLoop" not in plan, plan


def test_shipping_priority_is_take_ordered(spark):
    """Q3-shape top-10 must be TakeOrderedAndProject (per-partition
    heap + driver merge), never a global sort of the grouped result."""
    plan = physical(get_queries()["shipping_priority_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_range_join_is_not_nested_loop(spark):
    """The equi-key in the join condition must keep the interval join
    a hash join; losing it degrades to BroadcastNestedLoopJoin."""
    plan = physical(get_queries()["range_join_binned"](spark, SF_DIR))
    assert "NestedLoop" not in plan, plan


def test_contamination_bench_side_broadcasts(spark):
    """The benchmark shingle table (1/50 of docs; a real eval set is
    tiny) must broadcast so the contamination check is a map-side
    join over the candidate scan — no candidate-side shuffle."""
    plan = physical(get_queries()["benchmark_contamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_train_split_is_shuffle_free_tagging(spark):
    """The split tag is a narrow projection; only the 3-row summary
    aggregates. Exactly one exchange (the final groupBy) may appear."""
    plan = physical(get_queries()["train_test_split"](spark, SF_DIR))
    assert plan.count("Exchange") <= 2, plan  # partial agg + AQE read


def test_topk_is_take_ordered(spark):
    plan = physical(get_queries()["topk_by_score"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_json_extract_limits_before_parse(spark):
    """The top-k must sit BELOW the JSON projection in the plan: the
    parse happens on 1000 rows, not the full table."""
    plan = physical(get_queries()["scalar_json_extract"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # get_json_object must NOT appear in the scan-side projection --
    # it should be applied after the take. The plan prints the
    # projection list of TakeOrderedAndProject's parent Project.
    scan_segment = plan.split("TakeOrderedAndProject")[1]
    assert "get_json_object" not in scan_segment, plan


def test_zone_read_prunes_partitions(spark, tmp_path):
    """read_zone(run_id) must resolve to PartitionFilters on the scan
    (directory pruning), not a post-scan data filter."""
    from citeconnect_datapipeline_spark.sinks.zones import (
        read_zone,
        write_zone,
    )

    zone = str(tmp_path / "zone")
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "paper_id string, score int"
    )
    write_zone(df, zone, run_id="r001")
    write_zone(df, zone, run_id="r002")
    pruned = read_zone(spark, zone, "r001")
    plan = physical(pruned)
    assert "PartitionFilters: [isnotnull(run_id" in plan, plan
    assert pruned.count() == 2


def test_exists_subquery_becomes_semi_join(spark):
    """SQL EXISTS must be rewritten by Catalyst into a left-SEMI hash
    join (RewritePredicateSubquery) — a surviving subquery expression
    would execute tuple-at-a-time and cannot distribute."""
    plan = physical(get_queries()["late_ship_priority_dist"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "Subquery" not in plan, plan


def test_not_exists_subquery_becomes_anti_join(spark):
    """NOT EXISTS over orders -> left-ANTI join on custkey; the
    uncorrelated scalar subquery (global avg balance) is allowed to
    remain as a one-row subquery stage."""
    plan = physical(get_queries()["idle_rich_customers"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan


def test_correlated_scalar_subquery_decorrelates_to_aggregate_join(spark):
    """The per-part avg-quantity lookup must decorrelate into
    aggregate + join (RewriteCorrelatedScalarSubquery): no correlated
    subquery survives, and the per-part aggregate appears as a real
    HashAggregate feeding a join."""
    plan = physical(get_queries()["small_qty_part_revenue"](spark, SF_DIR))
    assert "Subquery" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_sessionize_single_exchange_for_windows(spark):
    """Both window functions (lag flag, running sum) and the session
    aggregation share the user_id partitioning: exactly one shuffle
    exchange of the events table may appear in the plan."""
    plan = physical(get_queries()["sessionize_events"](spark, SF_DIR))
    # final orderBy adds a rangepartitioning exchange; count only hash
    import re

    hashes = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hashes == 1, plan


def test_curation_pipeline_two_hash_exchanges(spark):
    """The composed dedup->gate->split->rollup DAG must collapse to
    exactly two hash exchanges (content-hash window, final rollup) —
    a third would mean an intermediate materialization crept in."""
    import re

    plan = physical(get_queries()["curation_pipeline_e2e"](spark, SF_DIR))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan


def test_funnel_counts_monotonic(spark):
    """Ordered-funnel invariant: each step's user count can only
    shrink, and rates stay within [0, 1]."""
    row = get_queries()["funnel_conversion"](spark, SF_DIR).collect()[0]
    assert row.signup_users >= row.click_users >= row.purchase_users >= 0
    assert 0.0 <= row.purchase_rate <= row.click_rate <= 1.0


def test_cohort_day_zero_covers_every_user(spark):
    """Every user is active on their own first day, so the offset-0
    row sum equals the number of distinct users."""
    from citeconnect_datapipeline_spark.sources.tables import load_table

    out = get_queries()["cohort_retention"](spark, SF_DIR)
    day0 = (
        out.filter(F.col("day_offset") == 0)
        .agg(F.sum("active_users"))
        .collect()[0][0]
    )
    users = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert day0 == users


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """Persistent IVF index: searching probes only nprobe list
    partitions — visible as PartitionFilters on the scan — and agrees
    with the inline-index query's notion of neighbors. The opening
    probe of a fresh index reads the centroids and the vectors'
    schema without Spark jobs, so it runs at most two."""
    import numpy as np

    from citeconnect_datapipeline_spark.operators.similarity import (
        IVF_NPROBE,
        build_ivf_index,
        search_ivf_index,
    )
    from citeconnect_datapipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx)

    q = emb.filter(F.col("vec_id") == 0).first().embedding
    sc = spark.sparkContext
    sc.setJobGroup("ivf-open-probe", "opening probe")
    try:
        out = search_ivf_index(spark, idx, q, k=10)
        rows = out.collect()
    finally:
        sc.setJobGroup("ivf-open-probe-done", "idle")
    assert len(sc.statusTracker().getJobIdsForGroup("ivf-open-probe")) <= 2
    plan = physical(out)
    assert "PartitionFilters" in plan, plan
    pruning_clause = plan.split("PartitionFilters")[1].split("]")[0]
    assert "list_id" in pruning_clause, plan
    assert len(rows) == 10
    # the query vector itself lives in a probed list -> similarity 1.0
    assert rows[0].vec_id == 0 and abs(rows[0].similarity - 1.0) < 1e-6


def test_ivf_index_rebuild_in_place_is_never_stale(spark, tmp_path):
    """A search opens the index once per version: rebuilding it into
    the same directory from different vectors must make the next
    search read the new files, not the first build's."""
    from citeconnect_datapipeline_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), idx)
    q_even = emb.filter(F.col("vec_id") == 0).first().embedding
    assert search_ivf_index(spark, idx, q_even).first().vec_id == 0

    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), idx)
    q_odd = emb.filter(F.col("vec_id") == 1).first().embedding
    rows = search_ivf_index(spark, idx, q_odd).collect()
    assert rows[0].vec_id == 1 and abs(rows[0].similarity - 1.0) < 1e-6
    assert all(r.vec_id % 2 == 1 for r in rows), rows


@pytest.fixture(scope="module")
def ivf_index(spark, tmp_path_factory):
    from citeconnect_datapipeline_spark.operators.similarity import (
        build_ivf_index,
    )

    idx = str(tmp_path_factory.mktemp("ivf") / "index")
    build_ivf_index(load_table(spark, SF_DIR, "embeddings"), idx)
    return idx


def test_ivf_warm_probe_is_one_job_with_pruned_scan(spark, ivf_index):
    """Once the index is open, a probe is one Spark job: no centroid
    read, no listing, no schema inference — and the scan still prunes
    to the probed ``list_id`` partitions."""
    from citeconnect_datapipeline_spark.operators.similarity import (
        search_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    qs = [r.embedding for r in emb.orderBy("vec_id").limit(2).collect()]
    search_ivf_index(spark, ivf_index, qs[0]).collect()

    sc = spark.sparkContext
    sc.setJobGroup("ivf-warm-probe", "warm probe")
    try:
        out = search_ivf_index(spark, ivf_index, qs[1])
        rows = out.collect()
    finally:
        sc.setJobGroup("ivf-warm-probe-done", "idle")
    assert len(sc.statusTracker().getJobIdsForGroup("ivf-warm-probe")) == 1
    assert len(rows) == 10
    plan = physical(out)
    assert "TakeOrderedAndProject" in plan, plan
    pruning_clause = plan.split("PartitionFilters")[1].split("]")[0]
    assert "list_id" in pruning_clause, plan


def test_ivf_probe_from_another_session_reopens_there(spark, ivf_index):
    """The open index is kept per directory for ONE session: a probe
    from another session of the same application (its own SQL conf)
    reopens the index in that session, replacing the directory's
    entry."""
    from citeconnect_datapipeline_spark.operators.similarity import (
        _IVF_OPEN,
        search_ivf_index,
    )

    q = load_table(spark, SF_DIR, "embeddings").first().embedding
    assert search_ivf_index(spark, ivf_index, q).sparkSession is spark
    other = spark.newSession()
    assert search_ivf_index(other, ivf_index, q).sparkSession is other
    assert _IVF_OPEN[ivf_index][0] is other
    assert search_ivf_index(spark, ivf_index, q).sparkSession is spark


def test_ivf_probe_rows_equal_numpy_brute_force(spark, ivf_index):
    """The probe's rows are exactly a numpy cosine over the vectors of
    the nprobe nearest lists, rounded like Spark's 6-dp ``round``,
    ordered by similarity desc then vec_id; the caller's query array
    is left as it was."""
    import numpy as np

    from citeconnect_datapipeline_spark.functions.rounding import spark_round
    from citeconnect_datapipeline_spark.operators.similarity import (
        IVF_NPROBE,
        search_ivf_index,
    )

    cents = sorted(spark.read.parquet(f"{ivf_index}/centroids").collect())
    cmat = np.array([r.centroid for r in cents])
    vecs = spark.read.parquet(f"{ivf_index}/vectors").collect()
    q = np.asarray(
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 7)
        .first()
        .embedding,
        dtype="float64",
    )
    q_before = q.copy()
    got = [
        (r.vec_id, r.label, r.similarity)
        for r in search_ivf_index(spark, ivf_index, q, k=10).collect()
    ]
    assert np.array_equal(q, q_before)

    qn = q / np.linalg.norm(q)
    probe = set(np.argsort(-(cmat @ qn))[:IVF_NPROBE].tolist())
    cand = [r for r in vecs if r.list_id in probe]
    mat = np.array([r.embedding for r in cand], dtype="float64")
    cos = (mat @ qn) / np.linalg.norm(mat, axis=1)
    want = sorted(
        ((r.vec_id, r.label, spark_round(c, 6)) for r, c in zip(cand, cos)),
        key=lambda t: (-t[2], t[0]),
    )[:10]
    assert got == want


def test_sketch_rollup_estimates_within_bounds(spark):
    """Merged HLL distinct estimate and KLL median must land within
    the sketches' documented error of the exact answers."""
    from citeconnect_datapipeline_spark.sources.tables import load_table

    out = {r.day: r for r in get_queries()["sketch_rollup"](spark, SF_DIR).collect()}
    events = load_table(spark, SF_DIR, "events")
    exact_users = events.select("user_id").distinct().count()
    exact_median = events.agg(F.median("value")).collect()[0][0]

    month = out["__month__"]
    assert abs(month.distinct_users - exact_users) / exact_users < 0.05
    # KLL default k: rank error ~1.6%; translate via value spread
    assert abs(month.median_value - exact_median) / (abs(exact_median) + 1e-9) < 0.25
    # daily rows exist and merged >= any single day
    days = [v for k, v in out.items() if k != "__month__"]
    assert days and month.distinct_users >= max(d.distinct_users for d in days)


def test_theta_overlap_matches_exact_set_algebra(spark):
    """Below the sketch's nominal entry count theta estimates are
    exact — every pairwise union/intersection/difference must equal
    the true set cardinalities computed from raw rows."""
    from citeconnect_datapipeline_spark.sources.tables import load_table

    rows = get_queries()["theta_audience_overlap"](spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    sets = {
        r.event_type: set(x.user_id for x in ev.filter(F.col("event_type") == r.event_type)
                          .select("user_id").distinct().collect())
        for r in ev.select("event_type").distinct().collect()
    }
    assert rows, "no pairs produced"
    for r in rows:
        a, b = sets[r.a], sets[r.b]
        assert r.union_est == len(a | b), (r.a, r.b)
        assert r.intersect_est == len(a & b), (r.a, r.b)
        assert r.a_minus_b_est == len(a - b), (r.a, r.b)


def test_pagerank_loop_join_is_copartitioned_not_broadcast(spark):
    """The per-iteration rank join must be exchange-free on the edge
    side and must NOT plan a driver-round-trip broadcast of the rank
    table when ranks exceeds the broadcast threshold (round-1's
    scale trap: O(V) rows shipped to every executor every round).
    Forces the threshold to -1 on a session clone so the static plan
    — what a 100 TB run would execute — is what's asserted."""
    from citeconnect_datapipeline_spark.operators.graph import pagerank

    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_part = int(s.conf.get("spark.sql.shuffle.partitions"))
    edges = s.range(0, 2000).select(
        F.col("id").alias("src"),
        ((F.col("id") * 7 + 3) % 2000).alias("dst"),
    )
    ranked = pagerank(edges, iterations=2)
    # lineage is cut by the final localCheckpoint; re-derive one loop
    # body exactly as pagerank() builds it to inspect the live plan
    adj = edges.groupBy("src").agg(F.collect_set("dst").alias("ds"))
    w_edges = (
        adj.select(
            "src",
            F.explode("ds").alias("dst"),
            (F.lit(1.0) / F.size("ds")).alias("w"),
        )
        .repartition(n_part, F.col("src"))
        .persist()
    )
    w_edges.count()
    vertices = (
        w_edges.select(F.col("src").alias("v"))
        .unionByName(w_edges.select(F.col("dst").alias("v")))
        .distinct()
        .repartition(n_part, F.col("v"))
        .persist()
    )
    vertices.count()
    ranks = vertices.select("v", F.lit(1.0).alias("rank"))
    r = ranks.hint("shuffle_hash")
    contribs = (
        w_edges.join(r, w_edges.src == r.v)
        .select(
            F.col("dst").alias("v2"),
            (F.col("rank") * F.col("w")).alias("c"),
        )
        .groupBy("v2")
        .agg(F.sum("c").alias("contrib"))
        .hint("shuffle_hash")
    )
    one_round = vertices.join(
        contribs, vertices.v == contribs.v2, "left"
    ).select("v", F.coalesce("contrib", F.lit(0.0)).alias("rank"))
    plan = physical(one_round)
    # count only TOP-LEVEL operators: InMemoryTableScan nodes inline
    # their (already-executed, one-time) cached build plans into the
    # dump — everything indented deeper than a scan line is that
    # relation's internal plan, not per-round work
    def _indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*"))

    top_lines: list[str] = []
    cut_depth: int | None = None
    for ln in plan.splitlines():
        if not ln.strip():
            continue
        ind = _indent(ln)
        if cut_depth is not None and ind > cut_depth:
            continue
        cut_depth = None
        if "InMemoryTableScan" in ln:
            cut_depth = _indent(ln)
        top_lines.append(ln)
    top = "\n".join(top_lines)
    assert "BroadcastExchange" not in top, plan
    # exactly one shuffle per round: the contribution re-key; the
    # edge scan and both rank-side joins reuse the cached layout
    assert top.count("Exchange hashpartitioning") <= 1, top
    assert ranked.count() == 2000
    w_edges.unpersist()
    vertices.unpersist()


def test_spread_small_source_is_conditional(spark):
    """Under-partitioned sources fan out to full parallelism; an
    already-wide source passes through with NO added exchange (at
    100 TB an unconditional repartition would shuffle the whole
    scan)."""
    from citeconnect_datapipeline_spark.sources.tables import (
        spread_small_source,
    )

    p = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1).selectExpr("id", "id * 2 AS v")
    assert spread_small_source(narrow).rdd.getNumPartitions() == p

    wide = spark.range(0, 1000, 1, p + 4).selectExpr("id", "id * 2 AS v")
    out = spread_small_source(wide)
    assert out is wide  # pass-through, not a new plan node


def test_triangles_read_pinned_edges_and_leave_no_cache(spark):
    """copurchase_triangles self-joins the pruned edge table three
    times under three DIFFERENT distributions (hash u / hash v /
    hash (u,v)), so exchange reuse only ever covered the inner
    aggregate shuffle and the support filter re-ran per side. r12:
    the builder returns the edge list memoized + localCheckpoint-ed
    (the _copurchase_edges contract), so the plan must read a
    MATERIALIZED edge RDD — never an InMemoryRelation cache — and a
    second invocation must share the same artifact instead of
    rebuilding it."""
    from citeconnect_datapipeline_spark.operators.graph import (
        _support_pruned_edges,
        copurchase_triangles,
    )

    df = copurchase_triangles(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, "edge list is not materialized"
    assert "InMemoryRelation" not in plan, "unexpected cache in plan"
    e1 = _support_pruned_edges(spark, "/root/testdata/sf0.001")
    e2 = _support_pruned_edges(spark, "/root/testdata/sf0.001")
    assert e1 is e2, "edge artifact rebuilt instead of memo-shared"


def _cc_oracle(pairs):
    """Union-find ground truth for connected_components tests."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_connected_components_star_graph_fast_convergence(spark):
    """The skew case the large-star/small-star hardening exists for:
    1 hub, 10k spokes (hub id LARGEST, the worst orientation for
    min-label propagation). Must converge in <= 5 rounds — plain
    label propagation is fine here too, but a hub must never funnel
    through one giant collected row, and round count is the
    observable contract of the star algorithm."""
    from citeconnect_datapipeline_spark.operators.graph import (
        connected_components,
    )

    hub = 10_000
    edges = spark.range(hub).selectExpr(
        f"CAST({hub} AS BIGINT) AS src", "id AS dst"
    )
    stats = {}
    labels = {
        r.v: r.label
        for r in connected_components(edges, stats=stats).collect()
    }
    assert stats["rounds"] <= 5, f"star took {stats['rounds']} rounds"
    assert len(labels) == hub + 1
    assert set(labels.values()) == {0}


def test_connected_components_long_path_logarithmic(spark):
    """A 512-hop path has diameter 512: plain min-label propagation
    needs ~512 rounds; alternating stars must finish in O(log^2 n) —
    assert a generous <= 20. Labels must still be exact."""
    from citeconnect_datapipeline_spark.operators.graph import (
        connected_components,
    )

    n = 512
    edges = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    stats = {}
    labels = {
        r.v: r.label
        for r in connected_components(edges, stats=stats).collect()
    }
    assert stats["rounds"] <= 20, f"path took {stats['rounds']} rounds"
    assert len(labels) == n
    assert set(labels.values()) == {0}


def test_connected_components_random_graphs_match_union_find(spark):
    """Exact component labels on assorted shapes (multi-component
    random graph, cliques, isolated pairs) vs a union-find oracle;
    component id must be the min member."""
    import random

    from citeconnect_datapipeline_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(11)
    pairs = set()
    # 3 random clusters over disjoint id ranges + stray pairs
    for base in (0, 1000, 2000):
        ids = list(range(base, base + 60))
        for _ in range(80):
            pairs.add((rng.choice(ids), rng.choice(ids)))
    pairs |= {(5000, 5001), (6000, 6001), (6001, 6002)}
    pairs = [(u, v) for u, v in pairs if u != v]
    truth = _cc_oracle(pairs)

    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.v: r.label for r in connected_components(edges).collect()
    }
    assert got == truth


def test_chunkers_split_text_once(spark):
    """The word-array projection must survive optimization: if
    CollapseProject ever inlines ``split(lower(text))`` back into the
    chunk generator's lambda, every chunk re-splits the whole document
    (quadratic per doc — the r12 fix this test pins)."""
    for name in (
        "chunk_documents",
        "chunk_exact_dedup",
        "duplicate_span_merge",
    ):
        df = get_queries()[name](spark, SF_DIR)
        plan = physical(df)
        assert plan.count("split(lower(text") == 1, (name, plan)
