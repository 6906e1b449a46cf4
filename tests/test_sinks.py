"""Sinks: zone writer/reader (K1/S10), JSON artifacts (K6), keyed
upsert (K3) — semantics the reference implements as GCS blob naming +
row-by-row ON CONFLICT inserts."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from citeconnect_datapipeline_spark.sinks.upsert import (
    dedup_keep_first,
    foreach_partition_upsert,
    upsert_parquet,
)
from citeconnect_datapipeline_spark.sinks.zones import (
    vacuum_zone,
    read_run_asof,
    compact_zone,
    read_latest_run,
    read_zone,
    write_json_artifact,
    write_zone,
)


def papers(spark, rows):
    return spark.createDataFrame(
        rows, "paper_id string, domain string, score int"
    )


# ---------------------------------------------------------------------
# zones
# ---------------------------------------------------------------------


def test_zone_write_read_roundtrip(spark, tmp_path):
    zone = str(tmp_path / "processed")
    df = papers(spark, [("a", "ml", 1), ("b", "bio", 2)])
    write_zone(df, zone, run_id="r001", partition_cols=("domain",))
    out = read_zone(spark, zone, "r001")
    assert {tuple(r) for r in out.select("paper_id", "score").collect()} == {
        ("a", 1),
        ("b", 2),
    }
    # partition directories exist (pruning-friendly layout)
    assert os.path.isdir(os.path.join(zone, "run_id=r001", "domain=ml"))


def test_zone_latest_run(spark, tmp_path):
    zone = str(tmp_path / "zone")
    write_zone(papers(spark, [("a", "ml", 1)]), zone, run_id="r001")
    write_zone(papers(spark, [("b", "ml", 2)]), zone, run_id="r002")
    latest = read_latest_run(spark, zone)
    assert [r.paper_id for r in latest.collect()] == ["b"]


def test_zone_time_travel_asof(spark, tmp_path):
    """read_run_asof pins the lake state at a historical run id:
    exact hit, between-runs (rounds down), and before-history
    (raises)."""
    import pytest as _pytest

    zone = str(tmp_path / "zone")
    write_zone(papers(spark, [("a", "ml", 1)]), zone, run_id="r001")
    write_zone(papers(spark, [("b", "ml", 2)]), zone, run_id="r003")
    assert [r.paper_id for r in read_run_asof(spark, zone, "r001").collect()] == ["a"]
    # r002 never existed -> travel rounds down to r001
    assert [r.paper_id for r in read_run_asof(spark, zone, "r002").collect()] == ["a"]
    assert [r.paper_id for r in read_run_asof(spark, zone, "r999").collect()] == ["b"]
    with _pytest.raises(FileNotFoundError):
        read_run_asof(spark, zone, "r000")


def test_vacuum_zone_keeps_latest_runs(spark, tmp_path):
    """vacuum removes oldest runs wholesale; survivors (and latest-run
    + as-of reads over them) are untouched."""
    import pytest as _pytest

    zone = str(tmp_path / "zone")
    for r in ("r001", "r002", "r003", "r004"):
        write_zone(papers(spark, [(r, "ml", 1)]), zone, run_id=r)
    removed = vacuum_zone(zone, keep_latest=2)
    assert removed == ["r001", "r002"]
    assert [r.paper_id for r in read_latest_run(spark, zone).collect()] == ["r004"]
    assert [r.paper_id for r in read_run_asof(spark, zone, "r003").collect()] == ["r003"]
    with _pytest.raises(FileNotFoundError):
        read_run_asof(spark, zone, "r002")  # vacuumed history is gone


def test_compact_zone_rewrites_fragmented_run(spark, tmp_path):
    """Many small appended files collapse to a bounded count; data and
    sub-partition layout survive byte-for-byte."""
    zone = str(tmp_path / "zone")
    # fragment: 6 separate appends into one run, partitioned by domain
    for i in range(6):
        write_zone(
            papers(spark, [(f"p{i}", "ml" if i % 2 else "bio", i)]),
            zone,
            run_id="r001",
            partition_cols=("domain",),
        )
    before = read_zone(spark, zone, "r001")
    rows_before = {tuple(r) for r in before.select("paper_id", "score").collect()}

    stats = compact_zone(spark, zone, "r001")
    assert stats["files_before"] > stats["files_after"]

    after = read_zone(spark, zone, "r001")
    rows_after = {tuple(r) for r in after.select("paper_id", "score").collect()}
    assert rows_after == rows_before
    # pruning structure preserved
    assert os.path.isdir(os.path.join(zone, "run_id=r001", "domain=ml"))
    # other runs untouched semantics: compaction is atomic per run
    assert not [
        e for e in os.listdir(zone) if e.endswith(".tmp")
    ], "temp dirs must not survive"


def test_zone_runs_are_isolated(spark, tmp_path):
    zone = str(tmp_path / "zone")
    write_zone(papers(spark, [("a", "ml", 1)]), zone, run_id="r001")
    write_zone(papers(spark, [("a", "ml", 99)]), zone, run_id="r002")
    all_rows = read_zone(spark, zone)
    assert all_rows.count() == 2  # appends never clobber history
    assert read_zone(spark, zone, "r001").first().score == 1


def test_json_artifact(spark, tmp_path):
    path = str(tmp_path / "artifacts" / "slices.json")
    agg = papers(spark, [("a", "ml", 1), ("b", "ml", 3)]).groupBy(
        "domain"
    ).agg(F.avg("score").alias("mean_score"))
    write_json_artifact(agg, path)
    data = json.load(open(path))
    assert data == [{"domain": "ml", "mean_score": 2.0}]
    assert not os.path.exists(path + ".tmp")


def test_json_artifact_size_guard(spark, tmp_path):
    # Misuse (unaggregated / table-sized input) must fail fast, not
    # OOM the driver, and must not leave a partial artifact behind.
    path = str(tmp_path / "artifacts" / "too_big.json")
    big = spark.range(10)
    with pytest.raises(ValueError, match="exceeds 5 rows"):
        write_json_artifact(big, path, max_rows=5)
    assert not os.path.exists(path)
    assert not os.path.exists(path + ".tmp")


# ---------------------------------------------------------------------
# upsert
# ---------------------------------------------------------------------


def test_dedup_keep_first_deterministic(spark):
    df = papers(
        spark, [("a", "ml", 5), ("a", "ml", 1), ("b", "bio", 2)]
    )
    out = dedup_keep_first(df, "paper_id", ("score",))
    assert {(r.paper_id, r.score) for r in out.collect()} == {
        ("a", 1),
        ("b", 2),
    }


def test_upsert_parquet_insert_if_absent(spark, tmp_path):
    target = str(tmp_path / "papers_table")
    first = papers(spark, [("a", "ml", 1), ("b", "bio", 2)])
    assert upsert_parquet(spark, first, target, "paper_id") == 2

    # second load: one dup key (ignored), one new
    second = papers(spark, [("a", "ml", 99), ("c", "cs", 3)])
    assert upsert_parquet(spark, second, target, "paper_id") == 1

    final = {
        (r.paper_id, r.score)
        for r in spark.read.parquet(target).collect()
    }
    # 'a' keeps its ORIGINAL row: ON CONFLICT DO NOTHING semantics
    assert final == {("a", 1), ("b", 2), ("c", 3)}


def test_upsert_parquet_dedups_within_batch(spark, tmp_path):
    target = str(tmp_path / "t2")
    batch = papers(spark, [("x", "ml", 9), ("x", "ml", 1)])
    inserted = upsert_parquet(
        spark, batch, target, "paper_id", order_cols=("score",)
    )
    assert inserted == 1
    assert spark.read.parquet(target).first().score == 1  # keep-first


def test_upsert_parquet_idempotent(spark, tmp_path):
    target = str(tmp_path / "t3")
    df = papers(spark, [("a", "ml", 1)])
    upsert_parquet(spark, df, target, "paper_id")
    assert upsert_parquet(spark, df, target, "paper_id") == 0
    assert spark.read.parquet(target).count() == 1


def test_upsert_parquet_into_single_file_table(spark, sf_dir, tmp_path):
    """The lake's tables are single parquet FILES. The swap removes
    the old file (a directory removal raises NotADirectoryError on
    it), and the table comes back as a directory with the new rows."""
    import shutil

    target = str(tmp_path / "documents.parquet")
    shutil.copyfile(os.path.join(sf_dir, "documents.parquet"), target)
    n = spark.read.parquet(target).count()
    docs = spark.read.parquet(target).orderBy("doc_id").limit(8)
    # 5 re-keyed copies (inserted) + 3 existing keys (ignored)
    batch = docs.limit(5).withColumn(
        "doc_id", F.col("doc_id") + 10**6
    ).unionByName(docs.limit(3))
    assert upsert_parquet(spark, batch, target, "doc_id") == 5
    assert spark.read.parquet(target).count() == n + 5
    assert os.path.isdir(target)
    assert not os.path.exists(f"{target}.old")
    assert not os.path.exists(f"{target}.staging")


def test_recover_swap_on_single_file_table(spark, sf_dir, tmp_path):
    """A swap cut before its commit rename rolls BACK to the original
    file; one cut after it rolls FORWARD and drops the old file.
    upsert_parquet recovers before it reads the target."""
    import shutil

    from citeconnect_datapipeline_spark.sinks.upsert import _recover_swap

    src = os.path.join(sf_dir, "documents.parquet")
    target = str(tmp_path / "documents.parquet")
    old, staging = f"{target}.old", f"{target}.staging"
    n = spark.read.parquet(src).count()

    # cut between rename(target, old) and rename(staging, target)
    shutil.copyfile(src, old)
    spark.read.parquet(src).limit(1).write.parquet(staging)
    _recover_swap(target)
    assert os.path.isfile(target)
    assert not os.path.exists(old) and not os.path.exists(staging)
    assert spark.read.parquet(target).count() == n

    # cut after the commit rename, before the old file is removed;
    # the next upsert finishes the swap first
    spark.read.parquet(target).write.parquet(str(tmp_path / "new"))
    os.rename(target, old)
    os.rename(str(tmp_path / "new"), target)
    fresh = spark.read.parquet(target).limit(1).withColumn(
        "doc_id", F.lit(10**6).cast("long")
    )
    assert upsert_parquet(spark, fresh, target, "doc_id") == 1
    assert not os.path.exists(old)
    assert spark.read.parquet(target).count() == n + 1


def _files(table: str) -> dict:
    """name -> (size, mtime_ns) of the files directly in ``table``."""
    out = {}
    for name in os.listdir(table):
        path = os.path.join(table, name)
        if os.path.isfile(path):
            st = os.stat(path)
            out[name] = (st.st_size, st.st_mtime_ns)
    return out


def _table_dir(spark, tmp_path, name="papers_dir"):
    """A directory table of three papers, written by a first upsert."""
    target = str(tmp_path / name)
    rows = [("a", "ml", 1), ("b", "bio", 2), ("c", "cs", 3)]
    assert upsert_parquet(spark, papers(spark, rows), target, "paper_id") == 3
    return target


def test_upsert_parquet_appends_without_touching_existing_files(
    spark, tmp_path
):
    """Insert-if-absent into a directory never rewrites a file: every
    file there before keeps its name, size and mtime, and the new
    parquet files hold exactly the inserted rows."""
    import pyarrow.parquet as pq

    target = _table_dir(spark, tmp_path)
    before = _files(target)
    batch = papers(spark, [("a", "ml", 99), ("d", "ml", 4), ("e", "bio", 5)])
    assert upsert_parquet(spark, batch, target, "paper_id") == 2

    after = _files(target)
    assert {n: after[n] for n in before} == before
    new = [n for n in after if n not in before and n.endswith(".parquet")]
    assert new and not any(n.startswith(".") for n in new)
    added = [
        tuple(r.values())
        for n in new
        for r in pq.read_table(os.path.join(target, n)).to_pylist()
    ]
    assert sorted(added) == [("d", "ml", 4), ("e", "bio", 5)]
    assert not [n for n in os.listdir(target) if n.startswith("_staging-")]


def test_upsert_parquet_noop_rerun_keeps_table_version(spark, tmp_path):
    """A batch whose keys all exist adds no file, not even an empty
    one: the table's version stamp is unchanged."""
    from citeconnect_datapipeline_spark.sources.tables import table_version

    target = _table_dir(spark, tmp_path)
    version = table_version(target)
    batch = papers(spark, [("a", "ml", 7), ("c", "cs", 8)])
    assert upsert_parquet(spark, batch, target, "paper_id") == 0
    assert upsert_parquet(spark, batch.limit(0), target, "paper_id") == 0
    assert table_version(target) == version


def test_upsert_parquet_failed_write_leaves_table_unchanged(spark, tmp_path):
    """A row that raises inside the write task fails the call and
    leaves the table as it was; the next upsert succeeds and leaves no
    staging directory behind."""
    from citeconnect_datapipeline_spark.sources.tables import table_version

    target = _table_dir(spark, tmp_path)
    version = table_version(target)
    batch = papers(spark, [("d", "ml", 4), ("poison", "ml", 5)])
    poisoned = batch.withColumn(
        "score",
        F.when(
            F.col("paper_id") == "poison", F.raise_error(F.lit("poison row"))
        ).otherwise(F.col("score")),
    )
    with pytest.raises(Exception, match="poison row"):
        upsert_parquet(spark, poisoned, target, "paper_id")
    assert table_version(target) == version

    assert upsert_parquet(spark, batch, target, "paper_id") == 2
    assert not [n for n in os.listdir(target) if n.startswith("_staging-")]
    assert spark.read.parquet(target).count() == 5


def test_upsert_parquet_recovers_cut_appends(spark, tmp_path):
    """An append cut after its _COMMIT marker, with one part file
    already moved in, is rolled FORWARD by the next upsert (no key
    twice, the committed rows kept); one cut before the marker is
    deleted (its rows never appear)."""
    target = _table_dir(spark, tmp_path)
    committed = os.path.join(target, "_staging-cut-after-marker")
    papers(
        spark, [("d", "ml", 4), ("e", "bio", 5), ("f", "cs", 6)]
    ).repartition(3).write.parquet(committed)
    open(os.path.join(committed, "_COMMIT"), "w").close()
    moved = sorted(
        n for n in os.listdir(committed) if n.endswith(".parquet")
    )[0]
    os.rename(os.path.join(committed, moved), os.path.join(target, moved))
    uncommitted = os.path.join(target, "_staging-cut-before-marker")
    papers(spark, [("x", "ml", 9)]).write.parquet(uncommitted)

    batch = papers(spark, [("d", "ml", 40), ("f", "cs", 60), ("g", "ml", 7)])
    assert upsert_parquet(spark, batch, target, "paper_id") == 1
    assert not [n for n in os.listdir(target) if n.startswith("_staging-")]
    rows = spark.read.parquet(target).select("paper_id", "score").collect()
    assert sorted(map(tuple, rows)) == [
        ("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5), ("f", 6), ("g", 7)
    ]


def test_upsert_parquet_appends_in_the_table_schema(spark, tmp_path):
    """Appended files carry the target's columns, order and types
    (a batch's wider ``score`` is cast back to int32); a batch with an
    extra or a missing column raises and writes nothing."""
    import pyarrow.parquet as pq

    from citeconnect_datapipeline_spark.sources.tables import table_version

    target = _table_dir(spark, tmp_path)
    before = _files(target)
    first = next(n for n in before if n.endswith(".parquet"))
    schema = pq.read_schema(os.path.join(target, first))
    batch = spark.createDataFrame(
        [(4, "d", "ml")], "score bigint, paper_id string, domain string"
    )
    assert upsert_parquet(spark, batch, target, "paper_id") == 1
    after = _files(target)
    new = [n for n in after if n not in before and n.endswith(".parquet")]
    assert new
    for name in new:
        got = pq.read_schema(os.path.join(target, name))
        assert got.names == schema.names
        assert got.types == schema.types

    version = table_version(target)
    extra = papers(spark, [("e", "ml", 5)]).withColumn("venue", F.lit("x"))
    with pytest.raises(ValueError, match="columns"):
        upsert_parquet(spark, extra, target, "paper_id")
    missing = extra.drop("venue", "domain")
    with pytest.raises(ValueError, match="columns"):
        upsert_parquet(spark, missing, target, "paper_id")
    assert table_version(target) == version


def test_memo_follows_an_upsert_into_the_lake(spark, sf_dir, tmp_path):
    """A memo-backed query after an upsert answers for the updated lake
    with no ``invalidate()``: copies of three docs under new ids join
    near-dup components, and Spark equals the DuckDB oracle over the
    lake as it now is."""
    import shutil

    import duckdb

    from citeconnect_datapipeline_spark.operators.dedup import (
        neardup_components,
    )
    from citeconnect_datapipeline_spark.plans.registry import get_oracles

    lake = tmp_path / "lake"
    table = lake / "documents.parquet"
    os.makedirs(table)
    shutil.copyfile(
        os.path.join(sf_dir, "documents.parquet"), table / "part-0.parquet"
    )
    oracle = get_oracles()["neardup_components"]

    def answers():
        spark_rows = neardup_components(spark, str(lake)).collect()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{table}/*.parquet')"
            )
            oracle_rows = set(con.execute(oracle).fetchall())
        finally:
            con.close()
        return set(map(tuple, spark_rows)), oracle_rows

    spark_before, oracle_before = answers()
    assert spark_before == oracle_before
    docs = spark.read.parquet(str(table))
    copies = docs.orderBy("doc_id").limit(3).withColumn(
        "doc_id", F.col("doc_id") + 10**6
    )
    assert upsert_parquet(spark, copies, str(table), "doc_id") == 3
    spark_after, oracle_after = answers()
    assert oracle_after != oracle_before
    assert spark_after == oracle_after


def test_foreach_partition_upsert_batches(spark, tmp_path):
    """Writer double records every batch to per-task files; asserts
    batch sizing and completeness without a real database."""
    outdir = tmp_path / "writes"
    outdir.mkdir()

    def writer_factory():
        import os as _os
        import uuid

        fname = str(outdir / f"task-{uuid.uuid4().hex}.jsonl")

        def write(batch):
            with open(fname, "a") as f:
                f.write(json.dumps([list(map(str, r)) for r in batch]) + "\n")

        return write

    df = spark.range(250).select(
        F.col("id").cast("string").alias("paper_id"),
        F.lit("ml").alias("domain"),
        F.col("id").cast("int").alias("score"),
    ).repartition(3)
    foreach_partition_upsert(df, writer_factory, batch_size=40)

    batches = []
    for f in outdir.iterdir():
        for line in open(f):
            batches.append(json.loads(line))
    seen = {r[0] for b in batches for r in b}
    assert len(seen) == 250
    assert all(len(b) <= 40 for b in batches)
    # at least one full batch per partition-sized stream
    assert any(len(b) == 40 for b in batches)


def test_json_artifact_scan_roundtrip(spark, tmp_path):
    """S14: JSON config/artifact scan — the artifact written by K6 is
    readable back via spark.read.json with schema intact."""
    path = str(tmp_path / "artifacts" / "summary.json")
    agg = papers(
        spark, [("a", "ml", 1), ("b", "bio", 3), ("c", "ml", 5)]
    ).groupBy("domain").agg(F.count("*").alias("n"))
    write_json_artifact(agg, path)
    back = spark.read.option("multiLine", "true").json(path)
    assert {(r.domain, r.n) for r in back.collect()} == {("ml", 2), ("bio", 1)}


def test_write_zone_observed_collects_metrics_in_write_pass(spark, tmp_path):
    from citeconnect_datapipeline_spark.sinks.zones import write_zone_observed

    zone = str(tmp_path / "zone")
    df = papers(spark, [("a", "ml", 1), ("b", None, 2), ("c", "bio", 3)])
    got = write_zone_observed(
        df,
        zone,
        run_id="r001",
        metrics={
            "n_rows": F.count(F.lit(1)),
            "null_domains": F.sum(
                F.when(F.col("domain").isNull(), 1).otherwise(0)
            ),
            "score_sum": F.sum("score"),
        },
    )
    assert got == {"n_rows": 3, "null_domains": 1, "score_sum": 6}
    # and the data actually landed
    assert read_zone(spark, zone, "r001").count() == 3


def test_vector_store_datasource_writer_two_phase_commit(spark, tmp_path):
    """K4 as a Python DataSource writer: staged JSONL parts become
    visible only at commit (manifest written last), and a row count
    survives the trip."""
    import json as jsonlib

    from citeconnect_datapipeline_spark.sinks.vector_store import (
        VectorStoreDataSource,
    )

    spark.dataSource.register(VectorStoreDataSource)
    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)], f"doc{i}") for i in range(20)],
        "vec_id long, embedding array<float>, label string",
    ).repartition(4)
    df.write.format("vector_store").option("path", store).mode(
        "append"
    ).save()

    manifest = jsonlib.load(open(os.path.join(store, "_SUCCESS")))
    assert manifest["n_rows"] == 20
    parts = [f for f in os.listdir(store) if f.startswith("part-")]
    assert len(parts) == manifest["parts"] == 4
    # no staged leftovers (commit removes the then-empty staging dir)
    staged = os.path.join(store, ".staged")
    assert not os.path.exists(staged) or not os.listdir(staged)
    rows = [
        jsonlib.loads(line)
        for f in parts
        for line in open(os.path.join(store, f))
    ]
    assert {r["vec_id"] for r in rows} == set(range(20))


def test_zone_schema_evolution_merge(spark, tmp_path):
    """A later run adds a column; merge_schema surfaces it zone-wide
    with NULLs for old runs (union-by-name), instead of silently
    projecting to one run's schema."""
    zone = str(tmp_path / "zone")
    write_zone(papers(spark, [("a", "ml", 1)]), zone, run_id="r001")
    richer = spark.createDataFrame(
        [("b", "bio", 2, 0.9)],
        "paper_id string, domain string, score int, quality double",
    )
    write_zone(richer, zone, run_id="r002")

    merged = read_zone(spark, zone, merge_schema=True)
    assert "quality" in merged.columns
    rows = {r.paper_id: r for r in merged.collect()}
    assert rows["a"].quality is None
    assert rows["b"].quality == 0.9
    # pruned single-run read keeps evolution invisible when filtered
    old = read_zone(spark, zone, "r001", merge_schema=True)
    assert old.count() == 1


def test_merge_parquet_cdc_semantics(spark, tmp_path):
    """Full MERGE: matched upsert replaces, unmatched inserts,
    delete removes, everything else untouched."""
    from citeconnect_datapipeline_spark.sinks.upsert import merge_parquet

    target = str(tmp_path / "papers_tbl")
    base = papers(
        spark, [("a", "ml", 1), ("b", "bio", 2), ("c", "ml", 3)]
    )
    base.write.parquet(target)

    changes = spark.createDataFrame(
        [
            ("b", "bio", 20, "upsert"),  # update
            ("d", "cs", 4, "upsert"),  # insert
            ("c", None, 0, "delete"),  # delete
        ],
        "paper_id string, domain string, score int, _op string",
    )
    stats = merge_parquet(spark, changes, target, "paper_id")
    assert stats == {
        "inserted": 1,
        "updated": 1,
        "deleted": 1,
        "unchanged": 1,
    }
    rows = {
        r.paper_id: (r.domain, r.score)
        for r in spark.read.parquet(target).collect()
    }
    assert rows == {"a": ("ml", 1), "b": ("bio", 20), "d": ("cs", 4)}


def test_scd2_merge_versions_history(spark):
    """SCD2: changed attrs close the old version and open a new one;
    identical updates are no-ops; new keys insert open rows."""
    from citeconnect_datapipeline_spark.sinks.upsert import scd2_merge

    dim = spark.createDataFrame(
        [
            ("a", "ml", "2024-01-01", None),
            ("b", "bio", "2024-01-01", None),
            ("a", "old", "2023-01-01", "2024-01-01"),  # history row
        ],
        "paper_id string, domain string, valid_from string, valid_to string",
    ).select(
        "paper_id",
        "domain",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
    )
    updates = spark.createDataFrame(
        [
            ("a", "cs", "2024-06-01"),  # change -> version
            ("b", "bio", "2024-06-01"),  # identical -> no-op
            ("c", "math", "2024-06-01"),  # new key
        ],
        "paper_id string, domain string, eff string",
    ).select("paper_id", "domain", F.to_timestamp("eff").alias("eff"))

    out = scd2_merge(dim, updates, "paper_id", ("domain",), "eff")
    rows = sorted(
        (r.paper_id, r.domain, str(r.valid_from)[:10], str(r.valid_to)[:10] if r.valid_to else None)
        for r in out.collect()
    )
    assert rows == [
        ("a", "cs", "2024-06-01", None),
        ("a", "ml", "2024-01-01", "2024-06-01"),
        ("a", "old", "2023-01-01", "2024-01-01"),
        ("b", "bio", "2024-01-01", None),
        ("c", "math", "2024-06-01", None),
    ]


def test_merge_parquet_multiple_changes_per_key_last_wins(spark, tmp_path):
    """A CDC batch carrying several changes for one key folds to the
    LAST change (by seq_col when given, else batch order) — not one
    row per change, and never both an upsert and its retraction."""
    from citeconnect_datapipeline_spark.sinks.upsert import merge_parquet

    target = str(tmp_path / "papers_tbl")
    papers(spark, [("a", "ml", 1)]).write.parquet(target)

    changes = spark.createDataFrame(
        [
            ("a", "ml", 10, "upsert", 1),   # superseded update
            ("a", "ml", 11, "upsert", 2),   # last change for a: wins
            ("b", "cs", 5, "upsert", 1),    # inserted ...
            ("b", None, 0, "delete", 2),    # ... then retracted: net delete
            ("c", "bio", 7, "upsert", 1),
            ("c", "bio", 8, "upsert", 3),   # seq order, not row order
            ("c", "bio", 9, "upsert", 2),
        ],
        "paper_id string, domain string, score int, _op string, seq int",
    )
    merge_parquet(spark, changes, target, "paper_id", seq_col="seq")
    got = {
        r.paper_id: r.score for r in spark.read.parquet(target).collect()
    }
    assert got == {"a": 11, "c": 8}


def test_merge_parquet_interrupted_swap_recovers(spark, tmp_path):
    """Crash simulation around the atomic-swap commit point: a
    leftover target.old WITHOUT a target (crash between the two
    renames) rolls back to the pre-merge table; a leftover
    target.old WITH a target (crash before cleanup) rolls forward."""
    import os
    import shutil

    from citeconnect_datapipeline_spark.sinks.upsert import merge_parquet

    target = str(tmp_path / "tbl")
    papers(spark, [("a", "ml", 1)]).write.parquet(target)

    # crash between rename(target, old) and rename(staging, target):
    os.rename(target, f"{target}.old")
    changes = spark.createDataFrame(
        [("b", "cs", 2, "upsert")],
        "paper_id string, domain string, score int, _op string",
    )
    merge_parquet(spark, changes, target, "paper_id")
    got = {r.paper_id for r in spark.read.parquet(target).collect()}
    assert got == {"a", "b"}  # rolled back to {a}, then merged b
    assert not os.path.exists(f"{target}.old")

    # crash after commit point, before old-dir cleanup:
    shutil.copytree(target, f"{target}.old")
    merge_parquet(
        spark,
        spark.createDataFrame(
            [("c", "bio", 3, "upsert")],
            "paper_id string, domain string, score int, _op string",
        ),
        target,
        "paper_id",
    )
    got = {r.paper_id for r in spark.read.parquet(target).collect()}
    assert got == {"a", "b", "c"}  # rolled forward: old copy dropped
    assert not os.path.exists(f"{target}.old")


def test_vector_store_overwrite_clears_stale_parts(spark, tmp_path):
    """Overwriting with FEWER partitions must not leave previous-
    generation part files behind (a reader would union two writes)."""
    import json
    import os

    from citeconnect_datapipeline_spark.sinks.vector_store import (
        VectorStoreDataSource,
    )

    spark.dataSource.register(VectorStoreDataSource)
    store = str(tmp_path / "vstore")
    os.makedirs(store)

    big = spark.range(0, 40).selectExpr("id", "cast(id as string) v")
    big.repartition(8).write.format("vector_store").option(
        "path", store
    ).mode("overwrite").save()
    n_parts_before = len(
        [p for p in os.listdir(store) if p.startswith("part-")]
    )
    assert n_parts_before == 8

    small = spark.range(0, 3).selectExpr("id", "cast(id as string) v")
    small.repartition(2).write.format("vector_store").option(
        "path", store
    ).mode("overwrite").save()
    parts = sorted(p for p in os.listdir(store) if p.startswith("part-"))
    assert len(parts) == 2, parts
    n_rows = sum(
        1
        for p in parts
        for _ in open(os.path.join(store, p))
    )
    assert n_rows == 3
    manifest = json.load(open(os.path.join(store, "_SUCCESS")))
    assert manifest == {"n_rows": 3, "parts": 2}


# ---- jdbc_upsert: in-memory DB-API double. Classes are defined
# INSIDE the builder so cloudpickle serializes them BY VALUE — a
# module-level class would pickle by reference to 'test_sinks',
# which doesn't exist on executor Python workers. Store state lives
# on disk (plus a statement log) so workers and the test share it. ----


def _fake_pg_factory(state_file, fail_file):
    class FakePgCursor:
        def __init__(self):
            self.rowcount = -1

        def _existing(self):
            import os as _os

            if not _os.path.exists(state_file):
                return set()
            with open(state_file) as f:
                return {ln.strip() for ln in f if ln.strip()}

        def _maybe_fail_transient(self):
            import os as _os

            from citeconnect_datapipeline_spark.sinks.upsert import (
                TransientWriteError,
            )

            if not _os.path.exists(fail_file):
                return
            with open(fail_file) as f:
                remaining = int(f.read().strip() or 0)
            if remaining > 0:
                with open(fail_file, "w") as f:
                    f.write(str(remaining - 1))
                raise TransientWriteError("simulated blip")

        def _log(self, sql):
            with open(state_file + ".sql", "a") as f:
                f.write(sql + "\n")

        def _apply(self, rows):
            # statement-atomic like a real DB: a poison row aborts
            # the whole statement BEFORE any row persists
            if any(str(r[0]) == "BOOM" for r in rows):
                raise ValueError("poison row")
            existing = self._existing()
            inserted = 0
            with open(state_file, "a") as f:
                for row in rows:
                    key = str(row[0])
                    if key not in existing:
                        f.write(key + "\n")
                        existing.add(key)
                        inserted += 1
            self.rowcount = inserted

        def executemany(self, sql, rows):
            self._log(sql)
            self._maybe_fail_transient()
            self._apply(list(rows))

        def execute(self, sql, row):
            self._log(sql)
            self._apply([row])

    class FakePgConn:
        def cursor(self):
            return FakePgCursor()

        def commit(self):
            pass

        def close(self):
            pass

    def factory():
        return FakePgConn()

    return factory


def test_jdbc_upsert_batches_conflicts_and_sql_text(spark, tmp_path):
    """Batch flush at batch_size, ON CONFLICT DO NOTHING text, and
    conflict accounting from rowcount: pre-existing keys count as
    skipped, fresh keys as inserted."""
    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    state = str(tmp_path / "pg_state.txt")
    fail = str(tmp_path / "pg_fail.txt")
    with open(state, "w") as f:  # rows 0 and 1 already in the store
        f.write("0\n1\n")

    df = spark.range(0, 250).selectExpr(
        "cast(id as string) paper_id", "id * 2 AS score"
    ).coalesce(1)
    stats = jdbc_upsert(
        df, "papers", "paper_id", _fake_pg_factory(state, fail),
        batch_size=100,
    )
    assert stats == {
        "attempted": 250,
        "inserted": 248,
        "skipped": 2,
        "failed": 0,
        "retried": 0,
    }
    with open(state) as f:
        assert len(f.read().split()) == 250


def test_jdbc_upsert_sql_shapes(spark, tmp_path):
    """The generated statement matches the reference's ON CONFLICT
    form (upload_papers_to_supabase.py:258-264): DO NOTHING by
    default, and update mode emits EXCLUDED assignments for every
    non-key column. Asserted from the SQL the executor actually ran
    (the fake cursor logs every statement)."""
    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    state = str(tmp_path / "s.txt")
    fail = str(tmp_path / "f.txt")
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")],
        "paper_id string, score int, domain string",
    ).coalesce(1)

    jdbc_upsert(df, "papers", "paper_id", _fake_pg_factory(state, fail))
    jdbc_upsert(
        df, "papers", "paper_id", _fake_pg_factory(state, fail),
        on_conflict="update",
    )
    ran = set(open(state + ".sql").read().splitlines())
    assert (
        "INSERT INTO papers (paper_id, score, domain) "
        "VALUES (%s, %s, %s) ON CONFLICT (paper_id) DO NOTHING"
    ) in ran
    assert (
        "INSERT INTO papers (paper_id, score, domain) "
        "VALUES (%s, %s, %s) ON CONFLICT (paper_id) DO UPDATE SET "
        "score = EXCLUDED.score, domain = EXCLUDED.domain"
    ) in ran


def test_jdbc_upsert_transient_retry_then_success(spark, tmp_path):
    """A batch hit by transient failures retries (with backoff) and
    succeeds without falling to row-at-a-time: all rows inserted,
    retried count surfaced."""
    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    state = str(tmp_path / "pg_state.txt")
    fail = str(tmp_path / "pg_fail.txt")
    with open(fail, "w") as f:
        f.write("2")  # first two executemany calls blip

    df = spark.range(0, 50).selectExpr(
        "cast(id as string) paper_id", "id * 2 AS score"
    ).coalesce(1)
    stats = jdbc_upsert(
        df, "papers", "paper_id", _fake_pg_factory(state, fail),
        batch_size=100, max_retries=3, retry_backoff_s=0.0,
    )
    assert stats["inserted"] == 50
    assert stats["failed"] == 0
    assert stats["retried"] == 2


def test_jdbc_upsert_poison_row_isolated(spark, tmp_path):
    """A non-transient batch failure falls back to row-at-a-time:
    exactly the poison row fails, every other row lands."""
    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    state = str(tmp_path / "pg_state.txt")
    fail = str(tmp_path / "pg_fail.txt")
    rows = [(str(i), i) for i in range(20)] + [("BOOM", 99)]
    df = spark.createDataFrame(
        rows, "paper_id string, score int"
    ).coalesce(1)
    stats = jdbc_upsert(
        df, "papers", "paper_id", _fake_pg_factory(state, fail),
        batch_size=100,
    )
    assert stats["attempted"] == 21
    assert stats["inserted"] == 20
    assert stats["failed"] == 1
    assert stats["retried"] == 0


def _aborting_pg_factory(state_file):
    """Strict double modeling psycopg/Postgres transaction semantics:
    after ANY failed statement the connection is in an aborted
    transaction and every subsequent statement raises until
    rollback() is called. Against this double, poison-row isolation
    only works if jdbc_upsert actually rolls back before (and
    during) the fallback loop."""

    class Cursor:
        def __init__(self, conn):
            self.conn = conn
            self.rowcount = -1

        def _run(self, rows):
            if self.conn.aborted:
                raise RuntimeError(
                    "current transaction is aborted, commands ignored"
                )
            if any(str(r[0]) == "BOOM" for r in rows):
                self.conn.aborted = True
                raise ValueError("poison row")
            existing = set()
            import os as _os

            if _os.path.exists(state_file):
                existing = {
                    ln.strip() for ln in open(state_file) if ln.strip()
                }
            n = 0
            with open(state_file, "a") as f:
                for r in rows:
                    if str(r[0]) not in existing:
                        f.write(str(r[0]) + "\n")
                        existing.add(str(r[0]))
                        n += 1
            self.rowcount = n

        def executemany(self, sql, rows):
            self._run(list(rows))

        def execute(self, sql, row):
            self._run([row])

    class Conn:
        def __init__(self):
            self.aborted = False

        def cursor(self):
            return Cursor(self)

        def commit(self):
            if self.aborted:
                raise RuntimeError("cannot commit aborted transaction")

        def rollback(self):
            self.aborted = False

        def close(self):
            pass

    return Conn


def test_jdbc_upsert_rolls_back_aborted_transaction(spark, tmp_path):
    """Against a driver with real aborted-transaction semantics, the
    row-at-a-time fallback must still isolate exactly the poison rows
    — which requires a rollback after the failed batch AND after each
    failed per-row execute (round-3 ADVICE)."""
    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    state = str(tmp_path / "pg_state.txt")
    rows = (
        [(str(i), i) for i in range(10)]
        + [("BOOM", 1)]
        + [(str(i), i) for i in range(10, 20)]
        + [("BOOM", 2)]
        + [(str(i), i) for i in range(20, 25)]
    )
    df = spark.createDataFrame(
        rows, "paper_id string, score int"
    ).coalesce(1)
    stats = jdbc_upsert(
        df, "papers", "paper_id", _aborting_pg_factory(state),
        batch_size=100,
    )
    assert stats["attempted"] == 27
    assert stats["inserted"] == 25
    assert stats["failed"] == 2
    stored = {ln.strip() for ln in open(state) if ln.strip()}
    assert stored == {str(i) for i in range(25)}


def test_merge_parquet_warns_on_shuffled_changes_without_seq(
    spark, tmp_path
):
    """Row-order 'last wins' is undefined after a shuffle/union; the
    merge must tell the caller to pass seq_col instead of silently
    picking an arbitrary survivor."""
    import warnings

    from citeconnect_datapipeline_spark.sinks.upsert import merge_parquet

    target = str(tmp_path / "t")
    a = spark.createDataFrame(
        [("k1", 1, "upsert")], "paper_id string, score int, _op string"
    )
    b = spark.createDataFrame(
        [("k1", 2, "upsert")], "paper_id string, score int, _op string"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        merge_parquet(spark, a.unionByName(b), target, "paper_id")
    assert any("seq_col" in str(x.message) for x in w)

    # with seq_col given: no warning, deterministic survivor
    c = a.selectExpr("paper_id", "score", "_op", "1 AS seq").unionByName(
        b.selectExpr("paper_id", "score", "_op", "2 AS seq")
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        merge_parquet(spark, c, target, "paper_id", seq_col="seq")
    assert not any("seq_col" in str(x.message) for x in w)
    out = spark.read.parquet(target).collect()
    assert [(r.paper_id, r.score) for r in out] == [("k1", 2)]


# ---------------------------------------------------------------------
# K7/K8 report sinks
# ---------------------------------------------------------------------


def test_plot_slices_svg_default(spark, tmp_path):
    """K7: a small aggregate renders to a standalone SVG with one bar
    per row, atomically written."""
    from citeconnect_datapipeline_spark.sinks.report import plot_slices

    agg = spark.createDataFrame(
        [("ml", 0.82), ("bio", 0.44), ("cs", 0.91)],
        "domain string, mean_score double",
    )
    path = str(tmp_path / "plots" / "slices.svg")
    out = plot_slices(agg, path, x="domain", y="mean_score", title="slices")
    svg = open(out).read()
    assert svg.startswith("<svg") and svg.endswith("</svg>")
    assert svg.count("<rect") == 3
    for label in ("ml", "bio", "cs"):
        assert label in svg
    assert not os.path.exists(path + ".tmp")
    # deterministic: same input, same bytes
    assert open(plot_slices(agg, path, x="domain", y="mean_score",
                            title="slices")).read() == svg


def test_plot_slices_injected_renderer_and_guard(spark, tmp_path):
    """The renderer seam takes a matplotlib-style callable returning
    bytes; table-sized input is refused."""
    from citeconnect_datapipeline_spark.sinks.report import plot_slices

    agg = spark.createDataFrame([("a", 1.0)], "k string, v double")
    calls = []

    def fake_png(rows, x, y, title):
        calls.append((rows, x, y, title))
        return b"\x89PNG-fake"

    path = str(tmp_path / "p.png")
    plot_slices(agg, path, x="k", y="v", renderer=fake_png)
    assert open(path, "rb").read() == b"\x89PNG-fake"
    assert calls[0][0] == [{"k": "a", "v": 1.0}]

    with pytest.raises(ValueError, match="exceeds 3 rows"):
        plot_slices(
            spark.range(10).selectExpr("cast(id as string) k", "id v"),
            path, x="k", y="v", max_rows=3,
        )


def test_alert_email_through_injected_smtp(spark):
    """K8: HTML alert with severity-sorted rows and an inline image,
    sent through an injected SMTP double — recipients, body table,
    and cid attachment all observable."""
    from citeconnect_datapipeline_spark.sinks.report import alert_email

    sent = []

    class FakeSMTP:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def sendmail(self, sender, to, body):
            sent.append((sender, to, body))

    stats = spark.createDataFrame(
        [("row_count_drop", 0.4), ("null_spike", 0.9)],
        "anomaly string, severity double",
    )
    out = alert_email(
        stats,
        subject="lake anomalies",
        sender="pipeline@example.invalid",
        recipients=["oncall@example.invalid"],
        smtp_factory=FakeSMTP,
        severity_col="severity",
        inline_images={"plot1": b"\x89PNG-fake"},
    )
    assert out["n_rows"] == 2
    sender, to, body = sent[0]
    assert to == ["oncall@example.invalid"]
    assert "lake anomalies" in body
    # severity sort: null_spike (0.9) before row_count_drop (0.4)
    assert body.index("null_spike") < body.index("row_count_drop")
    assert 'src="cid:plot1"' in body
    assert "Content-ID: <plot1>" in body


def test_model_artifacts_roundtrip(spark, tmp_path):
    """BPE merge tables and classifier weight vectors must round-trip
    through their parquet artifacts bit-for-bit, and the loaded forms
    must be directly consumable by the apply-side functions."""
    from citeconnect_datapipeline_spark.operators.classifier import (
        N_BUCKETS,
        score_with_weights,
    )
    from citeconnect_datapipeline_spark.operators.tokenizer import (
        encode_word_vocab,
        train_bpe_merges,
    )
    from citeconnect_datapipeline_spark.sinks.models import (
        load_bpe_merges,
        load_classifier_weights,
        save_bpe_merges,
        save_classifier_weights,
    )

    docs = spark.createDataFrame(
        [(1, "aa ab aa ab ba"), (2, "aa aa ab ab bb")],
        "doc_id long, text string",
    )
    merges = train_bpe_merges(docs, n_merges=3)
    save_bpe_merges(spark, merges, str(tmp_path / "merges"))
    loaded = load_bpe_merges(spark, str(tmp_path / "merges"))
    assert loaded == merges
    enc = encode_word_vocab(docs, loaded)
    assert enc.count() > 0

    weights = [0.001 * i for i in range(N_BUCKETS + 1)]
    save_classifier_weights(spark, weights, str(tmp_path / "w"))
    lw = load_classifier_weights(spark, str(tmp_path / "w"))
    assert lw == weights
    from citeconnect_datapipeline_spark.operators.classifier import (
        _bucket_features,
    )

    scored = score_with_weights(_bucket_features(docs), lw)
    assert scored.count() == 2


def test_jsonl_ingest_quarantines_malformed_lines(spark, tmp_path):
    """JSONL source: valid lines land typed, malformed lines become
    quarantine ROWS (never task failures), and the zone ingest writes
    both sides."""
    import gzip
    import json as _json

    from citeconnect_datapipeline_spark.sources.jsonl import (
        ingest_jsonl_to_zone,
        read_jsonl,
    )

    shard = tmp_path / "shard0.jsonl"
    lines = [
        _json.dumps({"doc_id": 1, "text": "hello world", "lang": "en",
                     "source": "s0", "n_chars": 11}),
        '{"doc_id": 2, "text": "truncated...',  # malformed JSON
        _json.dumps({"doc_id": 3, "text": "ok", "lang": "de",
                     "source": "s1", "n_chars": 2}),
        "not json at all",
    ]
    shard.write_text("\n".join(lines))
    # a gzip shard alongside: codec from extension
    with gzip.open(tmp_path / "shard1.jsonl.gz", "wt") as fh:
        fh.write(_json.dumps({"doc_id": 4, "text": "gz", "lang": "en",
                              "source": "s0", "n_chars": 2}))

    valid, quarantine = read_jsonl(spark, str(tmp_path / "shard*"))
    got = {r["doc_id"] for r in valid.collect()}
    assert got == {1, 3, 4}
    assert dict(valid.dtypes)["doc_id"] == "bigint"
    bad = quarantine.collect()
    assert len(bad) == 2
    assert all(r["raw_record"] and r["src_file"] for r in bad)

    out = ingest_jsonl_to_zone(
        spark, str(tmp_path / "shard*"), str(tmp_path / "zone"), "r1"
    )
    assert out == {"n_valid": 3, "n_quarantined": 2}
    back = spark.read.parquet(str(tmp_path / "zone" / "run_id=r1"))
    assert back.count() == 3


def test_jsonl_quarantine_does_not_poison_zone_reads(spark, tmp_path):
    """Regression (r4 ADVICE, high): quarantine parquet used to land
    INSIDE the zone root, so the first malformed line made every
    subsequent read_zone/read_latest_run fail partition discovery
    with CONFLICTING_DIRECTORY_STRUCTURES. Quarantine now lives in
    the sibling <zone>_quarantine tree; the zone readers must work
    on a zone that HAS quarantined rows."""
    import json as _json

    from citeconnect_datapipeline_spark.sinks.zones import (
        read_latest_run,
        read_zone,
    )
    from citeconnect_datapipeline_spark.sources.jsonl import (
        ingest_jsonl_to_zone,
        quarantine_path,
    )

    shard = tmp_path / "shard0.jsonl"
    shard.write_text(
        "\n".join(
            [
                _json.dumps({"doc_id": 1, "text": "a", "lang": "en",
                             "source": "s0", "n_chars": 1}),
                "BROKEN {not json",
            ]
        )
    )
    zone = str(tmp_path / "zone")
    out = ingest_jsonl_to_zone(spark, str(shard), zone, "r1")
    assert out == {"n_valid": 1, "n_quarantined": 1}

    # the whole-zone and latest-run readers must both survive
    assert read_zone(spark, zone).count() == 1
    assert read_latest_run(spark, zone).count() == 1

    # quarantine rows are still fully addressable, run-partitioned
    q = spark.read.parquet(
        str(tmp_path / "zone_quarantine" / "run_id=r1")
    )
    assert q.count() == 1
    assert quarantine_path(zone) == zone + "_quarantine"

    # a second ingest into the same zone keeps both trees disjoint
    out2 = ingest_jsonl_to_zone(spark, str(shard), zone, "r2")
    assert out2["n_quarantined"] == 1
    assert read_zone(spark, zone).count() == 2


def test_plot_chart_pie_grouped_heatmap_line(spark, tmp_path):
    """K7 chart breadth (r9 verdict #7): each dashboard chart kind
    renders a deterministic standalone SVG with the shape the
    reference's dashboard draws — pie slices with 1-dp percent
    legend, grouped bars with a legend swatch per group, annotated
    heatmap cells on a yellow-to-red ramp, a trend polyline."""
    from citeconnect_datapipeline_spark.sinks.report import plot_chart

    # pie: share-of-total with percent labels
    pie = spark.createDataFrame(
        [("arxiv_html", 60.0), ("grobid", 25.0), ("abstract", 15.0)],
        "method string, n double",
    )
    svg = open(
        plot_chart(pie, str(tmp_path / "pie.svg"), "pie",
                   label="method", value="n", title="methods")
    ).read()
    assert svg.startswith("<svg") and svg.endswith("</svg>")
    assert svg.count("<path") == 3
    assert "arxiv_html 60.0%" in svg and "abstract 15.0%" in svg

    # single-slice pie degenerates to a full circle, not a zero arc
    one = spark.createDataFrame([("only", 5.0)], "method string, n double")
    svg1 = open(
        plot_chart(one, str(tmp_path / "pie1.svg"), "pie",
                   label="method", value="n")
    ).read()
    assert "<circle" in svg1 and "only 100.0%" in svg1

    # grouped bars: one rect per (category, group) + legend swatches
    gb = spark.createDataFrame(
        [("ml", "before", 0.8), ("ml", "after", 0.5),
         ("bio", "before", 0.6), ("bio", "after", 0.4)],
        "domain string, phase string, disparity double",
    )
    svg = open(
        plot_chart(gb, str(tmp_path / "gb.svg"), "grouped_bar",
                   x="domain", group="phase", y="disparity")
    ).read()
    assert svg.count("<rect") == 4 + 2  # 4 bars + 2 legend swatches
    assert "before" in svg and "after" in svg

    # heatmap: annotated cells, missing combos drawn neutral
    hm = spark.createDataFrame(
        [("nlp", "cs", 41.5), ("nlp", "bio", 12.0), ("vision", "cs", 30.0)],
        "subdomain string, domain string, mean_citations double",
    )
    svg = open(
        plot_chart(hm, str(tmp_path / "hm.svg"), "heatmap",
                   row_key="subdomain", col_key="domain",
                   value="mean_citations")
    ).read()
    assert "41.5" in svg and "12.0" in svg and "30.0" in svg
    assert svg.count("#eeeeee") == 1  # the absent (vision, bio) cell
    assert "#bd0026" in svg  # max cell saturates the ramp endpoint

    # line: one polyline + a point per row, ordered input preserved
    ln = spark.createDataFrame(
        [("r1", 3.2), ("r2", 2.8), ("r3", 3.9)],
        "run string, disparity_ratio double",
    )
    svg = open(
        plot_chart(ln, str(tmp_path / "ln.svg"), "line",
                   x="run", y="disparity_ratio")
    ).read()
    assert svg.count("<polyline") == 1 and svg.count("<circle") == 3
    assert "r1" in svg and "r3" in svg

    # unknown kind fails fast with the inventory
    with pytest.raises(ValueError, match="unknown chart kind"):
        plot_chart(ln, str(tmp_path / "x.svg"), "sparkline", x="run", y="d")


def test_plot_chart_escapes_markup_in_labels(spark, tmp_path):
    """Category values like 'R&D' or '<ops>' must yield well-formed
    XML in every renderer (round-10 review #7) and a many-category
    pie must grow its canvas instead of clipping the legend (#8)."""
    import xml.etree.ElementTree as ET

    from citeconnect_datapipeline_spark.sinks.report import plot_chart

    hazard = spark.createDataFrame(
        [("R&D", 3.0), ("<ops>", 1.0)], "dept string, n double"
    )
    for kind, spec in (
        ("pie", dict(label="dept", value="n")),
        ("bar", dict(x="dept", y="n")),
        ("line", dict(x="dept", y="n")),
    ):
        svg = open(
            plot_chart(hazard, str(tmp_path / f"{kind}.svg"), kind,
                       title="R&D <review>", **spec)
        ).read()
        ET.fromstring(svg)  # well-formed XML or this raises
        assert "R&amp;D" in svg

    gb = spark.createDataFrame(
        [("R&D", "a<b", 1.0)], "dept string, phase string, v double"
    )
    ET.fromstring(open(
        plot_chart(gb, str(tmp_path / "gb2.svg"), "grouped_bar",
                   x="dept", group="phase", y="v")
    ).read())
    hm = spark.createDataFrame(
        [("R&D", "a<b", 1.0)], "r string, c string, v double"
    )
    ET.fromstring(open(
        plot_chart(hm, str(tmp_path / "hm2.svg"), "heatmap",
                   row_key="r", col_key="c", value="v")
    ).read())

    # 25-category pie: every legend label inside the viewport
    many = spark.createDataFrame(
        [(f"cat{i:02d}", float(i + 1)) for i in range(25)],
        "k string, n double",
    )
    svg = open(
        plot_chart(many, str(tmp_path / "many.svg"), "pie",
                   label="k", value="n")
    ).read()
    root = ET.fromstring(svg)
    height = int(root.get("height"))
    assert height >= 30 + 25 * 18
    assert "cat24" in svg


def test_box_violin_aggregate_and_chart(spark, tmp_path):
    """K7 parity (r10 verdict #5): the citation-analysis box/violin
    panel. The distributed aggregate yields exact quartiles and a
    density histogram per category; the renderer draws a mirrored
    violin polygon with the box/median on top."""
    import xml.etree.ElementTree as ET

    from citeconnect_datapipeline_spark.sinks.report import (
        box_violin_aggregate,
        plot_chart,
    )

    # category 'a': 0..100 uniform; 'b': bimodal at 10 and 90
    rows = [("a", float(v)) for v in range(101)]
    rows += [("b", 10.0)] * 30 + [("b", 90.0)] * 30
    df = spark.createDataFrame(rows, "subdomain string, cites double")
    agg = box_violin_aggregate(df, "subdomain", "cites", bins=10)
    got = {r["subdomain"]: r for r in agg.collect()}
    a = got["a"]
    assert (a["lo"], a["med"], a["hi"]) == (0.0, 50.0, 100.0)
    assert a["q1"] == 25.0 and a["q3"] == 75.0
    assert sum(a["density"]) == 101 and len(a["density"]) == 10
    b = got["b"]
    # bimodal: mass only in the bins containing 10 and 90
    assert sum(1 for d in b["density"] if d > 0) == 2
    assert sum(b["density"]) == 60

    path = plot_chart(
        agg, str(tmp_path / "bv.svg"), "box_violin",
        x="subdomain", title="Citation Density by Subdomain",
    )
    svg = open(path).read()
    root = ET.fromstring(svg)  # well-formed XML
    assert svg.count("<polygon") == 2  # one violin per category
    assert svg.count("<rect") == 2  # one IQR box per category
    assert "Citation Density by Subdomain" in svg


def test_box_violin_top_k_prunes_categories(spark, tmp_path):
    from citeconnect_datapipeline_spark.sinks.report import (
        box_violin_aggregate,
    )

    rows = [(f"c{i}", float(j)) for i in range(6) for j in range(10 - i)]
    df = spark.createDataFrame(rows, "k string, v double")
    agg = box_violin_aggregate(df, "k", "v", bins=4, top_k=3).collect()
    # top-3 by count, biggest first (reference keeps top-10, :96-99)
    assert [r["k"] for r in agg] == ["c0", "c1", "c2"]


def test_disparity_history_chart(spark, tmp_path):
    """The two-panel disparity-trend figure
    (visualization_generator.py:280-333): filled ratio trend on top,
    dual-series collection progress below."""
    import xml.etree.ElementTree as ET

    from citeconnect_datapipeline_spark.sinks.report import plot_chart

    hist = spark.createDataFrame(
        [("r1", 3.2, 100, 7), ("r2", 2.4, 250, 5), ("r3", 1.9, 420, 3)],
        "run_ts string, disparity_ratio double, total_papers long, "
        "underrep_subdomains long",
    )
    path = plot_chart(
        hist, str(tmp_path / "dh.svg"), "disparity_history",
    )
    svg = open(path).read()
    ET.fromstring(svg)
    # 1 filled polygon + 3 polylines (ratio, total, underrep)
    assert svg.count("<polygon") == 1 and svg.count("<polyline") == 3
    assert "Collection Progress Over Time" in svg
    assert "r1" in svg and "r3" in svg  # run ticks


def test_mitigation_effectiveness_card():
    """Success renders the monospace summary card; anything else is a
    skip (None), matching the reference's early returns (:349-356)."""
    import xml.etree.ElementTree as ET

    from citeconnect_datapipeline_spark.sinks.report import (
        mitigation_effectiveness_svg,
    )

    report = {
        "status": "success",
        "papers_collected": 1234,
        "search_terms_used": ["graph neural networks", "mech interp"],
    }
    svg = mitigation_effectiveness_svg(report)
    ET.fromstring(svg)
    assert "Papers Collected: 1234" in svg
    assert "Subdomains Targeted: 2" in svg
    assert "graph neural networks" in svg
    assert mitigation_effectiveness_svg({"status": "failed"}) is None
    assert mitigation_effectiveness_svg({}) is None
