"""Keyed upsert sinks (SURVEY.md K3, D2/D3).

The reference upserts row-by-row into Postgres with ``INSERT ... ON
CONFLICT (paper_id) DO NOTHING`` in batches of 100, after three dedup
levels: in-frame drop_duplicates, anti-join against existing DB ids,
and the constraint itself (reference: src/DataPipeline/Processing/
upload_papers_to_supabase.py:228-372, DEDUPLICATION_EXPLAINED.md).

Two Spark-native forms:

* ``upsert_parquet`` — lake-side insert-if-absent: dedup + anti-join
  on the key, then only the inserted rows are written. All three
  reference dedup levels collapse into two distributed ops, and, like
  ``ON CONFLICT DO NOTHING``, an existing row is never touched: into a
  table directory the new rows are APPENDED as new part files behind a
  commit marker (see ``upsert_parquet`` for the protocol); a
  single-file or absent table is written whole and swapped in once,
  after which it is a directory and later batches append.
* ``foreach_partition_upsert`` — push-side merge for an external
  store (JDBC/Postgres): each partition opens one connection, sends
  ``executemany`` batches; the writer is injected so tests (and this
  container, which has no Postgres) use an in-memory double while
  production passes a psycopg/JDBC wrapper.

The streaming variant (foreachBatch MERGE) lives in
``streaming.jobs``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def dedup_keep_first(
    df: DataFrame, key: str, order_cols: tuple[str, ...]
) -> DataFrame:
    """Deterministic "keep first" (D1/D2): the reference's
    ``drop_duplicates(keep='first')`` relies on pandas row order, which
    Spark doesn't have — so "first" is DEFINED by an explicit tiebreak
    ordering (SURVEY.md §7.4). One shuffle on the key."""
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    target_path: str,
    key: str,
    order_cols: tuple[str, ...] = (),
) -> int:
    """Insert-if-absent merge into a parquet table
    (``INSERT ... ON CONFLICT (key) DO NOTHING``). Returns the number
    of rows actually inserted.

    new-dedup (keep-first) -> anti-join vs existing keys (only the KEY
    column of the target is scanned for the join — column pruning) ->
    write ONLY the rows to insert. The count comes from an
    ``Observation`` on that write, not from a separate job.

    * Target is a directory: the rows are conformed to the target's
      columns (its order, cast to its types; a batch whose column set
      differs raises ``ValueError``, so appended files never give the
      table a second schema) and APPENDED. They are written to a
      hidden ``<target>/_staging-<uuid>/`` (Spark, pyarrow and a
      ``*.parquet`` glob all skip it). With 0 rows observed the
      staging directory is deleted and nothing in the target changes.
      Otherwise a ``_COMMIT`` marker is written into it [COMMIT
      POINT], its part files are renamed into the target, and it is
      removed. Existing files are never rewritten or touched.
    * Target is a single file (the lake's layout), a partitioned
      directory, or absent: the whole table is written and swapped in
      (``_swap_in``); it comes back as a flat directory, so later
      batches append.

    ``_recover_swap`` runs first and finishes or undoes a cut commit.
    It assumes ONE writer per table: a concurrent upsert's staging
    directory would be taken for a crashed one. Each non-empty batch
    adds about one part file (AQE coalesces the small insert set to
    few partitions); many small batches want a periodic compaction,
    the ``compact_zone`` rewrite.

    Scale shape: the anti-join shuffles on the key (or broadcasts when
    the new side is small — AQE picks); the write is proportional to
    the batch, not the table.
    """
    _recover_swap(target_path)
    fresh = (
        dedup_keep_first(new_rows, key, order_cols)
        if order_cols
        else new_rows.dropDuplicates([key])
    )
    # a flat table directory is appended to; a partitioned one (its
    # ``col=value`` subdirectories) is rewritten flat, as a file is
    append = os.path.isdir(target_path) and not any(
        "=" in name for name in os.listdir(target_path)
    )
    if not os.path.exists(target_path):
        existing = None
        to_insert = fresh
    else:
        existing = spark.read.parquet(target_path)
        to_insert = fresh.join(existing.select(key), key, "left_anti")
        if append:
            to_insert = _conform(to_insert, existing.schema)
    obs = Observation(f"upsert_parquet:{target_path}")
    to_insert = to_insert.observe(obs, F.count(F.lit(1)).alias("n"))
    if append:
        return _append_committed(to_insert, obs, target_path)
    merged = to_insert if existing is None else existing.unionByName(to_insert)
    _swap_in(merged, target_path)
    return obs.get["n"]


def _conform(df: DataFrame, schema) -> DataFrame:
    """``df`` as rows of a table with ``schema``: its columns in the
    table's order, cast to the table's types. A differing column set
    raises, as ``unionByName`` would."""
    if set(df.columns) != set(schema.fieldNames()):
        raise ValueError(
            f"batch columns {sorted(df.columns)} differ from the "
            f"table's {sorted(schema.fieldNames())}"
        )
    return df.select([F.col(f.name).cast(f.dataType) for f in schema])


def _append_committed(df: DataFrame, obs, target_path: str) -> int:
    """Append ``df`` (observed by ``obs`` as ``n``) to the table
    directory ``target_path`` behind a ``_COMMIT`` marker; see
    ``upsert_parquet`` for the protocol. A failed write leaves the
    table as it was."""
    staging = os.path.join(target_path, f"_staging-{uuid.uuid4().hex}")
    try:
        df.write.parquet(staging)
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    n = obs.get["n"]
    if n:
        open(os.path.join(staging, "_COMMIT"), "w").close()
        _move_parts(staging, target_path)
    shutil.rmtree(staging)
    return n


def _move_parts(staging: str, target_path: str) -> None:
    """Rename the part files (and their ``.crc`` sidecars) of a
    committed staging directory into the table; Spark's ``_SUCCESS``
    and the marker stay behind."""
    for name in os.listdir(staging):
        if not name.startswith(("_", "._")):
            os.rename(
                os.path.join(staging, name), os.path.join(target_path, name)
            )


# A writer factory returns a callable that persists one batch of rows;
# it is created once per partition (= one "connection" per task).
WriterFactory = Callable[[], Callable[[list[tuple]], None]]


def foreach_partition_upsert(
    df: DataFrame,
    writer_factory: WriterFactory,
    batch_size: int = 100,
) -> None:
    """K3 push-side: per-partition batched writes to an external store.

    Mirrors the reference's batches-of-100 executemany loop
    (upload_papers_to_supabase.py:347-372) but with one connection per
    PARTITION instead of one for the whole dataset — N tasks write in
    parallel, each rate-bounded by its own batch loop. The writer owns
    conflict handling (ON CONFLICT DO NOTHING / MERGE) exactly as the
    reference's SQL does.
    """

    def write_partition(rows: Iterable) -> Iterator:
        write = writer_factory()
        batch: list[tuple] = []
        for row in rows:
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                write(batch)
                batch = []
        if batch:
            write(batch)
        return iter(())

    # foreachPartition is an action; rdd form keeps Arrow out of the
    # driver->executor path for plain tuples.
    df.rdd.foreachPartition(lambda it: list(write_partition(it)))


class TransientWriteError(Exception):
    """A retryable store-side failure (serialization conflict,
    connection blip, deadlock victim). Connection factories raise /
    wrap this to opt a failure into the batch retry loop; anything
    else is treated as a data error and isolated per row."""


def jdbc_upsert(
    df: DataFrame,
    table: str,
    key: str,
    connection_factory: Callable[[], Any],
    batch_size: int = 100,
    on_conflict: str = "nothing",
    max_retries: int = 3,
    retry_backoff_s: float = 0.1,
    exact_batch_rowcount: bool = True,
    paramstyle: str = "format",
) -> dict:
    """K3's real text path: per-partition batched
    ``INSERT ... ON CONFLICT (key) DO NOTHING | DO UPDATE`` through a
    DB-API connection — the reference's upload loop
    (upload_papers_to_supabase.py:228-276 builds the ON CONFLICT
    statement per paper, :347-372 drives batches of 100) restated
    with one connection per PARTITION and set-based executemany
    instead of a single asyncpg connection fed row by row.

    * ``connection_factory`` is injected (this container has no
      Postgres; tests pass an in-memory double, production passes a
      psycopg/JDBC wrapper). It runs once per partition ON THE
      EXECUTOR, so it must be picklable and must not close over a
      live connection.
    * Conflict accounting uses DB-API ``rowcount`` after an
      executemany: with DO NOTHING, rowcount = rows actually
      inserted, so skipped = batch - rowcount — the reference's
      'skipped' statistic without its per-row existing_ids set
      (which would be O(all ids) driver state at scale).
      DRIVER REQUIREMENT: this is exact only for drivers whose
      ``executemany`` reports the TOTAL affected rows (psycopg 3,
      most JDBC bridges). psycopg2's executemany reports only the
      last statement's rowcount; with such a driver pass
      ``exact_batch_rowcount=False`` and the batch path counts
      every batch row as inserted (per-row accounting stays exact
      in the fallback path either way).
    * Transactional hygiene: any failed statement leaves a real
      DB-API connection in an aborted-transaction state, so the
      fallback ROLLS BACK before isolating rows and after every
      failed per-row execute — without that, every subsequent
      execute on psycopg/Postgres fails with 'current transaction
      is aborted' and the whole batch is miscounted as failed.
    * A batch that raises ``TransientWriteError`` retries up to
      ``max_retries`` with linear backoff, then — like any other
      exception — falls back to row-at-a-time execution so one bad
      row costs one 'failed', not the batch
      (upload_papers_to_supabase.py:268-271's per-paper continue).

    Returns aggregate {attempted, inserted, skipped, failed,
    retried} across partitions — collected as one tiny stats row per
    task, never the data itself.
    """
    if on_conflict not in ("nothing", "update"):
        raise ValueError("on_conflict must be 'nothing' or 'update'")
    cols = list(df.columns)
    if key not in cols:
        raise ValueError(f"key column {key!r} not in DataFrame")
    # DB-API paramstyle of the TARGET driver: 'format' (%s — psycopg
    # and most Postgres bridges) or 'qmark' (? — sqlite3, DuckDB,
    # most JDBC drivers). The statement text is the only difference.
    try:
        marker = {"format": "%s", "qmark": "?"}[paramstyle]
    except KeyError:
        raise ValueError(
            "paramstyle must be 'format' or 'qmark'"
        ) from None
    placeholders = ", ".join([marker] * len(cols))
    if on_conflict == "nothing":
        conflict_clause = f"ON CONFLICT ({key}) DO NOTHING"
    else:
        sets = ", ".join(
            f"{c} = EXCLUDED.{c}" for c in cols if c != key
        )
        conflict_clause = f"ON CONFLICT ({key}) DO UPDATE SET {sets}"
    sql = (
        f"INSERT INTO {table} ({', '.join(cols)}) "
        f"VALUES ({placeholders}) {conflict_clause}"
    )

    def run_partition(rows: Iterable) -> Iterator[tuple]:
        import time as _time

        conn = connection_factory()
        cur = conn.cursor()
        attempted = inserted = skipped = failed = retried = 0

        def rollback() -> None:
            # A failed statement leaves the transaction aborted on
            # real drivers; reset before issuing anything else. Test
            # doubles without rollback() are tolerated.
            try:
                conn.rollback()
            except Exception:
                pass

        def flush(batch: list[tuple]) -> None:
            nonlocal inserted, skipped, failed, retried
            if not batch:
                return
            for attempt in range(max_retries + 1):
                try:
                    cur.executemany(sql, batch)
                    conn.commit()
                    if exact_batch_rowcount and cur.rowcount >= 0:
                        n = cur.rowcount
                    else:
                        n = len(batch)
                    inserted += n
                    skipped += len(batch) - n
                    return
                except TransientWriteError:
                    rollback()
                    if attempt == max_retries:
                        break  # exhausted: isolate rows below
                    retried += 1
                    _time.sleep(retry_backoff_s * (attempt + 1))
                except Exception:
                    rollback()
                    break  # data error somewhere in the batch
            # row-at-a-time fallback: one bad row = one 'failed'
            for row in batch:
                try:
                    cur.execute(sql, row)
                    conn.commit()
                    n = cur.rowcount if cur.rowcount >= 0 else 1
                    inserted += n
                    skipped += 1 - n
                except Exception:
                    rollback()
                    failed += 1

        batch: list[tuple] = []
        for row in rows:
            attempted += 1
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                flush(batch)
                batch = []
        flush(batch)
        try:
            conn.close()
        except Exception:
            pass
        yield (attempted, inserted, skipped, failed, retried)

    totals = df.rdd.mapPartitions(run_partition).collect()
    keys = ("attempted", "inserted", "skipped", "failed", "retried")
    return {
        k: sum(t[i] for t in totals) for i, k in enumerate(keys)
    }


def _remove_table(path: str) -> None:
    """Delete a parquet table: a Spark-written directory or a single
    parquet file (the layout of a table written by other tools)."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def _swap_in(merged: DataFrame, target_path: str) -> None:
    """Write ``merged`` to a staging dir and swap it in: (1) rename
    target -> target.old, (2) rename staging -> target  [COMMIT
    POINT], (3) remove target.old. A file target comes back as a
    directory."""
    staging = f"{target_path}.staging"
    merged.write.mode("overwrite").parquet(staging)
    if os.path.exists(target_path):
        old = f"{target_path}.old"
        os.rename(target_path, old)
        os.rename(staging, target_path)
        _remove_table(old)
    else:
        os.rename(staging, target_path)


def _recover_swap(target_path: str) -> None:
    """Roll a write cut between its steps to a consistent state.

    A swap (``_swap_in``) cut between (1) and (2) leaves only
    target.old -> roll BACK (the merge never committed; restore the
    original). One cut between (2) and (3) leaves both -> roll
    FORWARD (drop the old copy). Stale staging dirs are removed
    either way.

    An append (``_append_committed``) cut before its ``_COMMIT``
    marker leaves a ``_staging-*`` directory without it -> deleted,
    the old version stands. One cut after the marker -> roll FORWARD:
    the part files still in it are moved into the table."""
    old = f"{target_path}.old"
    staging = f"{target_path}.staging"
    if os.path.exists(old):
        if os.path.exists(target_path):
            _remove_table(old)  # crashed after commit point
        else:
            os.rename(old, target_path)  # crashed before commit point
    if os.path.exists(staging):
        _remove_table(staging)
    if os.path.isdir(target_path):
        for name in os.listdir(target_path):
            if name.startswith("_staging-"):
                append = os.path.join(target_path, name)
                if os.path.exists(os.path.join(append, "_COMMIT")):
                    _move_parts(append, target_path)
                shutil.rmtree(append)


def merge_parquet(
    spark: SparkSession,
    changes: DataFrame,
    target_path: str,
    key: str,
    op_col: str = "_op",
    seq_col: str | None = None,
) -> dict:
    """Full CDC MERGE into a parquet table: ``changes`` carries an
    operation column (``upsert`` | ``delete``); matched upserts
    REPLACE the target row, unmatched upserts insert, deletes remove.
    The SQL equivalent is ``MERGE ... WHEN MATCHED THEN UPDATE /
    WHEN MATCHED AND op='delete' THEN DELETE / WHEN NOT MATCHED THEN
    INSERT`` — the reference's DO-NOTHING conflict handling
    (upload_papers_to_supabase.py:261-265) can never propagate a
    correction or a retraction; this can.

    One full-outer-shaped pass, expressed as two anti/semi-style
    joins over the key (both shuffle on the same key, so AQE reuses
    the exchange), then an atomic directory swap. Returns
    {inserted, updated, deleted, unchanged}. With a Delta/Iceberg
    target the same classification feeds a row-level MERGE and the
    swap disappears.

    A batch may carry SEVERAL changes for one key (insert then
    correct, update then retract): only the LAST one wins, ordered by
    ``seq_col`` if given (a CDC LSN / event timestamp), else by the
    batch's own row order. ROW-ORDER CAVEAT: the fallback encodes row
    order with ``monotonically_increasing_id()``, i.e. (partition,
    offset) — faithful only for an order-preserving single-lineage
    input (a straight file/stream read). After a shuffle, union, or
    repartition the 'latest' change per key is arbitrary, so callers
    MUST pass ``seq_col`` for such inputs; the merge detects an
    exchange/union in the plan and warns when they don't. The swap is
    crash-recoverable: interrupted runs are rolled forward/back by
    ``_recover_swap`` before the merge reads the target (see its
    docstring for the protocol).
    """
    _recover_swap(target_path)
    if seq_col is None:
        plan = changes._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan or "Union" in plan:
            import warnings

            warnings.warn(
                "merge_parquet: `changes` has been shuffled/unioned "
                "and no seq_col was given — batch row order is not "
                "well-defined, so the surviving change per key is "
                "arbitrary. Pass seq_col (CDC LSN / event time).",
                stacklevel=2,
            )
    # Collapse to the latest change per key BEFORE classifying:
    # without this, two upserts for one key both union into the
    # target (duplicate key rows) and an upsert+delete pair applies
    # both intents at once.
    order = (
        F.col(seq_col)
        if seq_col
        else F.monotonically_increasing_id()
    )
    changes = (
        changes.withColumn("_seq", order)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.desc("_seq"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )
    if seq_col:
        # ordering metadata, like op_col — not part of the row payload
        changes = changes.drop(seq_col)
    ops = changes.select(key, op_col).distinct()
    upserts = changes.filter(F.col(op_col) == "upsert").drop(op_col)
    del_keys = changes.filter(F.col(op_col) == "delete").select(key)

    if os.path.exists(target_path):
        existing = spark.read.parquet(target_path)
        untouched = existing.join(
            ops.select(key), key, "left_anti"
        )
        updated = existing.select(key).join(upserts, key, "left_semi")
        n_updated = updated.count()
        n_deleted = (
            existing.select(key).join(del_keys, key, "left_semi").count()
        )
        merged = untouched.unionByName(upserts)
        n_unchanged = untouched.count()
        n_inserted = upserts.count() - n_updated
    else:
        merged = upserts
        n_inserted, n_updated, n_deleted, n_unchanged = (
            upserts.count(),
            0,
            0,
            0,
        )

    _swap_in(merged, target_path)
    return {
        "inserted": n_inserted,
        "updated": n_updated,
        "deleted": n_deleted,
        "unchanged": n_unchanged,
    }


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: tuple[str, ...],
    effective_ts: str,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: apply an update batch to a
    versioned dimension, RETAINING history. ``dim`` carries
    (key, attrs..., valid_from, valid_to) with ``valid_to IS NULL``
    marking current rows; ``updates`` carries (key, attrs...,
    effective_ts). For a changed key the current row is closed out
    (valid_to = effective_ts) and a new current version is appended;
    a brand-new key inserts an open row; an update identical to the
    current attributes is a no-op (no spurious versions). History
    rows pass through untouched.

    The reference keeps no history at all — every re-scrape
    overwrites its notion of a paper; SCD2 is what lets run-over-run
    analyses (W1, run_diff_full_outer) ask 'what did this look like
    THEN'. One shuffle on the key; pure transformation (returns the
    new dimension; pair with the atomic-swap writers to persist).
    """
    changed = F.coalesce(
        sum(
            [
                (~F.col(f"d.{a}").eqNullSafe(F.col(f"u.{a}"))).cast("int")
                for a in attrs
            ]
        )
        > 0,
        F.lit(True),  # no current row at all -> treat as changed
    )
    current = dim.filter(F.col("valid_to").isNull()).alias("d")
    hist = dim.filter(F.col("valid_to").isNotNull())
    u = updates.alias("u")

    joined = current.join(u, F.col(f"d.{key}") == F.col(f"u.{key}"), "full")
    # current rows: closed out if a differing update arrived, else kept
    kept_current = joined.filter(
        F.col(f"d.{key}").isNotNull()
        & (F.col(f"u.{key}").isNull() | ~changed)
    ).select("d.*")
    closed = joined.filter(
        F.col(f"d.{key}").isNotNull()
        & F.col(f"u.{key}").isNotNull()
        & changed
    ).select(
        *[F.col(f"d.{c}") for c in (key, *attrs, "valid_from")],
        F.col(f"u.{effective_ts}").alias("valid_to"),
    )
    opened = joined.filter(
        F.col(f"u.{key}").isNotNull()
        & (F.col(f"d.{key}").isNull() | changed)
    ).select(
        *[F.col(f"u.{c}") for c in (key, *attrs)],
        F.col(f"u.{effective_ts}").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    return hist.unionByName(kept_current).unionByName(closed).unionByName(
        opened
    )
