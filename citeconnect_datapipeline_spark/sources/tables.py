"""Parquet lake sources.

The reference reads its "zones" (raw_v2/, processed_v2/) by listing a
GCS prefix and concatenating every parquet file into one pandas frame
(reference: utils/gcs_reader.py:64-171). In Spark that whole pattern
is a single ``spark.read.parquet(prefix)`` -- the multi-file concat is
an implicit union, prefix scoping is partition/path pruning, and
column pruning + predicate pushdown reach the scan via Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tables the driver materializes per scale factor (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should broadcast in joins even at 100 TB
# fact-table scale (region=5 rows, nation=25 rows at every SF).
BROADCAST_DIMS = frozenset({"region", "nation"})


def _ensure_session_defaults(spark: SparkSession) -> None:
    """Pin the semantics-critical runtime confs on whatever session we
    were handed. The engine's own factory (session.py) sets these at
    build time, but the driver contract passes us an EXTERNAL
    SparkSession — without nanosAsLong every events-table read throws
    PARQUET_TYPE_ILLEGAL, and a non-UTC session timezone shifts
    to_date/date_format outputs away from the timezone-naive oracle.
    Idempotent and cheap; only the runtime-settable subset lives here.
    """
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            if spark.conf.get(key, None) != val:
                spark.conf.set(key, val)
        except Exception:
            pass  # conf not recognized in a future version: reads
            # will surface the real error with full context


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one lake table. Plain parquet read: schema comes from the
    footer, filters/projections push down (reference's hand-built
    prefix scan + concat, gcs_reader.py:127-171, is implicit here).

    Nanosecond timestamps (events.ts) arrive as raw INT64 nanos under
    ``spark.sql.legacy.parquet.nanosAsLong`` and are normalized to
    microsecond TimestampType here -- a cheap codegen'd projection that
    keeps every downstream query in native timestamp semantics.
    """
    _ensure_session_defaults(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        meta_type = str(field.dataType)
        if field.name == "ts" and meta_type == "LongType()":
            # Integer `div`, NOT `/`: float division of int64 nanos
            # (~1.7e18) exceeds double's 53-bit mantissa and drifts
            # the result by up to ~128 ns — observed as ±1 µs vs
            # engines that truncate exactly.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif meta_type == "TimestampNTZType()":
            # Lakes that write parquet timestamp[us] WITHOUT a UTC
            # adjustment flag surface as TIMESTAMP_NTZ (events.ts,
            # orders.o_orderdate, lineitem.l_shipdate on the current
            # lake), which rejects instant-based ops (unix_micros,
            # withWatermark). The session TZ is pinned UTC above, so
            # casting to the instant type is value-preserving: same
            # wall-clock micros, now watermark/epoch-capable.
            # (Reference analogue: defensive dtype normalization on
            # every read, utils/gcs_reader.py:127-171.)
            df = df.withColumn(
                field.name, F.col(field.name).cast("timestamp")
            )
    return df


def table_version(path: str) -> tuple:
    """Version stamp of a lake table on the local filesystem: the
    sorted ``(relative path, size, mtime_ns)`` of every file under
    ``path``, from one driver-side ``os.walk`` (no Spark job). Spark
    names each written part file with a fresh job UUID, so a rewrite
    into the same directory always changes the stamp. A missing or
    non-local path stamps as ``()``, which callers treat as "unknown"
    and never cache against."""
    out = []
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            out.append(
                (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
            )
    return tuple(sorted(out))


def spread_small_source(df: DataFrame, *cols: str) -> DataFrame:
    """Fan a COMPACT source out to full parallelism — only when it is
    actually under-partitioned. Heavy per-row work (interpreted HOF
    lambdas, levenshtein DPs, Python tier fetches) over a
    few-files-at-small-SF scan would otherwise run on a handful of
    tasks. At 100 TB the same scan already yields thousands of
    partitions and an unconditional repartition would be a full
    shuffle of raw text for nothing — so this no-ops there. Optional
    ``cols`` hash-keys the spread (for a downstream keyed consumer).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if cols:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df.repartition(target)


def literal_grid(
    spark: SparkSession, name: str, values, dtype: str
) -> DataFrame:
    """One-column constant frame as a pure-JVM ``VALUES`` local
    relation. ``createDataFrame`` over a Python list plans a
    ``Scan ExistingRDD`` whose execution spins a Python worker stage
    and an extra Spark job just to ship a handful of numeric
    constants (guide §4.1: keep data out of the Python boundary);
    a LocalRelation is materialized driver-side — broadcasting it
    schedules no job at all. Values/column name/type are identical
    to the createDataFrame form it replaces."""
    values = list(values)
    if not values:  # VALUES () is a ParseException; keep the old
        # createDataFrame empty-frame contract (r12 ADVICE #2)
        return spark.createDataFrame([], f"{name} {dtype}")
    vals = ", ".join(
        f"(CAST({_sql_literal(v)} AS {dtype}))" for v in values
    )
    return spark.sql(
        f"SELECT {name} FROM (VALUES {vals}) AS t({name})"
    )


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        # Spark SQL string literals process backslash escapes by
        # default (escapedStringLiterals=false), so backslashes must
        # be doubled too, not just quotes (r12 ADVICE #1)
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr(nan/inf) are bare identifiers that fail analysis; a
        # diverged fit (NaN weights) must round-trip like
        # createDataFrame shipped it (r12 ADVICE #1)
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
    # repr of a float is the shortest string that round-trips to the
    # same double, and Spark parses plain decimal/exponent literals
    # to DOUBLE exactly — so CAST(repr AS DOUBLE) is bit-identical
    # to the Python value createDataFrame would ship.
    return repr(v)


def literal_frame(spark: SparkSession, schema: str, rows) -> DataFrame:
    """Multi-column companion of `literal_grid`: a small collected
    model table (centroids, codebooks, fitted weights) re-injected
    as a pure-JVM ``VALUES`` local relation instead of
    ``createDataFrame`` — whose local-Python path plans a
    ``Scan ExistingRDD`` that spins a Python worker stage and an
    extra Spark job PER re-injection (once per training round in the
    iterative fits). ``schema`` is the same "name type, ..." string
    createDataFrame took; values/names/types are identical."""
    rows = list(rows)
    if not rows:  # VALUES () is a ParseException; keep the old
        # createDataFrame empty-frame contract (r12 ADVICE #2)
        return spark.createDataFrame([], schema)
    # Parse with the real datatype parser: split(',')/rsplit(' ')
    # breaks on parameterized/nested types — decimal(10,2),
    # array<struct<...>> (r12 ADVICE #3)
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    cols = [(f.name, f.dataType.simpleString()) for f in struct.fields]
    names = ", ".join(n for n, _ in cols)
    vals = ", ".join(
        "("
        + ", ".join(
            f"CAST({_sql_literal(v)} AS {t})"
            for (_, t), v in zip(cols, row)
        )
        + ")"
        for row in rows
    )
    return spark.sql(
        f"SELECT {names} FROM (VALUES {vals}) AS t({names})"
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several tables and register each as a temp view so queries
    can be expressed in either DataFrame or SQL form."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
