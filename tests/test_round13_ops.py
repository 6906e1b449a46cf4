"""Round-13 optimization equality pins.

Every rewrite this round must compute EXACTLY what the r12 form
computed (the driver hash-compares against the same DuckDB oracles).
These tests pin the two rewrites whose equality argument is not
already covered by an oracle hash or an existing parity test:

- the md5-SimHash Arrow kernel vs the r12 SQL chain, end-to-end on
  the real lake plus adversarial edge corpora;
- functions.rounding.spark_round and its vectorised form round6 vs
  F.round on doubles (the driver- and kernel-side rounding the
  pca/logreg/k-means/bootstrap fits rely on for their per-round
  engine re-synchronization).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from citeconnect_datapipeline_spark.functions.rounding import (
    round6,
    spark_round,
)
from citeconnect_datapipeline_spark.operators.dedup import (
    SIMHASH_PORTABLE_BITS,
    _portable_simhash,
)
from citeconnect_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="test-round13")


def _legacy_portable_simhash(spark, docs_df):
    """The r12 SQL chain, verbatim (shingle HOF + md5 + 32
    substring-compare vote sums) — the reference the kernel must
    reproduce bit-for-bit."""
    docs_df.createOrReplaceTempView("_sph_legacy_docs")
    sums = ",\n".join(
        f"SUM(IF(substring(h, {j + 1}, 1) >= '8', 1, -1)) AS b{j}"
        for j in range(SIMHASH_PORTABLE_BITS)
    )
    fp = " + ".join(
        f"CAST(IF(b{j} > 0, 1, 0) AS BIGINT) * {1 << j}"
        for j in range(SIMHASH_PORTABLE_BITS)
    )
    return spark.sql(f"""
        WITH words AS (
            SELECT doc_id, split(lower(text), '[^a-z0-9]+') AS w
            FROM _sph_legacy_docs
        ),
        sh AS (
            SELECT doc_id,
                   explode(array_distinct(filter(
                       transform(
                           sequence(1, greatest(size(w) - 2, 1)),
                           i -> concat_ws(' ', slice(w, i, 3))),
                       s -> s != ''))) AS s
            FROM words
        ),
        hashed AS (SELECT doc_id, md5(s) AS h FROM sh),
        votes AS (
            SELECT doc_id, COUNT(*) AS n_shingles, {sums}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
               {fp} AS simhash
        FROM votes
    """)


def _rows(df):
    return sorted(
        (r["doc_id"], r["n_shingles"], r["simhash"]) for r in df.collect()
    )


def test_simhash_kernel_matches_legacy_on_lake(spark):
    got = _rows(_portable_simhash(spark, SF_DIR))
    from citeconnect_datapipeline_spark.sources.tables import load_table

    want = _rows(
        _legacy_portable_simhash(spark, load_table(spark, SF_DIR, "documents"))
    )
    assert got == want and len(got) > 0


def test_simhash_kernel_matches_legacy_on_edge_corpus(spark, tmp_path):
    rows = [
        (0, ""),  # empty text -> no output row
        (1, "   "),  # separators only -> no output row
        (2, "one"),  # single word: shingle = the word itself
        (3, "two words"),
        (4, "exactly three words"),
        (5, "a b c d e f g h"),
        (6, "rep rep rep rep rep"),  # distinct collapses shingles
        (7, "Ünïcode Müst lower väl 123 mixed CASE text"),
        (8, "tab\tand\nnewline   spaced . , ; tokens"),
        (9, None),  # null text -> no output row
        (10, "x " * 500),  # long repetitive doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _rows(_portable_simhash_over(df))
    want = _rows(_legacy_portable_simhash(spark, df))
    assert got == want
    # sanity: truly-empty docs are absent (doc 1 = "   " is NOT
    # empty: split yields ['', ''] whose joined shingle is ' ' —
    # concat_ws keeps empty strings — and the kernel matches that),
    # null text is absent, a single-word doc is present
    ids = {r[0] for r in got}
    assert 0 not in ids and 9 not in ids and 1 in ids and 2 in ids


def _portable_simhash_over(df):
    """Run the kernel over an arbitrary documents frame (the
    registered helper reads from a sf_dir; tests feed edge frames)."""
    from citeconnect_datapipeline_spark.operators import dedup as d

    spark = df.sparkSession
    key_type = df.schema["doc_id"].dataType.simpleString()
    src = df.select(
        "doc_id",
        F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w"),
    )
    # reuse the registered kernel by monkey-free call: rebuild via the
    # module function with a temp view would re-read parquet, so we
    # inline the same generator through the module's public surface
    import hashlib

    import numpy as np
    import pyarrow as pa

    bits = d.SIMHASH_PORTABLE_BITS

    def gen(batches):
        shifts = np.arange(bits, dtype=np.uint64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids_out, ns_out, fp_out = [], [], []
            for did, w in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                if w is None:
                    continue
                top = max(len(w) - 2, 1)
                sh = {" ".join(w[i : i + 3]) for i in range(top)}
                sh.discard("")
                if not sh:
                    continue
                dig = np.frombuffer(
                    b"".join(
                        hashlib.md5(s.encode("utf-8")).digest() for s in sh
                    ),
                    dtype=np.uint8,
                ).reshape(len(sh), 16)
                nib = np.empty((len(sh), 32), dtype=np.uint8)
                nib[:, 0::2] = dig >> 4
                nib[:, 1::2] = dig & 15
                votes = ((nib >> 3) & 1).sum(axis=0, dtype=np.int64)
                fp = int(
                    ((votes * 2 > len(sh)).astype(np.uint64) << shifts).sum()
                )
                ids_out.append(did)
                ns_out.append(len(sh))
                fp_out.append(fp)
            if ids_out:
                yield pa.record_batch(
                    [
                        pa.array(ids_out),
                        pa.array(ns_out, type=pa.int64()),
                        pa.array(
                            np.array(fp_out, dtype=np.uint64).view(np.int64)
                        ),
                    ],
                    names=["doc_id", "n_shingles", "simhash"],
                )

    return src.mapInArrow(
        gen, f"doc_id {key_type}, n_shingles long, simhash long"
    )


def test_edge_kernel_is_the_shipped_kernel():
    """The inline test kernel above must stay byte-equal in behavior
    to the shipped one; pin the shipped source so silent drift in
    either copy fails loudly."""
    import inspect

    from citeconnect_datapipeline_spark.operators import dedup as d

    src = inspect.getsource(d._portable_simhash)
    for fragment in (
        'sh = {\n                    " ".join(w[i : i + 3]) for i in range(top)',
        "nib[:, 0::2] = dig >> 4",
        "votes * 2 > len(sh)",
        'F.split(F.lower(F.col("text")), "[^a-z0-9]+")',
    ):
        assert fragment in src, fragment


@pytest.mark.parametrize(
    "val",
    [
        0.0,
        -0.0,
        1e-7,
        -1e-7,
        0.0000005,
        -0.0000005,
        0.1234565,
        0.12345649999,
        0.1234575,
        -0.1234565,
        123456.789,
        1.0 / 3.0,
        2.0 / 3.0,
        -2.0 / 3.0,
        1e15 + 0.1234567,
        5.9604644775390625e-08,
        float("nan"),
        float("inf"),
        float("-inf"),
    ],
)
def test_spark_round_parity_fixed(spark, val):
    got = spark_round(val)
    want = spark.range(1).select(
        F.round(F.lit(float(val)), 6).alias("r")
    ).first()["r"]
    if val != val:
        assert got != got and want != want
    else:
        assert got == want, (val, got, want)


def test_spark_round_parity_random(spark):
    import random

    rng = random.Random(13)
    vals = [rng.uniform(-1, 1) for _ in range(400)]
    vals += [rng.uniform(-1e6, 1e6) for _ in range(200)]
    vals += [rng.uniform(-1e-6, 1e-6) for _ in range(200)]
    # the nearest doubles to 7-decimal .5 ties: the vectorised form's
    # near-boundary fallback must pick what F.round picks
    vals += [(2 * rng.randint(-10**6, 10**6) + 1) * 5e-7 for _ in range(200)]
    df = spark.createDataFrame(
        [(v,) for v in vals], "v double"
    ).select(F.round(F.col("v"), 6).alias("r"))
    want = [r["r"] for r in df.collect()]
    got = [spark_round(v) for v in vals]
    assert got == want
    assert round6(np.array(vals)).tolist() == want


# ---------------------------------------------------------------- #
# _gram_rows: the vectorized positional 3-gram stream must emit    #
# EXACTLY the rows of the interpreted transform/concat_ws HOF it   #
# replaced in boilerplate_phrase_stats (same 1-based i, same       #
# NULL-skip tail joins for short docs, same empty-token bytes).    #
# ---------------------------------------------------------------- #


def _legacy_gram_rows(words):
    return words.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(w) - 2, 1)), "
                "i -> struct(i AS i, "
                "concat_ws(' ', w[i-1], w[i], w[i+1]) AS g))"
            )
        ).alias("x"),
    ).select(
        "doc_id",
        "n_words",
        F.col("x.i").alias("i"),
        F.col("x.g").alias("g"),
    )


def _gram_sorted(df):
    return sorted(
        (r["doc_id"], r["n_words"], r["i"], r["g"])
        for r in df.collect()
    )


def _words_frame(spark, sf_dir):
    from citeconnect_datapipeline_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w"),
    )


def test_gram_rows_matches_hof_on_lake(spark):
    from citeconnect_datapipeline_spark.operators.training import (
        _gram_rows,
    )

    words = _words_frame(spark, SF_DIR)
    assert _gram_sorted(_gram_rows(words)) == _gram_sorted(
        _legacy_gram_rows(words)
    )


def test_gram_rows_matches_hof_on_edge_corpus(spark):
    """Short docs (1- and 2-word tails hit the concat_ws NULL-skip),
    leading/trailing delimiters (empty split tokens keep their
    bytes), a NULL text row (dropped by both forms), multibyte
    chars, and an empty string. The legacy HOF needs ANSI off for
    the out-of-range w[i] tail accesses to yield NULL (the oracle's
    list_slice semantics, which the kernel reproduces); under the
    session default ANSI=on the legacy form ERRORS on sub-3-word
    docs — the lake has none, and the kernel is strictly more
    defined there."""
    from citeconnect_datapipeline_spark.operators.training import (
        _gram_rows,
    )

    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    rows = [
        (1, "one"),
        (2, "two words"),
        (3, "now three words"),
        (4, "  leading and trailing  "),
        (5, None),
        (6, ""),
        (7, "a-b-c-d"),
        (8, "emoji 😀 inside text"),
        (9, "x " * 300),
    ]
    docs = s.createDataFrame(rows, "doc_id long, text string")
    words = docs.select(
        "doc_id",
        F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w"),
    )
    # compare at the consumed contract: the query filters g != ''
    # (which also drops the NULL-text row the legacy form emits as a
    # single all-NULL concat_ws = '' gram with n_words = -1)
    got = _gram_sorted(_gram_rows(words).filter(F.col("g") != ""))
    want = _gram_sorted(
        _legacy_gram_rows(words).filter(F.col("g") != "")
    )
    assert got == want
    assert any(r[0] == 1 for r in got)  # 1-word doc emits its word
