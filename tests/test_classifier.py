"""Invariants for the in-engine LR quality classifier: exact numpy
parity of the whole AdaGrad training loop, separation on a synthetic
separable corpus, overall loss decrease, output-contract checks, and
the DuckDB oracle on edge lakes (NULL / empty / one-word texts, no
rows at all, no trusted-source document).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from citeconnect_datapipeline_spark.functions.rounding import spark_round
from citeconnect_datapipeline_spark.operators.classifier import (
    ADAGRAD_EPS,
    L2_LAMBDA,
    LEARNING_RATE,
    N_BUCKETS,
    doc_features,
    logreg_fit,
    quality_classifier,
    score_with_weights,
)
from citeconnect_datapipeline_spark.sources.tables import load_table


def _trusted():
    return F.col("source") == "src0"


@pytest.fixture(scope="module")
def train(spark, sf_dir):
    train = doc_features(load_table(spark, sf_dir, "documents"), _trusted())
    train = train.persist()
    yield train
    train.unpersist()


def _np_fit(train_pdf, rounds):
    """Reference implementation of logreg_fit: dense numpy, the same
    class weighting, AdaGrad steps with the bias unregularized, and
    the same 6-dp rounding of the class weight, the sigmoid, each
    round's gradient and weights and each loss (elementwise through
    spark_round, independent of the vectorised kernel rounding).
    Documents with no word have no row in the table, so they are out
    of training here too."""
    rnd = np.vectorize(spark_round)
    y = train_pdf["y"].to_numpy().astype("float64")
    X = np.zeros((len(y), N_BUCKETS + 1))
    for i, (bs, xs) in enumerate(zip(train_pdf["bs"], train_pdf["xs"])):
        X[i, list(bs)] = list(xs)
    assert (X[:, N_BUCKETS] == 1.0).all()  # every row holds the bias
    pos = int((y == 1.0).sum())
    neg = len(y) - pos
    pw = spark_round(neg / pos) if pos and neg else 1.0
    sw = np.where(y == 1.0, pw, 1.0)
    denom = max(pos * pw + neg, 1.0)
    w = np.zeros(N_BUCKETS + 1)
    h = np.zeros(N_BUCKETS + 1)
    losses = []
    for _ in range(rounds):
        p = rnd(1.0 / (1.0 + np.exp(-(X @ w))))
        own = np.where(y == 1.0, p, 1.0 - p)
        losses.append(spark_round(float((sw * -np.log(own)).sum()) / denom))
        reg = L2_LAMBDA * w
        reg[N_BUCKETS] = 0.0
        g = rnd(X.T @ (sw * (p - y)) / denom + reg)
        h = h + g * g
        w = rnd(w - LEARNING_RATE * g / (np.sqrt(h) + ADAGRAD_EPS))
    return w, losses


def test_numpy_parity_full_loop(spark, sf_dir, train):
    """The Spark loop and a dense numpy rerun agree on weights and
    loss history to fp-association tolerance."""
    fit = logreg_fit(train, 4)
    w_np, losses_np = _np_fit(train.toPandas(), 4)
    assert np.allclose(fit.weights[-1], w_np, rtol=1e-9, atol=1e-12)
    assert np.allclose(np.array(fit.losses), np.array(losses_np), rtol=1e-9)


def test_loss_decreases_overall(spark, sf_dir, train):
    losses = logreg_fit(train, 8).losses
    assert len(losses) == 8
    assert losses[0] == pytest.approx(math.log(2.0), rel=1e-3)
    assert losses[-1] < losses[0]


def test_separable_synthetic_recovers_labels(spark):
    """On a linearly separable corpus (disjoint vocabularies per
    class) the classifier must reach >=95% balanced accuracy — the
    evidence that the trainer learns, independent of how separable
    the lake's trusted slice happens to be."""
    rows = []
    for i in range(60):
        rows.append((i, "alpha beta gamma delta epsilon zeta", "src0"))
    for i in range(60, 240):
        rows.append((i, "omega psi chi phi upsilon tau", "srcX"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    train = doc_features(docs, _trusted())
    fit = logreg_fit(train, 10)
    scored = score_with_weights(train, fit.weights[-1]).toPandas()
    pred = scored["quality_prob"] >= 0.5
    acc_pos = (pred & (scored["y"] == 1.0)).sum() / (scored["y"] == 1.0).sum()
    acc_neg = (~pred & (scored["y"] == 0.0)).sum() / (scored["y"] == 0.0).sum()
    assert (acc_pos + acc_neg) / 2.0 >= 0.95
    assert fit.losses[-1] < 0.5  # separable data drives loss well below ln 2


def test_query_output_contract(spark, sf_dir):
    pdf = quality_classifier(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    n_with_tokens = docs.filter(
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            )
        )
        > 0
    ).count()
    assert len(pdf) == n_with_tokens
    assert pdf["quality_prob"].between(0.0, 1.0).all()
    assert (pdf["keep"] == (pdf["quality_prob"] >= 0.5)).all()
    assert set(pdf["is_trusted_source"].unique()) <= {0, 1}
    assert pdf["doc_id"].is_monotonic_increasing


# ------------------------------------------------------------------ #
# Edge lakes: every query of the family runs and equals its DuckDB   #
# oracle on inputs the sf lakes never hold.                          #
# ------------------------------------------------------------------ #

FAMILY = ("quality_classifier", "classifier_eval", "logreg_adagrad_portable")


def _lake(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    cols = list(zip(*rows)) if rows else [[]] * len(schema)
    pq.write_table(
        pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def _family_vs_oracle(spark, lake):
    """{query: (spark rows, oracle rows, spark columns)} on ``lake``."""
    import duckdb

    from citeconnect_datapipeline_spark.plans.registry import (
        get_oracles,
        get_queries,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{lake}/documents.parquet')"
    )
    out = {}
    try:
        for name in FAMILY:
            df = get_queries()[name](spark, lake)
            want = con.execute(get_oracles()[name]).fetchall()
            out[name] = (
                sorted(map(tuple, df.collect())),
                sorted(want),
                df.columns,
            )
    finally:
        con.close()
    return out


def _docs(n, source, text):
    return [(i, text(i), "en", source(i), 0) for i in range(n)]


def test_family_on_null_empty_and_one_word_texts(spark, tmp_path):
    rows = _docs(
        40,
        lambda i: "src0" if i % 4 == 0 else f"src{i % 3 + 1}",
        lambda i: f"doc {i} words alpha beta gamma" + " delta" * (i % 5),
    )
    rows += [
        (100, None, "en", "src0", None),
        (101, "", "en", "src1", 0),
        (102, " ,;! ", "en", "src2", 5),  # separators only: no word
        (103, "alpha", "en", "src0", 5),
        (104, "omega", "en", "src1", 5),
        (105, "Omega", "en", None, 5),  # NULL source: negative
    ]
    got = _family_vs_oracle(spark, _lake(tmp_path, rows))
    for name, (spark_rows, oracle_rows, _) in got.items():
        assert spark_rows == oracle_rows and spark_rows, name
    scored = {r[0] for r in got["quality_classifier"][0]}
    assert scored == set(range(40)) | {103, 104, 105}


def test_family_on_empty_lake(spark, tmp_path):
    got = _family_vs_oracle(spark, _lake(tmp_path, []))
    assert got["quality_classifier"][2] == [
        "doc_id", "quality_prob", "is_trusted_source", "keep",
    ]
    assert got["classifier_eval"][2] == [
        "is_trusted_source", "keep", "n", "share_of_label",
    ]
    assert got["logreg_adagrad_portable"][2] == [
        "bucket", "g1", "w1", "g2", "w2", "loss_r2", "loss_final",
    ]
    for name, (spark_rows, oracle_rows, _) in got.items():
        assert spark_rows == oracle_rows == [], name


def test_family_without_trusted_source(spark, tmp_path):
    rows = _docs(
        30,
        lambda i: f"src{i % 3 + 1}",
        lambda i: f"text {i % 7} about spark" + " planning" * (i % 4),
    )
    got = _family_vs_oracle(spark, _lake(tmp_path, rows))
    for name, (spark_rows, oracle_rows, _) in got.items():
        assert spark_rows == oracle_rows and spark_rows, name
    # every label is negative: the confusion table has no positive row
    assert {r[0] for r in got["classifier_eval"][0]} == {0}
