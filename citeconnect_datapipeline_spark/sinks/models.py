"""Model-artifact persistence: the trained state the engine's
iterative fits produce (BPE merge tables, classifier weight vectors)
saved to and loaded from the lake as plain parquet.

Why parquet and not pickle: the artifacts are TABLES (a merge table
is literally what a tokenizer ships as merges.txt; a weight vector is
257 indexed doubles), so storing them as parquet keeps them
queryable, schema-checked, portable across engines, and writable with
the same committer semantics as every other zone write — no Python
object graphs in the lake. Reference parity: the reference persists
nothing learned (it has no learned state); this is the registry every
production pipeline grows the moment training moves in-engine.

Round-trip identity is pinned in tests/test_sinks.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def save_bpe_merges(
    spark: SparkSession, merges: list[tuple[int, str, str, int]], path: str
) -> None:
    """Persist a learned merge table (the output of
    ``train_bpe_merges``) as rank-ordered parquet."""
    spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe_merges(
    spark: SparkSession, path: str
) -> list[tuple[int, str, str, int]]:
    """Load a merge table in training order — directly consumable by
    ``encode_word_vocab``."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [
        (r["rank"], r["left"], r["right"], r["pair_count"]) for r in rows
    ]


def save_classifier_weights(
    spark: SparkSession, weights: list[float], path: str
) -> None:
    """Persist an LR weight vector (bias in the last slot) as
    (slot, weight) parquet."""
    spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)],
        "slot int, weight double",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_classifier_weights(spark: SparkSession, path: str) -> list[float]:
    """Load a weight vector — directly consumable by
    ``score_with_weights``. Raises ValueError unless the slots are
    0..N_BUCKETS (the bias last)."""
    from ..operators.classifier import N_BUCKETS

    rows = spark.read.parquet(path).orderBy("slot").collect()
    if len(rows) != N_BUCKETS + 1:
        raise ValueError(
            f"corrupt weight artifact at {path}: {len(rows)} slots,"
            f" expected {N_BUCKETS + 1}"
        )
    if [r["slot"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"corrupt weight artifact at {path}: slots not contiguous"
        )
    return [float(r["weight"]) for r in rows]


def save_embedding_model(spark: SparkSession, spec: dict, path: str) -> None:
    """Publish a named hash-projection embedding model
    (``similarity.HashProjectionModel``) to the lake as its 1-row
    spec table (name, dim, n_features, seed) — the spec IS the
    model (the projection matrix regenerates deterministically from
    the seed on every worker), so the artifact stays a queryable
    table like every other entry in this registry."""
    spark.createDataFrame(
        [
            (
                str(spec["name"]),
                int(spec["dim"]),
                int(spec["n_features"]),
                int(spec["seed"]),
            )
        ],
        "name string, dim int, n_features int, seed int",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_embedding_model(spark: SparkSession, path: str):
    """Load a published embedding-model spec and return a picklable
    zero-arg factory — directly consumable by ``embed_with_model``."""
    from ..operators.similarity import HashProjectionModel

    rows = spark.read.parquet(path).collect()
    if len(rows) != 1:
        raise ValueError(
            f"corrupt embedding-model artifact at {path}: expected "
            f"exactly 1 spec row, found {len(rows)}"
        )
    r = rows[0]
    return HashProjectionModel.factory(
        r["name"], r["dim"], r["n_features"], r["seed"]
    )
