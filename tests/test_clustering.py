"""Invariants for the iterative clustering ops (rows-only in the
driver contract, so correctness evidence lives here): k-means
determinism + inertia monotonicity + exact numpy parity, and
semantic_dedup greedy-kept-set parity against a brute-force rerun."""

from __future__ import annotations

import numpy as np
import pytest

from citeconnect_datapipeline_spark.operators.clustering import (
    K_CLUSTERS,
    SEMDEDUP_TAU,
    _kmeans_fit,
    kmeans_clusters,
    semantic_dedup,
)


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    """vec_id-sorted embedding matrix collected once (test scale)."""
    emb, _ = _kmeans_fit(spark, sf_dir, iters=0)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    return ids, M


def _np_assign(M, C):
    d2 = (
        (M * M).sum(axis=1)[:, None]
        - 2.0 * (M @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    return d2.argmin(axis=1), np.maximum(d2.min(axis=1), 0.0)


def test_kmeans_sizes_and_inertia_match_numpy(spark, sf_dir, vecs):
    ids, M = vecs
    out = kmeans_clusters(spark, sf_dir).collect()
    assert sum(r["n_vecs"] for r in out) == len(ids)
    # independent numpy rerun of the same fit
    _, C = _kmeans_fit(spark, sf_dir)
    a, d2 = _np_assign(M, C)
    for r in out:
        sel = a == r["cluster_id"]
        assert int(sel.sum()) == r["n_vecs"]
        assert abs(float(d2[sel].sum()) - r["inertia"]) < 1e-2

def test_round6_is_spark_round_bit_for_bit():
    from citeconnect_datapipeline_spark.functions.rounding import (
        round6,
        spark_round,
    )

    rng = np.random.default_rng(3)
    x = np.concatenate(
        [
            rng.normal(size=4000) * 10.0 ** rng.integers(-7, 5, size=4000),
            # exact .5 ties at the 7th decimal, both signs
            (rng.integers(-10**9, 10**9, size=2000) + 0.5) / 1e6,
            [0.0, -0.0, 5e-7, -5e-7, -4e-7, 1.2345675],
        ]
    )
    want = np.array([spark_round(v) for v in x])
    assert np.array_equal(round6(x).view(np.int64), want.view(np.int64))


def test_kmeans_fit_matches_numpy_lloyd_with_6dp_rounding(
    spark, sf_dir, vecs
):
    """Reference Lloyd's loop in plain numpy + the scalar
    spark_round: 6-dp distances before the argmin (ties to the lowest
    cluster), 6-dp centroid means, emptied clusters dropped. The
    Spark fit must reproduce its centroids exactly."""
    import hashlib

    from citeconnect_datapipeline_spark.functions.rounding import spark_round

    rnd = np.vectorize(spark_round)
    ids, M = vecs
    seeds = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:K_CLUSTERS]
    C = M[seeds].copy()
    live = np.ones(K_CLUSTERS, dtype=bool)
    for _ in range(5):
        d2 = rnd(
            (M * M).sum(axis=1)[:, None]
            - 2.0 * (M @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        d2[:, ~live] = np.inf
        a = d2.argmin(axis=1)
        for c in range(K_CLUSTERS):
            sel = a == c
            live[c] = bool(sel.any())
            C[c] = rnd(M[sel].sum(axis=0) / sel.sum()) if live[c] else 0.0
    _, got = _kmeans_fit(spark, sf_dir)
    assert np.array_equal(np.isnan(got[:, 0]), ~live)
    assert np.array_equal(got[live], C[live])


def test_kmeans_deterministic_across_reruns(spark, sf_dir):
    a = [tuple(r) for r in kmeans_clusters(spark, sf_dir).collect()]
    b = [tuple(r) for r in kmeans_clusters(spark, sf_dir).collect()]
    assert a == b


def test_kmeans_inertia_nonincreasing_in_iterations(spark, sf_dir, vecs):
    ids, M = vecs
    totals = []
    for iters in (0, 1, 5):
        _, C = _kmeans_fit(spark, sf_dir, iters=iters)
        _, d2 = _np_assign(M, C)
        totals.append(float(d2.sum()))
    assert totals[1] <= totals[0] + 1e-9
    assert totals[2] <= totals[1] + 1e-9


def test_semantic_dedup_matches_bruteforce_greedy(spark, sf_dir, vecs):
    ids, M = vecs
    out = {r["cluster_id"]: r for r in semantic_dedup(spark, sf_dir).collect()}
    _, C = _kmeans_fit(spark, sf_dir)
    a, _ = _np_assign(M, C)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    total_checked = 0
    for c in range(K_CLUSTERS):
        sel = np.where(a == c)[0]
        if len(sel) == 0:
            assert c not in out
            continue
        # ids are already ascending (vecs fixture sorts), so sel is in
        # ascending vec_id order
        kept: list[int] = []
        dropped = 0
        for i in sel:
            if kept and float((Mn[kept] @ Mn[i]).max()) >= SEMDEDUP_TAU:
                dropped += 1
                continue
            kept.append(i)
        r = out[c]
        assert r["n_vecs"] == len(sel)
        assert r["n_kept"] == len(kept)
        assert r["n_dropped"] == dropped
        total_checked += len(sel)
    assert total_checked == len(ids)


def test_pca_whiten_matches_numpy_and_decorrelates(spark, sf_dir, vecs):
    """ZCA whitening: Spark output must equal the numpy computation on
    the same matrix (per-component to 6 dp), and the whitened sample
    covariance must be ~identity (the definition of whitening)."""
    from citeconnect_datapipeline_spark.operators.clustering import (
        PCA_EPS,
        embedding_pca_whiten,
    )

    ids, M = vecs
    n = len(M)
    mu = M.mean(axis=0)
    cov = (M.T @ M) / n - np.outer(mu, mu)
    lam, U = np.linalg.eigh(cov)
    W = (U * (1.0 / np.sqrt(np.maximum(lam, 0.0) + PCA_EPS))) @ U.T
    want = np.round((M - mu) @ W, 6)

    rows = embedding_pca_whiten(spark, sf_dir).collect()
    got = np.stack(
        [np.asarray(r["whitened"]) for r in sorted(rows, key=lambda r: r["vec_id"])]
    )
    assert got.shape == want.shape
    assert np.allclose(got, want, atol=2e-6)

    wc = np.cov(got, rowvar=False, bias=True)
    off = wc - np.diag(np.diag(wc))
    assert np.abs(np.diag(wc) - 1.0).max() < 0.05
    assert np.abs(off).max() < 0.05


def test_materialized_intermediates_valid_across_sessions(spark, sf_dir):
    """The bench runs 16 newSession clones over one SparkContext; the
    shared materialized intermediates (CC labels, k-means centroids,
    BPE merges) must produce identical results when consumed from a
    DIFFERENT session than the one that built them."""
    from citeconnect_datapipeline_spark.operators.dedup import (
        _neardup_labels,
    )

    first = _neardup_labels(spark, sf_dir)
    counts1 = sorted(
        (r["v"], r["label"]) for r in first.collect()
    )
    clone = spark.newSession()
    second = _neardup_labels(clone, sf_dir)
    assert second is first  # same context id -> cache hit
    counts2 = sorted((r["v"], r["label"]) for r in second.collect())
    assert counts1 == counts2


@pytest.mark.parametrize(
    "name,k", [("kmeans_portable", 4), ("kmeans_clusters", K_CLUSTERS)]
)
def test_kmeans_tied_seed_cluster_is_dropped_like_the_oracle(
    spark, tmp_path, name, k
):
    """The second md5-ordered seed is an exact copy of the first, so
    seed cluster 2 ties cluster 1 on every vector, loses every tie
    (lowest cluster wins) and empties in round 1. Both engines drop
    it and keep the other seed numbers; Spark equals the oracle."""
    import hashlib
    import math

    import duckdb

    from citeconnect_datapipeline_spark.plans.registry import (
        get_oracles,
        get_queries,
    )

    rng = np.random.default_rng(7)
    ids = list(range(60))
    first, second = sorted(
        ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:2]
    vec = {v: (rng.integers(-40, 40, size=8) / 8.0).tolist() for v in ids}
    vec[second] = list(vec[first])
    rows = [(v, vec[v], int(rng.integers(0, 3))) for v in ids]
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(path)

    got = get_queries()[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = con.execute(get_oracles()[name]).fetchdf()
    con.close()

    id_col = "cluster" if name == "kmeans_portable" else "cluster_id"
    seed2 = 2 if id_col == "cluster" else 1
    assert seed2 not in set(got[id_col])
    assert len(got) < k
    assert sorted(got.columns) == sorted(want.columns)
    g = got.sort_values(id_col).reset_index(drop=True)
    w = want.sort_values(id_col).reset_index(drop=True)
    assert len(g) == len(w)
    for col in g.columns:
        for a, b in zip(g[col], w[col]):
            if isinstance(a, float) or isinstance(b, float):
                assert math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6), col
            else:
                assert int(a) == int(b), col


def test_workers_import_the_package_outside_the_repo_root(tmp_path, sf_dir):
    """``get_spark`` ships the package's parent directory to the Python
    workers: ``kmeans_portable`` (whose Arrow kernels call module-level
    helpers) runs in a process started in an unrelated directory with
    no ``PYTHONPATH``. A worker ``PYTHONPATH`` the deployment already
    set (here through ``--conf``, before the JVM starts) is kept: the
    workers still import a module that only it provides."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "extra_mod.py").write_text("VALUE = 7\n")
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from citeconnect_datapipeline_spark.plans.registry import get_queries\n"
        "from citeconnect_datapipeline_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]')\n"
        "q = get_queries()['kmeans_portable']\n"
        f"print('ROWS', len(q(spark, {sf_dir!r}).collect()))\n"
        "rdd = spark.sparkContext.parallelize([0, 1], 2)\n"
        "print('EXTRA', sum(rdd.map(lambda _: __import__('extra_mod').VALUE)"
        ".collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.executorEnv.PYTHONPATH={extra} pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ModuleNotFoundError" not in proc.stderr, proc.stderr[-4000:]
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS " in proc.stdout, proc.stdout
    assert "EXTRA 14" in proc.stdout, proc.stderr[-4000:]
