"""The api facade must work on ARBITRARY in-memory DataFrames — no
benchmark-lake layout anywhere. This is the migrating user's surface;
a function that secretly depends on sf_dir conventions fails here."""

from __future__ import annotations

import datetime

from citeconnect_datapipeline_spark import api


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),
        (3, "completely unrelated text about spark planning", "en"),
        (4, "one more disjoint document mentioning parquet files", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_and_components_on_inmemory_docs(spark):
    docs = _docs(spark)
    pairs = api.dedup.jaccard_scored_pairs(docs)
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in found and found[(1, 2)] > 0.5
    labels = api.graph.connected_components(
        pairs.filter("jaccard >= 0.5"), src="doc_a", dst="doc_b"
    )
    got = {(r["v"], r["label"]) for r in labels.collect()}
    assert (1, 1) in got and (2, 1) in got


def test_tokenizer_roundtrip_on_inmemory_docs(spark):
    docs = _docs(spark)
    merges = api.tokenizer.train_bpe_merges(docs, n_merges=4)
    assert len(merges) == 4
    vocab = api.tokenizer.encode_word_vocab(docs, merges)
    toks = {r["word"]: r["n_tokens"] for r in vocab.collect()}
    # every word encodes to at least 1 and at most len(word) tokens
    assert all(1 <= n <= len(w) for w, n in toks.items())
    # the corpus's most frequent word ('the') benefits from merges
    assert toks["the"] < len("the")


def test_classifier_on_inmemory_features(spark):
    from pyspark.sql import functions as F

    docs = _docs(spark)
    train = api.classifier.doc_features(docs, F.col("doc_id") <= 2)
    fit = api.classifier.logreg_fit(train, rounds=3)
    w = fit.weights[-1]
    assert len(w) == 257 and len(fit.losses) == 3
    scored = api.classifier.score_with_weights(train, w)
    assert scored.count() == 4


def test_sessionize_on_inmemory_events(spark):
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 100),
        (1, t0 + datetime.timedelta(minutes=5), 101),
        (1, t0 + datetime.timedelta(hours=2), 102),  # new session
        (2, t0, 200),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long"
    )
    out = api.timeseries.sessionize(events)
    from pyspark.sql import functions as F

    per_user = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id")
        .agg(F.countDistinct("session_seq").alias("n"))
        .collect()
    }
    assert per_user[1] == 2 and per_user[2] == 1


def test_zone_roundtrip_on_inmemory_frame(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "id % 3 AS grp")
    zone = str(tmp_path / "zone")
    api.sinks.write_zone(df, zone, run_id="r1", partition_cols=("grp",))
    back = api.sinks.read_zone(spark, zone)
    assert back.count() == 10


def test_example_curation_script(spark, sf_dir, tmp_path):
    """examples/curate_corpus.py is a living document: run its curate()
    on the lake's documents and check the invariants (dedup shrinks,
    zone written, token accounting positive)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "curate_corpus",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "curate_corpus.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    summary = mod.curate(spark, docs, str(tmp_path))
    assert summary["n_docs_kept"] < summary["n_docs_in"]
    assert summary["total_bpe_tokens"] > 0
    assert (tmp_path / "curated").exists()


def test_retrieval_and_curation_on_inmemory_frames(spark):
    docs = spark.createDataFrame(
        [
            (1, "hash join vector hash join", "en", "a", 26),
            (2, "the quick brown fox keeps no query terms", "en", "a", 40),
            (3, "vector once amid other words here", "en", "b", 33),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    ranked = api.retrieval.bm25_rank(docs, top_k=5).collect()
    assert [r["doc_id"] for r in ranked][0] == 1
    assert all(r["doc_id"] != 2 for r in ranked)

    bench = spark.createDataFrame(
        [(100, "the quick brown fox keeps no query terms", "en", "q", 40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rep = {
        r["source"]: r
        for r in api.curation.decontaminate(docs, bench, min_shared=3)
        .collect()
    }
    assert rep["a"]["docs_dropped"] == 1  # doc 2 is the benchmark copy
    assert rep["b"]["docs_dropped"] == 0


def test_embedding_qa_on_inmemory_frames(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.1, 0.9], 1),
            (4, [0.0, 0.95], 0),  # planted mislabel
        ],
        "vec_id long, embedding array<float>, label int",
    )
    flags = {
        r["vec_id"]: r["mislabel"]
        for r in api.curation.label_outliers(emb).collect()
    }
    assert flags[4] is True and flags[0] is False

    qa = api.similarity.sq8_quantization_report(emb).collect()
    assert len(qa) == 5
    assert all(r["mse"] >= 0 for r in qa)


def test_h_index_facade_on_in_memory_refs(spark):
    from citeconnect_datapipeline_spark import api

    refs = spark.createDataFrame(
        [("a", "p1")] * 3 + [("a", "p2")] * 2 + [("a", "p3")]
        + [("b", "q1")],
        "author string, paper string",
    )
    got = {
        r["entity"]: r
        for r in api.graph.h_index(refs, "author", "paper").collect()
    }
    assert got["a"]["h_index"] == 2  # two papers with >= 2 refs
    assert got["b"]["h_index"] == 1


def test_weighted_sample_facade_is_deterministic_and_sized(spark):
    from citeconnect_datapipeline_spark import api

    df = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(50)], "id long, w double"
    )
    s1 = api.curation.weighted_sample(df, "w", "id", k=10).collect()
    s2 = api.curation.weighted_sample(df, "w", "id", k=10).collect()
    assert len(s1) == 10
    assert [r["id"] for r in s1] == [r["id"] for r in s2]


def test_k_anonymity_facade_flags_small_cells(spark):
    from citeconnect_datapipeline_spark import api

    df = spark.createDataFrame(
        [("US", "A")] * 6 + [("FR", "B")] * 2,
        "country string, seg string",
    )
    got = {
        (r["country"], r["seg"]): r
        for r in api.curation.k_anonymity_cells(
            df, ["country", "seg"]
        ).collect()
    }
    assert got[("FR", "B")]["at_risk"] == 1
    assert got[("US", "A")]["at_risk"] == 0


def test_no_uninterpolated_docstring_placeholders():
    """Every rendered docstring in the package must be free of raw
    uppercase-constant placeholders like ``{KFOLD_K}`` — those mean a
    docstring meant to interpolate a module constant never did (the
    round-6 ADVICE class of bug). Scans module, class, and function
    __doc__ across the whole package."""
    import importlib
    import inspect
    import pkgutil
    import re

    import citeconnect_datapipeline_spark as pkg

    placeholder = re.compile(r"\{[A-Z][A-Z0-9_]{2,}\}")
    offenders = []
    for mod_info in pkgutil.walk_packages(
        pkg.__path__, pkg.__name__ + "."
    ):
        mod = importlib.import_module(mod_info.name)
        seen = [(mod_info.name, mod.__doc__)]
        for _, obj in inspect.getmembers(mod):
            if (
                inspect.isfunction(obj) or inspect.isclass(obj)
            ) and getattr(obj, "__module__", None) == mod_info.name:
                seen.append((f"{mod_info.name}.{obj.__name__}", obj.__doc__))
                if inspect.isclass(obj):
                    for mname, m in inspect.getmembers(
                        obj, inspect.isfunction
                    ):
                        seen.append(
                            (
                                f"{mod_info.name}.{obj.__name__}.{mname}",
                                m.__doc__,
                            )
                        )
        for name, doc in seen:
            if doc and placeholder.search(doc):
                offenders.append(
                    (name, placeholder.findall(doc))
                )
    assert not offenders, f"raw docstring placeholders: {offenders}"


def test_round7_cores_on_inmemory_frames(spark):
    """Round-7 library cores run on plain in-memory frames (no lake
    layout): Benford cells over any numeric column, Hill tail ladder
    over any positive column, chi-square selection and the
    concentration panel over any (doc_id, text, class) frame,
    isotropy over any embedding frame, Page-Hinkley over any ordered
    series, lateness profile over any keyed event frame, and a
    salted DP release."""
    import datetime

    from pyspark.sql import functions as F

    from citeconnect_datapipeline_spark import api

    nums = spark.range(1, 1001).select(
        (F.col("id") * 7.3 + 1).alias("v"), F.col("id").alias("k")
    )
    ben = api.curation.benford_digit_cells(nums, "v").collect()
    assert len(ben) == 9
    assert abs(sum(r["obs_frac"] for r in ben) - 1.0) < 1e-4

    hill = api.stats.hill_tail_profile(nums, "v", "k", ks=(10, 20)).collect()
    assert [r["tail_k"] for r in hill] == [10, 20]
    assert all(r["hill_alpha"] > 0 for r in hill)

    docs = spark.createDataFrame(
        [(i, ("alpha beta " * 40) if i % 2 else ("gamma delta " * 40), "A" if i % 2 else "B")
         for i in range(80)],
        "doc_id long, text string, source string",
    )
    chi = api.curation.chi2_term_selection(docs, min_df=10, topk=4).collect()
    assert chi and all(r["chi2"] > 0 for r in chi)
    conc = {
        r["source"]: r
        for r in api.curation.token_concentration_by(docs).collect()
    }
    assert conc["A"]["n_distinct"] == 2 and conc["A"]["gini"] == 0.0

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, -0.5]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    [iso] = api.similarity.embedding_isotropy(emb).collect()
    assert iso["n"] == 12 and 0.0 <= iso["isotropy_ratio"] <= 1.0

    series = spark.createDataFrame(
        [(d, 1.0 if d < 10 else 9.0) for d in range(20)], "wd long, x double"
    )
    ph = api.timeseries.page_hinkley(series).collect()
    assert any(r["alarm"] == 1 for r in ph if r["wd"] >= 10)
    assert all(r["alarm"] == 0 for r in ph if r["wd"] < 10)

    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, t0 + datetime.timedelta(seconds=s), i)
            for i, s in enumerate([0, 10, 5, 20])  # one 5s-late event
        ],
        "user_id long, ts timestamp, event_id long",
    )
    [lat] = api.timeseries.lateness_profile(ev).collect()
    assert lat["n_late"] == 1 and lat["max_late_sec"] == 5.0

    cells = spark.createDataFrame(
        [("x", 100), ("y", 50)], "seg string, n long"
    )
    rel = api.curation.dp_noisy_counts_release(
        cells, "seg", salt="secret-123"
    ).collect()
    assert {r["seg"] for r in rel} == {"x", "y"}
    assert all(r["epsilon"] == 1.0 for r in rel)


def test_example_health_checks_script(spark):
    """examples/pipeline_health_checks.py is a living document: run
    its health_checks() on planted frames and check each monitor
    fires on the planted defect and only there."""
    import importlib.util
    import os

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "pipeline_health_checks",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "pipeline_health_checks.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    body = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (i, f"src{i % 3}", "en",
             ("tokenizer " if i % 25 else "tokenzer ") + body,
             200 + (i % 5) * 25, i // 50)
            for i in range(100)
        ],
        "doc_id long, source string, lang string, text string,"
        " n_chars long, week int",
    )
    intake = spark.createDataFrame(
        [(d, float(40 + d % 3 + (10 if d > 20 else 0))) for d in range(28)],
        "day long, n_docs double",
    )
    checks = mod.health_checks(spark, docs, intake)
    assert set(checks) == {
        "intake_cusum", "length_shift_mwu", "fd_source_lang",
        "lexical_diversity", "typo_suspects",
    }
    # the planted +10/day level shift after day 20 alarms the CUSUM
    cus = checks["intake_cusum"].collect()
    assert any(r["alarm"] == 1 and r["wk"] > 20 for r in cus)
    assert all(r["alarm"] == 0 for r in cus if r["wk"] <= 20)
    # identical length distributions across weeks: no false positive
    mwu = checks["length_shift_mwu"].collect()[0]
    assert mwu["significant"] == 0
    # source->lang holds in the fixture
    assert checks["fd_source_lang"].collect()[0]["holds"] == 1
    # the planted rare 'tokenzer' misspelling is caught
    typos = checks["typo_suspects"].collect()
    assert any(
        {r["word_a"], r["word_b"]} == {"tokenizer", "tokenzer"}
        for r in typos
    )


def test_round9_cores_on_inmemory_frames(spark):
    """Round-9 cores drive on caller frames, no lake layout."""
    from citeconnect_datapipeline_spark import api
    import datetime as dt

    # BH-FDR on a hand-built p-value panel: step-up rejects the two
    # tiny p's at q=0.1 with m=5 (thresholds 0.02/0.04/...)
    pv = spark.createDataFrame(
        [("a", 0.001), ("b", 0.03), ("c", 0.2), ("d", 0.5), ("e", 0.9)],
        "key string, p_value double",
    )
    out = {r["key"]: r for r in api.stats.bh_fdr(pv, 0.1).collect()}
    assert out["a"]["reject"] and out["b"]["reject"]
    assert not out["c"]["reject"]

    # Kendall tau-b on a 4-row frame: one discordant pair
    df = spark.createDataFrame(
        [(1, 1.0, 10.0), (2, 2.0, 20.0), (3, 3.0, 40.0), (4, 4.0, 30.0)],
        "id long, x double, y double",
    )
    [tau] = api.stats.kendall_tau_b(df, "x", "y", "id").collect()
    assert tau["n_pairs"] == 6 and tau["discordant"] == 1
    assert tau["tau_b"] == round((5 - 1) / 6, 6)

    # Grubbs on one group with a planted spike
    g = spark.createDataFrame(
        [(i, "g", 10.0 + (i % 3)) for i in range(30)]
        + [(99, "g", 1000.0)],
        "id long, grp string, v double",
    )
    [gr] = api.stats.grubbs_cells(g, "grp", "v").collect()
    assert gr["is_outlier"] and gr["outlier_value"] == 1000.0

    # ACF on an alternating 2-period series
    d0 = dt.date(2024, 1, 1)
    s = spark.createDataFrame(
        [(d0 + dt.timedelta(days=i), 1.0 if i % 2 else 2.0)
         for i in range(30)],
        "d date, x double",
    )
    acf = {r["lag"]: r["acf"] for r in
           api.timeseries.acf(s, 2).collect()}
    assert acf[1] < -0.9 and acf[2] > 0.9

    # Fano on a constant daily series: exactly Poisson-under
    ev = spark.createDataFrame(
        [(i, "t", dt.datetime(2024, 1, 1 + i % 10, 0, i % 60))
         for i in range(100)],
        "id long, k string, ts timestamp",
    )
    [fr] = api.timeseries.fano_by(ev, "k", "ts").collect()
    assert fr["fano"] == 0.0 and not fr["overdispersed"]

    # calibration: perfectly calibrated one-bin frame
    sc = spark.createDataFrame(
        [(0.5, 1.0), (0.5, 0.0)] * 5, "conf double, y double"
    )
    [cal] = api.classifier.calibration_cells(sc, 10).collect()
    assert cal["ece"] == 0.0 and cal["gap"] == 0.0

    # t-closeness: one skewed qid group violates, mirrored balanced
    # groups keep the global marginal symmetric
    tc = spark.createDataFrame(
        [(i, "q1", "A" if i % 2 else "B") for i in range(20)]
        + [(100 + i, "q2", "A") for i in range(10)]
        + [(200 + i, "q3", "B") for i in range(10)],
        "id long, qid string, s string",
    )
    rows = {r["qid"]: r for r in
            api.curation.t_closeness_cells(tc, "qid", "s").collect()}
    assert not rows["q1"]["violates_t"]
    assert rows["q2"]["violates_t"] and rows["q3"]["violates_t"]

    # LPA on two disjoint 3-cliques (directed both ways)
    edges = []
    for base in (0, 10):
        for u in range(base, base + 3):
            for v in range(base, base + 3):
                if u != v:
                    edges.append((u, v))
    e = spark.createDataFrame(edges, "src long, dst long")
    lab = {r["v"]: r["community"] for r in
           api.graph.lpa_communities(e, 3).collect()}
    assert all(lab[v] == 0 for v in (0, 1, 2))
    assert all(lab[v] == 10 for v in (10, 11, 12))

    # DP median: salt is REQUIRED and the release ships only the
    # public ledger
    # values must SPAN grid cells: if all mass sits inside one
    # 6000-wide cell no candidate splits the data, every candidate
    # ties at utility -n/2, and the mechanism (correctly) samples
    # uniformly — spread ~8 rows per cell so utility peaks sharply
    vals = spark.createDataFrame(
        [(float(150000 + i * 750),) for i in range(400)], "v double"
    )
    rel = api.curation.dp_median_exponential(
        vals, "v", salt="t", release_key="demo"
    )
    assert set(rel.columns) == {
        "dp_median", "epsilon", "sensitivity", "domain_lo",
        "domain_hi", "n_candidates",
    }
    [m] = rel.collect()
    assert abs(m["dp_median"] - 300000.0) <= 12000.0


def test_example_release_audits_script(spark):
    """examples/release_audits.py is a living document: run its
    audit() on planted frames and check the privacy ladder fires —
    the homogeneous cell violates l-diversity AND t-closeness, the
    DP releases ship only noisy/public columns."""
    import datetime
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "release_audits",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "release_audits.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    people = spark.createDataFrame(
        [("west", "30-39", c) for c in "aabbc" * 4]
        + [("east", "40-49", "a")] * 10,  # homogeneous: leaks
        "region string, age_band string, condition string",
    )
    t0 = datetime.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (1, t0, 100, "exposure", 0.0),
            (1, t0 + datetime.timedelta(hours=2), 101, "outcome", 9.5),
            (2, t0, 102, "exposure", 50.0),
        ],
        "user_id long, ts timestamp, event_id long, kind string,"
        " amount double",
    )
    out = mod.audit(spark, people, events)
    east = [r for r in out["t_closeness"].collect()
            if r[0] == "east"][0]
    assert east["violates_t"] is True
    med = out["dp_median"]
    assert "n" not in med.columns and "below" not in med.columns
    assert out["k_anonymity"].count() > 0


def test_causal_namespace_on_inmemory_frames(spark):
    # IPW: confounded 2-strata frame, no true effect -> ATE 0
    rows = []
    for strata, y, n_treat in (("H", 100.0, 8), ("L", 10.0, 2)):
        for i in range(10):
            rows.append((strata, 1 if i < n_treat else 0, y))
    df = spark.createDataFrame(rows, "brand string, t int, y double")
    r = api.causal.ipw_ate_cells(df, strata="brand").collect()[0]
    assert r["ipw_ate"] == 0.0 and r["naive_diff"] > 0

    # DiD on a renamed-outcome frame
    did = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, 25.0), (0, 0, 20.0), (0, 1, 30.0)],
        "grp int, after int, val double",
    )
    d = api.causal.did_cells(
        did, treated="grp", post="after", y="val"
    ).collect()[0]
    assert d["did_estimate"] == 5.0

    # log-rank: identical cohorts -> z = 0
    subj = spark.createDataFrame(
        [(1, 1, 3), (1, 1, 5), (2, 1, 3), (2, 1, 5)],
        "g int, event int, t_day long",
    )
    lr = api.causal.logrank_stats(subj).collect()[0]
    assert lr["z"] == 0.0 and lr["significant"] is False


def test_graph_modularity_on_inmemory_edges(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "v long, community long"
    )
    out = api.graph.modularity_cells(edges, labels).collect()
    assert all(r["modularity"] == 0.5 for r in out)  # two clean halves
    assert {r["community"] for r in out} == {1, 3}


def test_graph_modularity_symmetrizes_directed_edges(spark):
    """A directed/asymmetric edge frame through the public api.graph
    entry must be symmetrized, not silently mis-scored
    (r9 ADVICE #4): one-direction edges give the same Q as the
    explicit both-direction list."""
    directed = spark.createDataFrame(
        [(1, 2), (3, 4)], "src long, dst long"
    )
    symmetric = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "v long, community long"
    )
    got = {
        r["community"]: r
        for r in api.graph.modularity_cells(directed, labels).collect()
    }
    want = {
        r["community"]: r
        for r in api.graph.modularity_cells(
            symmetric, labels, assume_symmetric=True
        ).collect()
    }
    assert set(got) == set(want) == {1, 3}
    for c in got:
        assert got[c]["modularity"] == want[c]["modularity"] == 0.5
        assert got[c]["degree"] == want[c]["degree"]
        assert got[c]["internal_edges"] == want[c]["internal_edges"]


def test_curation_shapley_on_inmemory_flags(spark):
    flags = spark.createDataFrame(
        [(0, 1, 1), (1, 1, 1), (1, 1, 1), (0, 0, 1)],
        "a int, b int, c int",
    )
    out = api.curation.shapley_filter_cells(
        flags, names=("length", "ttr", "stop")
    ).collect()
    total = out[0]["coalition_removed"]
    assert abs(sum(r["shapley_removed"] for r in out) - total) < 1e-9
    by = {r["filter"]: r for r in out}
    assert by["stop"]["shapley_removed"] == 0.0  # c passes everywhere


def test_example_experiment_readout_script(spark):
    """examples/experiment_readout.py is a living document: its
    readout() must expose the confounding (naive > 0, IPW = 0),
    recover the planted DiD effect, and flag the never-converting
    cohort."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "experiment_readout",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "experiment_readout.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    exposures = spark.createDataFrame(
        [("H", 1 if i < 8 else 0, 100.0) for i in range(10)]
        + [("L", 1 if i < 2 else 0, 10.0) for i in range(10)],
        "strata string, t int, y double",
    )
    panel = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, 25.0), (0, 0, 20.0), (0, 1, 30.0)],
        "treated int, post int, y double",
    )
    subjects = spark.createDataFrame(
        [(1, 1, 1)] * 10 + [(2, 0, 30)] * 10,
        "g int, event int, t_day long",
    )
    out = mod.readout(spark, exposures, panel, subjects)
    ipw = out["ipw"].collect()[0]
    assert ipw["naive_diff"] > 0 and ipw["ipw_ate"] == 0.0
    assert out["did"].collect()[0]["did_estimate"] == 5.0
    assert out["logrank"].collect()[0]["significant"] is True


def test_example_ingest_and_embed_script(spark, tmp_path):
    """examples/ingest_and_embed.py is a living document: its
    ingest_and_embed() must parse real payloads through the tier
    cascade, gate out failed extractions, publish + reload the
    embedding model, and return the probe doc itself as an IVF hit."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "ingest_and_embed",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "ingest_and_embed.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    para = "spark shuffles data across executors " * 12
    payloads = spark.createDataFrame(
        [
            (1, f'<section id="S1"><p>{para}</p></section>', None, None,
             "an abstract long enough to clear the fifty char gate"),
            (2, None, None, f"1. Introduction\n{para}\nReferences\n",
             "an abstract long enough to clear the fifty char gate"),
            (3, None, None, None, "too short"),
        ],
        "doc_id long, arxiv_html string, grobid_tei string,"
        " pdf_text string, abstract string",
    )
    out = mod.ingest_and_embed(spark, payloads, str(tmp_path / "demo"))
    assert out["n_payloads"] == 3
    assert out["n_extracted"] == 2  # doc 3 fails every gate
    assert out["method_distribution"] == {
        "arxiv_html": 1, "regex_pdf": 1,
    }
    # the probe (lowest vec_id) must surface in its own top-k
    assert 1 in out["top_hits"]
    assert os.path.isdir(out["model_dir"])
    assert os.path.isdir(os.path.join(out["index_dir"], "vectors"))
