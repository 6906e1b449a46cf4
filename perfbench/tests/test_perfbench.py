"""Tests for the benchmark's own code.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import inputs, run
from perfbench.trace import (
    Span,
    Tracer,
    parse_sql_metric,
    self_times,
    union_length,
)
from perfbench.workloads import WORKLOADS, Caller

ROOT = run.ROOT
TINY = {
    "lake_etl": {
        "lake_docs": 301,
        "new_docs": 60,
        "overlap": 20,
        "exact_dups": 5,
        "malformed": 3,
    },
    "embed_search": {"docs": 200, "probes": 3, "warm_probes": 1},
    "dedup_graph": {"docs": 120, "orders": 600},
}


def tree_digest(path):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    digests = []
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl = WORKLOADS[name](str(tmp_path / sub), seed, TINY[name])
        wl.prepare()
        digests.append(tree_digest(wl.work))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_generated_lake_has_the_sf01_profile(tmp_path):
    rng = np.random.default_rng(5)
    inputs.write_documents(inputs.make_documents(rng, 5000), str(tmp_path))
    inputs.write_tpch(rng, str(tmp_path), 15000)
    got, want = inputs.profile(str(tmp_path)), inputs.SF01_PROFILE
    assert set(got) == set(want)
    for k in ("words_mean", "lang_en", "exact_dup_share"):
        assert got[k] == pytest.approx(want[k], rel=0.05, abs=0.001), k
    for k in set(want) - {"words_mean", "lang_en", "exact_dup_share"}:
        assert got[k] == pytest.approx(want[k], rel=0.01), k


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("root", 0.0, 10.0, None, 1),
        Span("a", 1.0, 3.0, 0, 1),
        Span("b", 2.0, 5.0, 0, 1),  # overlaps a: covered is 1..5
        Span("c", 8.0, 12.0, 0, 1),  # runs past the parent: clipped to 8..10
        Span("a.child", 1.5, 2.5, 1, 1),
        Span("other", 20.0, 21.0, None, 1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0, 1.0])


def test_tracer_records_parents_and_is_inert_when_disabled():
    tracer = Tracer(enabled=False)
    with tracer.span("x") as s:
        assert s is None
    assert tracer.spans == []
    tracer.enabled = True
    with tracer.span("outer"):
        with tracer.span("inner", hit=True):
            pass
    outer, inner = tracer.spans
    assert (outer.parent, inner.parent, inner.attrs) == (None, 0, {"hit": True})
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_parse_sql_metric():
    assert parse_sql_metric("703") == 703
    assert parse_sql_metric("56.2 KiB") == pytest.approx(56.2 * 1024)
    text = "total (min, med, max (stageId: taskId))\n15.2 s (3.8 s, 3.8 s)"
    assert parse_sql_metric(text) == pytest.approx(15.2)
    assert parse_sql_metric("total (min)\n971 ms (1 ms)") == pytest.approx(0.971)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert run.percentile(values, 0.5) == 50
    assert run.percentile(values, 0.9) == 90
    assert run.percentile([3.0], 0.9) == 3.0


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_smoke_tiny(spark, tmp_path, name):
    """One warm and one traced iteration at tiny scale: every check
    passes and the traced iteration yields every per-layer metric."""
    from perfbench.trace import SparkReadout

    wl = WORKLOADS[name](str(tmp_path), 3, TINY[name])
    wl.prepare()
    wl.start(spark)
    tracer = Tracer(spark.sparkContext)
    caller = Caller(spark, tracer)
    wl.restore()
    assert wl.check(wl.iteration(caller, warm=True)) == []

    readout = SparkReadout(spark)
    readout.python_metrics()  # skip executions of earlier iterations
    wl.restore()
    tracer.enabled, tracer.run_id = True, 1
    with run.instrument(tracer):
        out = wl.iteration(caller)
    tracer.enabled = False
    assert wl.check(out) == []
    assert caller.failed == 0
    m = run.layer_metrics(tracer, readout, wl, out, 1.0)
    assert set(m) == set(run.PER_LAYER)
    assert m["plans.jobs"] >= 1 and m["spark.stages"] >= 1
    if name == "lake_etl":
        assert m["sinks.rows_inserted"] == TINY[name]["new_docs"]
        assert m["sources.rows_quarantined"] == TINY[name]["malformed"]
        assert m["memo.builds"] == 0 and m["python.bytes_sent"] == 0
    if name == "embed_search":
        assert m["python.bytes_sent"] > 0 and m["similarity.search_ms"] > 0
    if name == "dedup_graph":
        assert m["memo.builds"] >= 3 and m["memo.hits"] >= 1
