"""The benchmark's three workloads.

Each workload generates its inputs from the seed (before the Spark
session exists), restores identical state before every iteration
(untimed), runs one iteration as a closed loop with a single client
(each call starts when the previous one returned), and checks the
iteration's outputs afterwards (untimed).

``lake_etl``      the nightly read/write path: JSONL ingest -> parquet
                  upsert -> relational pipelines -> JSON artifact. No
                  Python workers, no memo: the control workload for
                  Python-kernel and memo changes.
``embed_search``  the Python/Arrow boundary and the vector index: two
                  mapInPandas pipelines, embed -> IVF build, then
                  partition-pruned point probes.
``dedup_graph``   memo build versus reuse and many-job iterative
                  plans: seven near-dup and co-purchase graph queries
                  over a cold memo.

Layer -> end-to-end mapping (which end-to-end metric a per-layer
metric should move, and where):

- ``session.*``                 -> ``setup_s``, all workloads
- ``plans.*``, ``spark.*``      -> ``run_s``; build time mostly on
                                   lake_etl, build jobs and driver gap
                                   on dedup_graph
- ``memo.*``                    -> ``run_s`` on dedup_graph (stays 0 on
                                   lake_etl)
- ``sources.*``, ``sinks.*``    -> ``publish_s``, ``run_s`` on lake_etl
- ``similarity.*``, ``python.*``-> ``run_s`` and ``publish_s`` on
                                   embed_search
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import traceback
from contextlib import contextmanager

import numpy as np

from perfbench import inputs


# ----------------------------------------------------------------------
# Output canonicalisation (the oracle-audit canon: columns sorted by
# name, floats rounded to 6 dp, rows sorted, sha256 of the lines)
# ----------------------------------------------------------------------


def canon(columns, rows) -> str:
    import pandas as pd

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if v is None or (
                not isinstance(v, (list, tuple, np.ndarray)) and pd.isna(v)
            ):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{round(v, 6):.6f}")
            elif isinstance(v, (list, tuple)):
                vals.append(
                    str([round(x, 6) if isinstance(x, float) else x for x in v])
                )
            else:
                vals.append(str(v))
        lines.append("|".join(vals))
    lines.sort()
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_hashes(lake: str, names, tables) -> dict[str, str]:
    """DuckDB hash of each named query's registered oracle SQL over
    the parquet tables under ``lake``."""
    import duckdb

    from citeconnect_datapipeline_spark.plans.registry import get_oracles

    oracles = get_oracles()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{lake}/{t}.parquet/*.parquet')"
            )
        out = {}
        for n in names:
            df = con.execute(oracles[n]).fetchdf()
            out[n] = canon(list(df.columns), list(df.itertuples(index=False)))
        return out
    finally:
        con.close()


def spark_hash(df_columns, rows) -> str:
    import pandas as pd

    pdf = pd.DataFrame.from_records(
        [tuple(r) for r in rows], columns=df_columns
    )
    return canon(list(pdf.columns), list(pdf.itertuples(index=False)))


def dir_files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(suffix)]
    return out


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(os.path.getsize(f) for f in dir_files(path, suffix))


def rmtree(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# ----------------------------------------------------------------------
# Timed calls
# ----------------------------------------------------------------------


class CallFailed(Exception):
    """A timed call raised; the iteration is abandoned."""


class Caller:
    """Runs the timed calls of one iteration: each call is one attempt,
    wrapped in a span (a no-op when tracing is off)."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def _attempt(self, name):
        self.attempted += 1
        try:
            yield
        except Exception as e:
            self.failed += 1
            traceback.print_exc()
            raise CallFailed(name) from e

    def call(self, name: str, fn, *args, **kwargs):
        with self._attempt(name), self.tracer.span(name) as sp:
            with self.tracer.job_group(sp, "exec"):
                return fn(*args, **kwargs)

    def query(self, name: str, lake: str, action=None):
        """Build registered query ``name`` over ``lake`` and run its
        action (``collect`` unless given)."""
        from citeconnect_datapipeline_spark.plans.registry import get_queries

        fn = get_queries()[name]
        with self._attempt(name), self.tracer.span("plans." + name) as sp:
            t0 = time.perf_counter()
            with self.tracer.job_group(sp, "build"):
                df = fn(self.spark, lake)
            if sp is not None:
                sp.attrs["build_s"] = time.perf_counter() - t0
            with self.tracer.job_group(sp, "exec"):
                if action is None:
                    return df.columns, df.collect()
                return df.columns, action(df)


# ----------------------------------------------------------------------
# Workloads
# ----------------------------------------------------------------------


class Workload:
    name = ""
    sizes: dict = {}
    # queries checked against their DuckDB oracle, and the tables read
    ORACLE_QUERIES: tuple[str, ...] = ()
    ORACLE_TABLES: tuple[str, ...] = ()
    # untimed iterations before timing starts (counted in setup_s), and
    # the input sizes they run on (None: the timed inputs)
    warm_runs = 1
    warm_sizes: dict | None = None

    def __init__(self, work: str, seed: int, sizes: dict | None = None):
        self.work = os.path.join(work, f"{self.name}-{seed}")
        self.seed = seed
        self.sizes = dict(self.sizes, **(sizes or {}))
        self.lake = os.path.join(self.work, "lake")
        self.oracle: dict[str, str] = {}

    def rng(self) -> np.random.Generator:
        return np.random.default_rng([self.seed, sum(map(ord, self.name))])

    def prepare(self) -> dict:
        """Write the seeded inputs; return their sizes (rows, bytes)."""
        raise NotImplementedError

    def start(self, spark) -> None:
        """Per-session set-up after the session exists (untimed)."""
        self.spark = spark
        if self.ORACLE_QUERIES:
            self.oracle = oracle_hashes(
                self.oracle_lake(), self.ORACLE_QUERIES, self.ORACLE_TABLES
            )

    def restore(self) -> None:
        pass

    def iteration(self, caller: Caller, warm: bool = False) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def _check_oracles(self, out: dict) -> list[str]:
        return [
            f"{n}: result hash differs from the DuckDB oracle"
            for n, (cols, rows) in sorted(out["rows"].items())
            if spark_hash(cols, rows) != self.oracle[n]
        ]

    def oracle_lake(self) -> str:
        return self.lake


class LakeEtl(Workload):
    name = "lake_etl"
    sizes = {
        "lake_docs": 8001,
        "new_docs": 1600,
        "overlap": 600,
        "exact_dups": 80,
        "malformed": 20,
    }
    ORACLE_TABLES = ("documents",)
    # its plans keep getting faster over the first full-size iterations:
    # after two warm-up iterations the next still took ~6.9 s against
    # ~5.0 s for later ones (4-core VM), which split run_s in two modes
    warm_runs = 3
    QUERIES = (
        "papers_pipeline_e2e",
        "curation_pipeline_e2e",
        "filter_attrition_funnel",
    )
    ORACLE_QUERIES = QUERIES + ("mitigation_recommendations",)

    def prepare(self) -> dict:
        rng = self.rng()
        rmtree(self.work)
        docs = inputs.make_documents(rng, self.sizes["lake_docs"])
        self.pristine = os.path.join(self.work, "pristine")
        inputs.write_documents(docs, self.pristine)
        self.batch = os.path.join(self.work, "batch")
        self.design = inputs.make_jsonl_batch(
            rng,
            docs,
            self.batch,
            self.sizes["new_docs"],
            self.sizes["overlap"],
            self.sizes["exact_dups"],
            self.sizes["malformed"],
        )
        self.expected = os.path.join(self.work, "expected")
        inputs.write_documents(
            docs + self.design.pop("inserted_rows"), self.expected
        )
        self.target = os.path.join(self.lake, "documents.parquet")
        self.zone = os.path.join(self.work, "zone")
        self.artifact = os.path.join(self.work, "artifacts", "slices.json")
        self.pristine_bytes = dir_bytes(self.pristine)
        self.batch_bytes = dir_bytes(self.batch, ".jsonl")
        return {
            "lake_rows": len(docs),
            "lake_bytes": self.pristine_bytes,
            "batch_lines": self.design["valid_lines"]
            + self.design["malformed_lines"],
            "batch_bytes": self.batch_bytes,
        }

    def oracle_lake(self) -> str:
        return self.expected

    def restore(self) -> None:
        rmtree(
            self.lake,
            self.zone,
            self.zone + "_quarantine",
            os.path.dirname(self.artifact),
        )
        os.makedirs(self.lake)
        shutil.copytree(
            os.path.join(self.pristine, "documents.parquet"), self.target
        )

    def iteration(self, caller: Caller, warm: bool = False) -> dict:
        from citeconnect_datapipeline_spark import api

        spark = self.spark
        t0 = time.perf_counter()
        counts = caller.call(
            "sources.ingest_jsonl_to_zone",
            api.sources.ingest_jsonl_to_zone,
            spark,
            self.batch,
            self.zone,
            "batch-1",
        )
        inserted = caller.call(
            "sinks.upsert_parquet",
            lambda: api.sinks.upsert_parquet(
                spark,
                api.sinks.read_zone(spark, self.zone, "batch-1").drop("run_id"),
                self.target,
                "doc_id",
            ),
        )
        publish_s = time.perf_counter() - t0
        rows = {n: caller.query(n, self.lake) for n in self.QUERIES}
        # the artifact write is the slices' action: a call of its own,
        # so its jobs and time are not also counted as the query's
        cols, slices = caller.query(
            "mitigation_recommendations", self.lake, action=lambda df: df
        )
        caller.call(
            "sinks.write_json_artifact",
            api.sinks.write_json_artifact,
            slices,
            self.artifact,
        )
        rows["mitigation_recommendations"] = (cols, self.read_artifact(cols))
        return {
            "publish_s": publish_s,
            "counts": counts,
            "inserted": inserted,
            "rows": rows,
        }

    def read_artifact(self, cols):
        with open(self.artifact) as f:
            return [tuple(r[c] for c in cols) for r in json.load(f)]

    def write_stats(self) -> dict:
        """Parquet files and bytes the iteration wrote: zone run,
        quarantine, and the rewritten upsert target."""
        files = (
            dir_files(self.zone)
            + dir_files(self.zone + "_quarantine")
            + dir_files(self.target)
        )
        written = sum(os.path.getsize(f) for f in files)
        grown = dir_bytes(self.target) - self.pristine_bytes
        return {
            "files": len(files),
            "bytes": written,
            "write_amp": written / max(grown, 1),
        }

    def check(self, out: dict) -> list[str]:
        import pyarrow.parquet as pq

        fails = []
        d = self.design
        if out["counts"] != {
            "n_valid": d["valid_lines"],
            "n_quarantined": d["malformed_lines"],
        }:
            fails.append(f"ingest counts {out['counts']} != design {d}")
        if out["inserted"] != d["inserted"]:
            fails.append(f"upsert inserted {out['inserted']} != {d['inserted']}")
        ids = pq.read_table(self.target, columns=["doc_id"]).column(0)
        expected_rows = self.sizes["lake_docs"] + d["inserted"]
        if len(ids) != expected_rows or len(set(ids.to_pylist())) != len(ids):
            fails.append(
                f"target rows {len(ids)} != distinct keys / {expected_rows}"
            )
        return fails + self._check_oracles(out)


class EmbedSearch(Workload):
    name = "embed_search"
    sizes = {"docs": 2000, "probes": 10, "warm_probes": 5}
    E2E = ("chunk_embed_search_e2e", "sentence_chunk_embed_e2e")

    def prepare(self) -> dict:
        rng = self.rng()
        rmtree(self.work)
        self.docs = inputs.make_documents(rng, self.sizes["docs"])
        inputs.write_documents(self.docs, self.lake)
        self.doc_ids = {d["doc_id"] for d in self.docs}
        self.probe_ids = inputs.probe_ids(rng, self.docs, self.sizes["probes"])
        self.index = os.path.join(self.work, "index")
        return {
            "docs_rows": len(self.docs),
            "docs_bytes": dir_bytes(self.lake),
            "probes": len(self.probe_ids),
        }

    def start(self, spark) -> None:
        from citeconnect_datapipeline_spark.api import similarity

        super().start(spark)
        model = similarity.HashProjectionModel.get()
        text = {d["doc_id"]: d["text"] for d in self.docs}
        self.probe_vecs = model.encode([text[i] for i in self.probe_ids])
        self._emb = None

    def restore(self) -> None:
        if self._emb is not None:
            self._emb.unpersist()
            self._emb = None
        rmtree(self.index)

    def iteration(self, caller: Caller, warm: bool = False) -> dict:
        from pyspark.sql import functions as F

        from citeconnect_datapipeline_spark.api import similarity
        from citeconnect_datapipeline_spark.sources.tables import load_table

        spark = self.spark
        rows = {n: caller.query(n, self.lake) for n in self.E2E}
        t0 = time.perf_counter()
        # the embeddings are materialised inside the embed span so the
        # encoder's cost is not folded into the index build
        self._emb = caller.call(
            "similarity.embed_with_model",
            lambda: similarity.embed_with_model(
                load_table(spark, self.lake, "documents"),
                similarity.HashProjectionModel.factory(),
            )
            .select(
                F.col("doc_id").alias("vec_id"),
                "embedding",
                (F.col("doc_id") % 10).cast("int").alias("label"),
            )
            .localCheckpoint(),
        )
        caller.call(
            "similarity.build_ivf_index",
            similarity.build_ivf_index,
            self._emb,
            self.index,
        )
        publish_s = time.perf_counter() - t0
        n = self.sizes["warm_probes"] if warm else len(self.probe_vecs)
        probes, lat = [], []
        for qv in self.probe_vecs[:n]:
            t = time.perf_counter()
            probes.append(
                caller.call(
                    "similarity.search_ivf_index",
                    lambda: similarity.search_ivf_index(
                        spark, self.index, qv, k=10
                    ).collect(),
                )
            )
            lat.append(time.perf_counter() - t)
        return {
            "publish_s": publish_s,
            "rows": rows,
            "probes": probes,
            "probe_s": lat,
        }

    def check(self, out: dict) -> list[str]:
        fails = []
        for name, (cols, rows) in out["rows"].items():
            sims = [r["similarity"] for r in rows]
            if len(rows) != 10:
                fails.append(f"{name}: {len(rows)} rows, want 10")
            if any(a < b for a, b in zip(sims, sims[1:])):
                fails.append(f"{name}: similarity increases")
            if not {r["doc_id"] for r in rows} <= self.doc_ids:
                fails.append(f"{name}: doc_id not in the input")
        for pid, rows in zip(self.probe_ids, out["probes"]):
            top = [r["vec_id"] for r in rows if r["similarity"] >= 0.999999]
            if len(rows) != 10 or pid not in top:
                fails.append(f"probe {pid}: not its own nearest neighbour")
        return fails


class DedupGraph(Workload):
    name = "dedup_graph"
    sizes = {"docs": 500, "orders": 15000}
    # warming on small inputs compiles the same plans in about 6 s less
    # than a full-size iteration, and the first timed iteration after it
    # is already as fast as later ones
    warm_sizes = {"docs": 120, "orders": 600}
    ORACLE_TABLES = ("documents", "orders", "lineitem", "part")
    QUERIES = (
        "ngram_jaccard_topk",
        "neardup_components",
        "neardup_keep_best",
        "part_copurchase_pagerank",
        "copurchase_triangles",
        "copurchase_link_prediction",
        "lpa_communities_topk",
    )
    ORACLE_QUERIES = QUERIES

    def prepare(self) -> dict:
        rng = self.rng()
        rmtree(self.work)
        inputs.write_documents(
            inputs.make_documents(rng, self.sizes["docs"]), self.lake
        )
        inputs.write_tpch(rng, self.lake, self.sizes["orders"])
        return {
            "docs_rows": self.sizes["docs"],
            "lineitem_rows": 4 * self.sizes["orders"],
            "lake_bytes": dir_bytes(self.lake),
        }

    def restore(self) -> None:
        from citeconnect_datapipeline_spark import memo

        memo.invalidate()

    def iteration(self, caller: Caller, warm: bool = False) -> dict:
        t0 = time.perf_counter()
        rows = {}
        for n in self.QUERIES:
            rows[n] = caller.query(n, self.lake)
            if n == "neardup_keep_best":
                publish_s = time.perf_counter() - t0
        return {"publish_s": publish_s, "rows": rows}

    def check(self, out: dict) -> list[str]:
        return self._check_oracles(out)


WORKLOADS = {w.name: w for w in (LakeEtl, EmbedSearch, DedupGraph)}
