"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, a different seed different ones.

The benchmark reads nothing outside its checkout, so it cannot sample
the engine's sf lakes; it generates tables with their measured shape
instead. ``SF01_PROFILE`` holds what ``profile()`` measures on the
sf0.1 lake (``python3 -m perfbench.inputs <sf_dir>`` prints it again),
and the generator's rates come from it: 10 to 99 words per document
(not counting a `` dup`` suffix) drawn uniformly from a 30-word
vocabulary, 5% near-duplicates made by
appending `` dup`` to another document, 0.16% exact duplicates,
languages 41% ``en`` and the rest near-evenly split, ``src<doc_id %
20>`` sources; 4 line items per order on uniform order, part and
supplier keys, one part per 7.5 orders, one supplier per 20 parts,
one customer per 10 orders. ``perfbench/tests/test_perfbench.py``
checks a generated lake against the profile.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ("ECONOMY", "LARGE", "SMALL", "MEDIUM", "STANDARD", "PROMO")

# profile() of the sf0.1 lake (5000 documents, 150k orders)
SF01_PROFILE = {
    "words_min": 10,
    "words_max": 99,
    "words_mean": 54.09,
    "vocab": 30,
    "lang_en": 0.412,
    "sources": 20,
    "near_dup_share": 0.05,
    "exact_dup_share": 0.0016,
    "lines_per_order": 4.0,
    "orders_per_part": 7.5,
    "parts_per_supplier": 20.0,
    "orders_per_customer": 10.0,
}

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    """One parquet file per table, written as a directory holding a
    single part file so Spark and DuckDB read it the same way as the
    tables the engine itself writes."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def make_documents(
    rng: np.random.Generator, n: int, first_id: int = 0
) -> list[dict]:
    """``n`` documents with ids ``first_id..first_id+n-1``, of which
    ``near_dup_share`` are near-duplicates (another document's text plus
    `` dup``) and ``exact_dup_share`` exact text duplicates. Every
    duplicate pairs two documents no other duplicate touches."""
    docs = []
    for i in range(n):
        n_words = int(
            rng.integers(SF01_PROFILE["words_min"], SF01_PROFILE["words_max"] + 1)
        )
        text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words))
        docs.append(
            {
                "doc_id": first_id + i,
                "text": text,
                "lang": LANGS[int(rng.choice(len(LANGS), p=LANG_P))],
                "source": f"src{i % N_SOURCES}",
            }
        )
    # disjoint pairs: near-dup components have the same shape under
    # every seed
    n_near = round(n * SF01_PROFILE["near_dup_share"])
    n_exact = max(round(n * SF01_PROFILE["exact_dup_share"]), 1)
    picks = rng.choice(n, size=2 * (n_near + n_exact), replace=False)
    for a, b in picks.reshape(-1, 2)[:n_near]:
        docs[b]["text"] = docs[a]["text"] + " dup"
    for a, b in picks.reshape(-1, 2)[n_near:]:
        docs[b]["text"] = docs[a]["text"]
    for d in docs:
        d["n_chars"] = len(d["text"])
    return docs


def docs_table(docs: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(docs, schema=DOCS_SCHEMA)


def write_documents(docs: list[dict], lake: str) -> None:
    _write(docs_table(docs), os.path.join(lake, "documents.parquet"))


def write_tpch(rng: np.random.Generator, lake: str, n_orders: int) -> None:
    """``orders``, ``lineitem`` and ``part`` in the sf lakes' ratios
    (``SF01_PROFILE``), with their value ranges."""
    n_parts = max(round(n_orders / SF01_PROFILE["orders_per_part"]), 10)
    n_supp = max(round(n_parts / SF01_PROFILE["parts_per_supplier"]), 1)
    n_cust = max(round(n_orders / SF01_PROFILE["orders_per_customer"]), 1)
    n_lines = round(SF01_PROFILE["lines_per_order"] * n_orders)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
                "p_name": pa.array(
                    np.array(names)[rng.integers(0, len(names), n_parts)]
                ),
                "p_brand": pa.array(
                    np.char.add("Brand#", rng.integers(1, 26, n_parts).astype(str))
                ),
                "p_type": pa.array(
                    np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_parts)]
                ),
                "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_parts) % 1000) * 0.1, 1),
            }
        ),
        os.path.join(lake, "part.parquet"),
    )
    day = np.datetime64("1995-01-01", "us")
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n_cust, n_orders), pa.int64()
                ),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]
                ),
                "o_totalprice": np.round(rng.uniform(900, 500000, n_orders), 2),
                "o_orderdate": pa.array(
                    day + rng.integers(0, 2405, n_orders) * np.timedelta64(1, "D")
                ),
                "o_orderpriority": pa.array(
                    np.array(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                    )[rng.integers(0, 5, n_orders)]
                ),
            }
        ),
        os.path.join(lake, "orders.parquet"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
                "l_suppkey": pa.array(
                    rng.integers(0, n_supp, n_lines), pa.int64()
                ),
                "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
                "l_discount": rng.integers(0, 11, n_lines) / 100.0,
                "l_tax": rng.integers(0, 9, n_lines) / 100.0,
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]
                ),
                "l_linestatus": pa.array(
                    np.array(["F", "O"])[rng.integers(0, 2, n_lines)]
                ),
                "l_shipdate": pa.array(
                    day + rng.integers(1, 2500, n_lines) * np.timedelta64(1, "D")
                ),
            }
        ),
        os.path.join(lake, "lineitem.parquet"),
    )


def make_jsonl_batch(
    rng: np.random.Generator,
    existing: list[dict],
    batch_dir: str,
    n_new: int,
    n_overlap: int,
    n_exact_dup: int,
    n_malformed: int,
    n_shards: int = 4,
) -> dict:
    """A new batch of JSONL shards arriving at the lake.

    The batch holds ``n_new`` documents with fresh ids (of which ~5%
    are near-duplicates of lake documents), ``n_overlap`` lines that
    re-send existing ``doc_id``s with changed text (an upsert must not
    insert them), ``n_exact_dup`` byte-identical repeats of new lines,
    and ``n_malformed`` truncated lines. Returns the design counts the
    write-path checks compare against, plus the rows an
    insert-if-absent upsert must add."""
    first_id = max(d["doc_id"] for d in existing) + 1
    new = make_documents(rng, n_new, first_id)
    for i in rng.choice(n_new, size=n_new // 20, replace=False):
        src = existing[int(rng.integers(0, len(existing)))]["text"] + " dup"
        new[i]["text"], new[i]["n_chars"] = src, len(src)
    overlap = [
        dict(existing[int(i)], text="re-sent " + existing[int(i)]["text"])
        for i in rng.choice(len(existing), size=n_overlap, replace=False)
    ]
    for d in overlap:
        d["n_chars"] = len(d["text"])
    lines = [json.dumps(d) for d in new + overlap]
    lines += [lines[int(i)] for i in rng.choice(n_new, size=n_exact_dup)]
    lines += [
        lines[int(i)][: int(rng.integers(5, 30))]
        for i in rng.choice(n_new, size=n_malformed)
    ]
    order = rng.permutation(len(lines))
    os.makedirs(batch_dir, exist_ok=True)
    for s in range(n_shards):
        with open(os.path.join(batch_dir, f"part-{s:05d}.jsonl"), "w") as f:
            f.writelines(lines[int(i)] + "\n" for i in order[s::n_shards])
    return {
        "valid_lines": len(lines) - n_malformed,
        "malformed_lines": n_malformed,
        "inserted": n_new,
        "inserted_rows": new,
    }


def probe_ids(rng: np.random.Generator, docs: list[dict], n: int) -> list[int]:
    """Documents whose embeddings serve as IVF probe vectors."""
    return [docs[int(i)]["doc_id"] for i in rng.choice(len(docs), size=n)]


def profile(lake: str) -> dict:
    """The ``SF01_PROFILE`` figures of the lake under ``lake`` (a
    directory of ``<table>.parquet`` files or directories)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "orders", "lineitem", "part", "supplier", "customer"):
            path = os.path.join(lake, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            if os.path.exists(path) or "*" in path:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        tables = {r[0] for r in con.execute("SHOW TABLES").fetchall()}

        def one(sql):
            return con.execute(sql).fetchone()[0]

        out = {}
        if "documents" in tables:
            words = "len(string_split(text, ' ')) - (text LIKE '% dup')::int"
            lo, hi, mean = con.execute(
                f"SELECT min({words}), max({words}), avg({words}) FROM documents"
            ).fetchone()
            out.update(
                words_min=lo,
                words_max=hi,
                words_mean=round(mean, 2),
                vocab=one(
                    "SELECT count(DISTINCT w) FROM (SELECT unnest("
                    "string_split(text, ' ')) AS w FROM documents) WHERE w <> 'dup'"
                ),
                lang_en=round(one("SELECT avg((lang = 'en')::int) FROM documents"), 3),
                sources=one("SELECT count(DISTINCT source) FROM documents"),
                near_dup_share=round(
                    one("SELECT avg((text LIKE '% dup')::int) FROM documents"), 4
                ),
                exact_dup_share=round(
                    one("SELECT 1 - count(DISTINCT text) / count(*) FROM documents"), 4
                ),
            )
        if {"orders", "lineitem", "part"} <= tables:
            out["lines_per_order"] = round(
                one("SELECT (SELECT count(*) FROM lineitem) / count(*) FROM orders"), 2
            )
            out["orders_per_part"] = round(
                one("SELECT (SELECT count(*) FROM orders) / count(*) FROM part"), 2
            )
            out["parts_per_supplier"] = round(
                one(
                    "SELECT (SELECT count(*) FROM part) / "
                    "count(DISTINCT l_suppkey) FROM lineitem"
                ),
                2,
            )
            out["orders_per_customer"] = round(
                one("SELECT count(*) / count(DISTINCT o_custkey) FROM orders"), 2
            )
        return out
    finally:
        con.close()


if __name__ == "__main__":
    print(json.dumps(profile(sys.argv[1]), indent=2))
