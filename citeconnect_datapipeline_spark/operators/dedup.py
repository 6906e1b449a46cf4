"""Deduplication operators (SURVEY.md SS2.4 D1-D7 + training-data
dedup suite: exact-hash, n-gram Jaccard, MinHash-LSH, SimHash).

The reference dedups on exact ``paperId`` with pandas
``drop_duplicates(keep='first')`` (Ingestion/main.py:576-595,
Processing/upload_papers_to_supabase.py:306-316) and detects
duplicates for QA via ``duplicated().sum()``
(Validation/schema_validator.py:163-179). "Keep first" relies on
pandas row order; Spark has no row order, so every keep-first here is
a ``row_number()`` window over an explicit deterministic tie-break --
the same ordering is encoded in the oracle SQL (SURVEY.md SS7.4).

Near-duplicate detection (the north-star extension, SURVEY.md T9) is
built shuffle-consciously: shingle -> per-doc distinct -> self-join on
shingle (the blocking key) -> per-pair overlap count -> Jaccard. The
LSH variant replaces the full shingle join with banded min-hash
buckets so candidate generation is O(near-dups), not O(n^2) -- that is
the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import literal_grid, load_table

# Shared shingling: lowercase, split on non-alphanumerics, 3-word
# shingles. Equality classes kept identical to the DuckDB oracles'
# string shingles (concat_ws ' ' over space-free words is injective).
def _shingle_hash_expr(text_col: str, n: int):
    """Column expression: DISTINCT 64-bit shingle-hash array of a text
    column.

    * The shingle is hashed IN the transform lambda via multi-arg
      ``xxhash64(w_i, ..., w_{i+n-1})`` — no shingle string and no
      sliced sub-array are ever allocated, and everything downstream
      (shuffles, joins, signatures) carries 8-byte longs instead of
      ~20-40-byte strings.
    * Dedup is PER DOC via ``array_distinct`` inside the row — set
      semantics need no global ``distinct`` shuffle because shingle
      sets are per-document to begin with. Exploded consumers get
      (doc_id, sh) uniqueness for free, and per-doc set sizes are a
      ``size()`` — not a groupBy.
    """
    words = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    return F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))
            ),
            # F.get (0-based) not element_at: past-the-end access must
            # yield NULL (xxhash64 skips it — short docs get a shorter
            # shingle, matching the string form's behavior), while
            # element_at THROWS under ANSI mode for a 1-2 word doc.
            lambda i: F.xxhash64(
                *[F.get(words, i + j - 1) for j in range(n)]
            ),
        )
    )


def _nonempty_filter(text_col: str):
    # the only ''-shingle the string form filtered out is the
    # no-alphanumeric-text doc (words == ['']): drop it up front
    words = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    return ~((F.size(words) == 1) & (F.element_at(words, 1) == F.lit("")))


def _shingle_arrow_stage(
    df: DataFrame,
    text_col: str = "text",
    mode: str = "explode",
    n: int = 3,
    key_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """One mapInArrow stage computing shingle-derived outputs with
    the vectorized XXH64 kernel (functions/xxh64.py) — bit-identical
    to the Catalyst ``transform(sequence, xxhash64(get,get,get))``
    expression it replaces, at vectorized-numpy speed instead of
    ~35 us per shingle of interpreted-HOF evaluation (guide §4.2;
    kernel property-tested vs F.xxhash64 in tests/test_xxh64_kernel.py,
    explode mode equality-tested end-to-end on the lake there too).

    Modes (each fuses the downstream per-row arithmetic into the
    same batch, so nothing per-shingle ever reaches an exchange):
      explode  -> (key_col, sh):   per-doc DISTINCT shingle hashes
      sizes    -> (key_col, n):    per-doc distinct-shingle count
      bands    -> (doc_id, band_idx, band_hash): MinHash-LSH band
                  keys (num_hashes salted mins, banded band_size-at-
                  a-time, band hash = chained xxhash64 of the mins)
      simhash  -> (doc_id, simhash): 32-bit SimHash fingerprint
                  (per-bit +-1 votes over the distinct shingle set)

    Only (key_col, split words) cross the Python boundary — project
    early, guide §4.1 — and the per-task work is numpy over Arrow
    buffers, no per-row Python. The compact-source spread is kept:
    at verification SF the scan is 1-2 parquet partitions and the
    batch kernel should run on every core; at 100 TB the scan is
    already wide and the spread no-ops (sources/tables.py).
    """
    from ..sources.tables import spread_small_source

    df = spread_small_source(df)
    key_type = df.schema[key_col].dataType.simpleString()
    src = df.filter(_nonempty_filter(text_col)).select(
        key_col,
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+").alias("w"),
    )
    schema = {
        "explode": f"{key_col} {key_type}, sh long",
        "sizes": f"{key_col} {key_type}, n int",
        "bands": f"{key_col} {key_type}, band_idx int, band_hash long",
        "simhash": f"{key_col} {key_type}, simhash long",
    }[mode]
    nbands = num_hashes // band_size

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from ..functions import xxh64 as xk

        for batch in batches:
            if batch.num_rows == 0:
                continue
            keys = batch.column(0)
            buf, st, ln, doff = xk.arrow_words_to_flat(batch.column(1))
            h, soff = xk.shingle_hashes_flat(buf, st, ln, doff, n)
            d = batch.num_rows
            nsh = np.diff(soff)
            if mode in ("explode", "sizes", "simhash"):
                # array_distinct: per-doc distinct shingle hashes
                didx = np.repeat(np.arange(d), nsh)
                order = np.lexsort((h, didx))
                hs, ds = h[order], didx[order]
                keep = np.ones(len(hs), dtype=bool)
                keep[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
                hd, dd = hs[keep], ds[keep]
            if mode == "explode":
                yield pa.record_batch(
                    [
                        keys.take(pa.array(dd)),
                        pa.array(hd.view(np.int64)),
                    ],
                    names=[key_col, "sh"],
                )
            elif mode == "sizes":
                cnt = np.bincount(dd, minlength=d).astype(np.int32)
                yield pa.record_batch(
                    [keys, pa.array(cnt)], names=[key_col, "n"]
                )
            elif mode == "simhash":
                starts = np.flatnonzero(
                    np.r_[True, dd[1:] != dd[:-1]]
                )
                shifts = np.arange(32, dtype=np.uint64)
                bits = (
                    (hd[:, None] >> shifts[None, :]) & np.uint64(1)
                ).astype(np.int32)
                votes = np.add.reduceat(2 * bits - 1, starts, axis=0)
                fp = (
                    (votes > 0).astype(np.uint64)
                    << shifts[None, :]
                ).sum(axis=1, dtype=np.uint64)
                yield pa.record_batch(
                    [keys, pa.array(fp.view(np.int64))],
                    names=[key_col, "simhash"],
                )
            else:  # bands
                base = xk.hash_long(h, xk._SEED)
                sig = np.empty((d, num_hashes), dtype=np.int64)
                seg = soff[:-1]
                for i in range(num_hashes):
                    vi = np.ascontiguousarray(
                        xk.hash_int(i, base)
                    ).view(np.int64)
                    sig[:, i] = np.minimum.reduceat(vi, seg)
                bh = np.empty((d, nbands), dtype=np.uint64)
                for b in range(nbands):
                    acc = xk.hash_long(
                        sig[:, b * band_size], xk._SEED
                    )
                    for j in range(1, band_size):
                        acc = xk.hash_long(
                            sig[:, b * band_size + j], acc
                        )
                    bh[:, b] = acc
                yield pa.record_batch(
                    [
                        keys.take(
                            pa.array(
                                np.repeat(np.arange(d), nbands)
                            )
                        ),
                        pa.array(
                            np.tile(
                                np.arange(nbands, dtype=np.int32), d
                            )
                        ),
                        pa.array(bh.reshape(-1).view(np.int64)),
                    ],
                    names=[key_col, "band_idx", "band_hash"],
                )

    return src.mapInArrow(gen, schema)


def _shingle_hashes(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """doc_id -> exploded distinct shingle hashes (blocking keys).

    r12: the interpreted ``explode(transform(...xxhash64...))`` HOF
    (~35 us/shingle, the dominant per-task cost of every Jaccard
    consumer) is replaced by the vectorized Arrow stage — values
    bit-identical (kernel property-tested vs F.xxhash64), so every
    downstream posting list, pair count, and oracle hash is
    unchanged."""
    return _shingle_arrow_stage(df, text_col, "explode", n)


def _posting_pairs(buckets: DataFrame, pair_struct) -> DataFrame:
    """All ordered pairs from each posting list — one row per pair,
    streamed through a NESTED explode.

    ``buckets`` carries a sorted array column ``ds``;``pair_struct(x,
    y)`` builds the output struct for a pair (x earlier than y in the
    list). The outer explode emits one row per (element, rest-slice),
    the inner explode one row per pair — so the largest intermediate
    VALUE is one element's partner slice, O(m) per row, where the
    previous flatten-into-one-array form materialized the whole
    O(m^2) pair set of a bucket inside a single row: fine under a
    posting cap, an executor OOM for the uncapped LSH buckets (a
    boilerplate page duplicated 100k times puts every copy in ONE
    band bucket — 5e9 structs in one array value). Total pair count
    is the query's contract either way; this bounds per-row memory.
    """
    partners = buckets.select(
        F.explode(
            F.transform(
                "ds",
                lambda x, i: F.struct(
                    x.alias("x"),
                    F.slice(
                        F.col("ds"), i + 2, F.size(F.col("ds"))
                    ).alias("rest"),
                ),
            )
        ).alias("e")
    )
    return partners.select(
        F.explode(
            F.transform(
                "e.rest", lambda y: pair_struct(F.col("e.x"), y)
            )
        ).alias("p")
    )


def _pair_overlap_counts(
    sh: DataFrame, max_posting: int = 50
) -> DataFrame:
    """(doc_a, doc_b, common): shared-shingle counts via an INVERTED
    INDEX instead of a self-join. ``groupBy(sh)`` builds the posting
    list (ONE shuffle of the exploded shingle table — the self-join
    form shuffles it twice, once per side), singleton postings drop
    immediately, and each surviving bucket emits its sorted pair
    combinations map-side before the final (doc_a, doc_b) count.
    Equality classes identical to the join form (verified
    row-for-row).

    ``max_posting`` is the HOT-SHINGLE CAP, the guard that makes this
    safe at 100 TB: one stopword-like shingle shared by 1M documents
    would otherwise emit ~5*10^11 map-side pairs from a single
    bucket. A posting list longer than the cap is a blocking key
    with no discriminative power (it links everything to
    everything), so the whole bucket is dropped — the same move
    MinHash-LSH makes implicitly by hashing such shingles into many
    bands. Observed posting-list max on the lake is 7 (sf0.01) / 25
    (sf0.1), so the default cap of 50 provably does not change
    results at verification scale while bounding the worst case to
    O(max_posting^2) pairs per bucket."""
    buckets = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(
            (F.size("ds") > 1) & (F.size("ds") <= F.lit(max_posting))
        )
    )
    pairs = _posting_pairs(
        buckets,
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    return (
        pairs.select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )


def _shingle_set_sizes(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """doc_id -> distinct-shingle-set size (no explode, no groupBy
    shuffle — one value per doc straight out of the map stage).

    r12: fused into the vectorized Arrow stage ("sizes" mode) — the
    count is a bincount over the same per-doc distinct hashes the
    explode mode emits, bit-identical to
    ``F.size(_shingle_hash_expr(...))`` (equality-tested with edge
    docs in tests/test_xxh64_kernel.py)."""
    return _shingle_arrow_stage(df, text_col, "sizes", n)


@query(
    "dedup_keep_first",
    oracle="""
    WITH ranked AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_quantity
               ) AS rn
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM ranked WHERE rn = 1
    ORDER BY l_orderkey
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup with deterministic keep-first (D1/D2): pandas
    ``drop_duplicates(subset='paperId', keep='first')`` restated as a
    row_number window with an explicit tie-break. One shuffle on the
    dedup key; at scale AQE splits skewed keys."""
    li = load_table(spark, sf_dir, "lineitem")
    # The tie-break must be TOTAL over the projected columns: at
    # sf0.01, orderkey 13685 has two rows tying on (linenumber,
    # partkey) with different quantities, and a partial order lets
    # each engine pick a different "first" (SURVEY.md §7.4 risk).
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity"
    )
    return (
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("l_orderkey")
    )


@query(
    "dup_detection",
    oracle="""
    SELECT l_orderkey AS key, COUNT(*) AS n_dups
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) > 1
    ORDER BY n_dups DESC, key
    """,
)
def dup_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key QA scan (D7): ``df.duplicated().sum()`` /
    ``nunique()`` anomaly check (schema_validator.py:163-179) as a
    groupBy-count-filter. Partial aggregation makes this one cheap
    shuffle even on 100 TB of keys."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .orderBy(F.desc("n_dups"), "key")
    )


@query(
    "exact_hash_dedup",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, md5(lower(text)) AS content_hash
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, content_hash,
               ROW_NUMBER() OVER (
                   PARTITION BY content_hash ORDER BY doc_id
               ) AS rn
        FROM hashed
    )
    SELECT doc_id, content_hash FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
)
def exact_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup for training-data pipelines: hash the
    normalized text (md5 here; xxhash64 in production for speed),
    keep the lowest doc_id per hash. Shuffles on the 128-bit hash, so
    data skew is impossible by construction."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def jaccard_scored_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, common, n_a, n_b, jaccard) for every pair of
    documents sharing at least one (non-hot) shingle — the shared
    core of ``ngram_jaccard_topk`` and ``neardup_components``.

    NO broadcast hint on ``sizes``: it is one row PER DOCUMENT, so a
    forced broadcast ships O(N) rows to every executor at 100 TB (a
    driver/executor OOM hiding behind a hint). The genuinely small
    side is the pair table (O(near-dups) post-cap); size-aware AQE
    broadcasts whichever side actually fits — the pair table at
    scale, either at verification SF. A plan test asserts the hint
    stays gone (tests/test_plan_hygiene.py)."""
    sh = _shingle_hashes(docs)
    sizes = _shingle_set_sizes(docs)
    pairs = _pair_overlap_counts(sh)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
            (
                F.col("common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("common"))
            ).alias("jaccard"),
        )
    )


@query(
    "ngram_jaccard_topk",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common), 6)
               AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup (T9): 3-word shingles, inverted-index
    posting lists keyed on shingle, overlap count -> Jaccard, top-20
    most-similar pairs with (doc_a, doc_b) tie-break.

    Scale shape: pairs are generated only where docs actually share
    content (singleton postings drop before any pair exists), and the
    posting-list build is the single shuffle of the exploded shingle
    table (_pair_overlap_counts) -- see minhash_lsh_candidates for
    the sub-quadratic banded variant.
    """
    # Consumes the once-per-process materialized pair table (shared
    # with the CC labels and the threshold sweep); the pair-GENERATION
    # plan this query showcases is rendered from jaccard_scored_pairs
    # directly in PLANS.md (tools/regen_plans.py) — the registered
    # query pays the scan of the checkpointed table, not a rebuild.
    # 64-bit shingle hashes underneath: same pairs (collision odds
    # ~ |shingles|^2 / 2^64), a fraction of the shuffle bytes of
    # string shingles.
    return (
        _jaccard_pairs_materialized(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("jaccard"), 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


def minhash_band_hashes(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band keys per document —
    the reusable core of MinHash-LSH, shared by the batch candidate
    query and the streaming ingest dedup.

    Each shingle is hashed to a long ONCE; the ``num_hashes`` salted
    hashes derive from that long (xxhash64 over (long, salt) is far
    cheaper than re-hashing a string per hash function), and the
    whole signature lives and dies inside the map stage — shingle
    sets are per-document, so there is nothing to shuffle.

    r12: the per-row Catalyst ``aggregate`` fold (interpreted, no
    codegen for lambda bodies — 16 xxhash64 + 16 least per SHINGLE)
    is replaced by the vectorized Arrow stage's "bands" mode: one
    numpy pass computes all signatures and band keys per batch,
    bit-identical to the fold (equality-tested with edge docs in
    tests/test_xxh64_kernel.py), so LSH buckets, the streaming
    ingest dedup, and the rows-only contract are unchanged."""
    return _shingle_arrow_stage(
        docs,
        text_col,
        "bands",
        3,
        num_hashes=num_hashes,
        band_size=band_size,
    )


@query("minhash_lsh_candidates")  # rows-only: hash functions not portable SQL
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH candidate pairs (T9 at 100 TB scale).

    Signature: 16 min-hashes per doc (xxhash64 of shingle with per-
    function salt), banded 4x4; docs sharing any band bucket become
    candidates. Replaces the O(shared-shingle) self-join of
    ngram_jaccard_topk with an O(near-dups) bucket join: at 100 TB the
    shuffle carries 16 longs per doc instead of every shingle.

    Entirely native Spark SQL (no UDF): per-row signature fold ->
    band hashing (minhash_band_hashes) -> posting-list pair
    expansion on (band_idx, band_hash): ONE shuffle of the 4-rows-
    per-doc band table (the self-join form shuffles it twice), each
    bucket emits its sorted pair combinations map-side — the same
    inverted-index core as _pair_overlap_counts, with no cap needed
    because bucket size is bounded by the near-dup group size by
    construction. Deterministic given the data, but hash values are
    engine-specific -> rows-only correctness check (the value-
    verified twin is minhash_lsh_portable).
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_band_hashes(docs)
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = _posting_pairs(
        buckets,
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    return (
        pairs.select("p.doc_a", "p.doc_b")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


NEARDUP_JACCARD = 0.5  # data is bimodal (planted dups ~0.95, noise <0.1)


def _jaccard_pairs_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialized scored pair table (doc_a, doc_b, jaccard) for a
    lake dir — built once per process and shared by every consumer
    that needs the pairs AS DATA (the CC label builder, the
    threshold sweep). ``ngram_jaccard_topk`` deliberately does NOT
    use it: that query is the inverted-index plan showcase
    (PLANS.md) and stays a pure, un-checkpointed plan. The pair
    table is O(co-shingled pairs) — every pair sharing at least one
    non-hot shingle, bounded per shingle by the posting cap but
    strictly larger than the near-dup set on a non-bimodal corpus —
    and eagerly localCheckpoint-ed so consumers scan a materialized
    RDD instead of re-running shingle pair generation. That pinned
    storage is a deliberate trade at verification scale; a 100 TB
    deployment materializes the pair table to a ZONE at ingest
    (write_zone) rather than process memory, same consumers."""
    from ..memo import shared_intermediate

    return shared_intermediate(
        spark,
        "jaccard_pairs",
        (sf_dir,),
        lambda: jaccard_scored_pairs(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(),
    )


def _neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-intermediate cache: the near-dup CC label table
    for a lake dir, computed once per process and shared by every
    query that consumes cluster labels (``neardup_components``,
    ``neardup_keep_best``). A real deployment materializes this
    index at ingest — exactly as ``build_ivf_index`` does for
    vectors — so re-running pair generation + label propagation per
    consuming query would be benchmarking an anti-pattern, not a
    plan. The label table is already eagerly localCheckpoint-ed by
    ``connected_components`` (a small materialized RDD on the shared
    SparkContext, valid across ``newSession`` clones); the cache key
    is (context id, sf_dir), and an entry is rebuilt when the lake
    dir's ``table_version`` changes (an upsert into documents), so it
    never answers for an older lake."""
    from .graph import connected_components

    from ..memo import shared_intermediate

    def build() -> DataFrame:
        jpairs = (
            _jaccard_pairs_materialized(spark, sf_dir)
            .filter(F.col("jaccard") >= NEARDUP_JACCARD)
            .select("doc_a", "doc_b")
        )
        return connected_components(jpairs, src="doc_a", dst="doc_b")

    return shared_intermediate(
        spark, "neardup_labels", (sf_dir,), build
    )


@query(
    "neardup_components",
    oracle=f"""
    WITH RECURSIVE words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    jpairs AS (
        SELECT p.doc_a, p.doc_b
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common)
              >= {NEARDUP_JACCARD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           LEAST(src, MIN(dst)) AS component,
           src = LEAST(src, MIN(dst)) AS is_canonical
    FROM reach
    GROUP BY src
    ORDER BY component, doc_id
    """,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end (T9's final step, SURVEY.md
    SS2.10: "approxSimilarityJoin -> connected components keep-first"):
    Jaccard>=0.5 (NEARDUP_JACCARD) pairs become an undirected graph;
    connected components assign every near-dup doc a cluster id (the
    min doc_id reachable); ``is_canonical`` marks the one row per
    cluster a dedup pass would keep. Docs with no near-dup never enter
    the edge list (they are trivially canonical).

    Components run through ``operators.graph.connected_components``
    — alternating large-star/small-star (the hardening this
    docstring promised since round 2, now implemented): O(log^2 n)
    rounds on ANY graph shape including 10k-spoke stars and long
    chains, groupBy-min + equi-join per step (no collect_set, so a
    hub never materializes one giant row), localCheckpoint lineage
    cuts every few rounds, and a RAISE on non-convergence instead of
    silently-partial components. The driver loop carries only a
    convergence checksum per round, never data.

    The DuckDB oracle computes the same components with a recursive
    transitive-closure CTE -- tractable on the oracle's scale, while
    the Spark side's per-round cost is linear in edges."""
    labels = _neardup_labels(spark, sf_dir)
    return labels.select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("component"),
        (F.col("v") == F.col("label")).alias("is_canonical"),
    ).orderBy("component", "doc_id")


@query("simhash_fingerprints")  # rows-only: engine-specific hash bits
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (32-bit) for near-dup clustering.

    Per doc: each shingle votes its hash bits (+1/-1); the sign of each
    bit-position sum is the fingerprint bit. Docs at small Hamming
    distance are near-dups. Native implementation: explode shingles,
    explode 32 bit positions via transform+posexplode is avoided --
    instead one aggregate per bit (32 conditional sums in a single
    shuffle), keeping the plan whole-stage-codegen friendly.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r12: the explode + 32-conditional-sum groupBy moved |shingles|
    # rows through an exchange to compute a per-document reduction —
    # shingle sets are per-doc, so the whole vote fits in the map
    # stage. The Arrow stage's "simhash" mode computes the fingerprint
    # batch-side (guide §2.4 remove the shuffle outright + §4.2);
    # bit-identical to the groupBy form (equality-tested in
    # tests/test_xxh64_kernel.py), so the rows-only contract and every
    # Hamming consumer see the same values.
    return _shingle_arrow_stage(docs, "text", "simhash", 3)


FUZZY_PREFIX_LEN = 40
FUZZY_MAX_DIST = 10


def _adaptive_bounds(
    counts: list[int], nseg: int, eps: float = 0.05
) -> list[int]:
    """Entropy-adaptive segment boundaries for the PassJoin blocking:
    given per-position distinct-character counts over the build
    prefix, return ``nseg + 1`` boundary offsets (0 .. W) placing the
    ``nseg`` contiguous segments at equal cumulative log2-diversity.
    A corpus-wide shared prefix contributes ~zero mass, so it is
    absorbed into one wide segment that extends into varied
    territory — no corpus-wide constant gram, no degenerate posting
    list. Pure function of the (bounded) count vector; the pigeonhole
    exactness argument holds for ANY contiguous partition, so
    boundary placement only affects performance, never the output.
    The eps floor keeps the cumulative walk advancing through
    constant regions and makes an all-zero/constant count vector
    (e.g. an empty corpus, where approx_count_distinct yields 0 per
    position) fall back to uniform boundaries; a count vector
    SHORTER than nseg cannot host nseg nonempty segments and is a
    caller error."""
    import math

    w = len(counts)
    if w < nseg:
        raise ValueError(
            f"need >= {nseg} positions to place {nseg} segments, "
            f"got {w}"
        )
    masses = [max(math.log2(max(c, 1)), eps) for c in counts]
    prefix = [0.0]
    for m in masses:
        prefix.append(prefix[-1] + m)
    bounds = [0]
    for j in range(1, nseg):
        target = prefix[w] * j / nseg
        bnd = next(
            i for i in range(1, w + 1) if prefix[i] >= target - 1e-9
        )
        # strictly increasing, and leave >=1 char per later segment
        bounds.append(min(max(bnd, bounds[-1] + 1), w - (nseg - j)))
    bounds.append(w)
    return bounds


@query(
    "fuzzy_prefix_pairs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               substr(lower(text), 1, {FUZZY_PREFIX_LEN}) AS pre
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           levenshtein(a.pre, b.pre) AS edit_dist
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pre, b.pre) <= {FUZZY_MAX_DIST}
    ORDER BY a.lang, doc_a, doc_b
    """,
)
def fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (the fuzzy-matching member of the
    dedup family: exact -> shingle/MinHash/SimHash -> embedding ->
    EDIT DISTANCE): documents in the same language whose lowercased
    40-char (FUZZY_PREFIX_LEN) prefixes are within Levenshtein distance
    10 (FUZZY_MAX_DIST) — the classic blocked record-linkage join (title
    /author fuzzy matching in the reference's domain).

    Blocking is PassJoin-style pigeonhole segmentation (r11 — the
    round-10 length-band key was degenerate: every full-width prefix
    landed in one band, making the block quadratic per language,
    alpha 1.54 measured sf0.1 -> sf1). Partition the BUILD prefix
    into K+1 = 11 disjoint segments: K edits cannot touch all K+1
    segments, so any string within distance K contains at least one
    build segment VERBATIM, and since one edit shifts downstream
    positions by at most one, that occurrence starts within +-K of
    the segment's own position. The PROBE side therefore emits its
    substrings at positions p_j - K .. p_j + K for each segment slot
    j (<= 121 grams/row under the multi-match-aware shift bound
    below, a CONSTANT), and the shuffled equi-join on
    (lang, j, gram) + pair-distinct + one thresholded
    ``levenshtein(a, b, K)`` recheck reproduces the quadratic
    lang-blocked join EXACTLY (equality verified row-for-row vs the
    oracle at sf0.01/sf0.1, and pinned by a planted front-insertion
    test that same-position blocking would miss).

    The segment boundaries assume a full-width build prefix;
    the rare documents with shorter prefixes (none in the lake, but
    the operator must not silently depend on that) route through a
    lang-blocked fallback leg whose build side is only those short
    rows, so it stays linear while making the union unconditionally
    lossless. Candidate volume is O(docs x 121) grams + O(true
    near-dups) rechecks — linear in the corpus, vs the O(block^2)
    pair scan of any equality-banding on a skewed key.

    Boundary placement is ENTROPY-ADAPTIVE (r12, the degenerate-gram
    defense the r11 docstring promised): fixed uniform boundaries are
    degenerate when a real corpus shares a literal prefix corpus-wide
    (the scaled probe corpus plants 'rep<k> ' on every doc) — the
    segment covering the shared region becomes one constant gram
    whose posting list is the whole same-lang corpus, and the join
    degenerates to the quadratic recheck (205 s at sf1). So the plan
    first measures per-position character diversity in ONE bounded
    pass (W approx_count_distinct aggregates, collected as W ints —
    bounded driver state, plan construction is eager by the
    BUILD_EXECUTES contract) and places the K+1 boundaries at equal
    cumulative log2-diversity: a low-entropy shared region
    contributes ~zero mass, so it is absorbed into one wide segment
    that extends into varied territory instead of forming a
    corpus-wide constant gram. EXACT for ANY contiguous disjoint
    partition into K+1 segments — the pigeonhole argument never
    references where the boundaries sit, and the thresholded
    levenshtein recheck keeps the output bit-identical (verified vs
    the quadratic oracle at sf0.01/sf0.1 and by a planted
    shared-prefix test). At 100 TB the same plan holds: no broadcast
    of the doc table, the boundary pass is one map-side-combined
    aggregate, posting lists bounded by the entropy the boundaries
    now equalize."""
    docs = load_table(spark, sf_dir, "documents")
    K = FUZZY_MAX_DIST
    NSEG = K + 1
    W = FUZZY_PREFIX_LEN
    d = docs.select(
        "doc_id",
        "lang",
        F.substring(F.lower(F.col("text")), 1, W).alias("pre"),
    )
    from ..sources.tables import spread_small_source

    # build side: full-width prefixes, their 11 segments verbatim
    full = d.filter(F.length("pre") == W)

    # --- entropy-adaptive boundaries (bounded: W ints, one pass) ---
    ent = full.agg(
        *[
            F.approx_count_distinct(
                F.substring("pre", p, 1), 0.05
            ).alias(f"p{p}")
            for p in range(1, W + 1)
        ]
    ).collect()[0]
    bounds = _adaptive_bounds(
        [ent[f"p{p}"] for p in range(1, W + 1)], NSEG
    )

    def bound(j):
        # adaptive boundaries: segment j covers
        # [bounds[j], bounds[j+1]) — equal diversity, not equal width
        return bounds[j]

    b = full.select(
        "doc_id",
        "lang",
        "pre",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.col("pre")
                        .substr(bound(j) + 1, bound(j + 1) - bound(j))
                        .alias("g"),
                    )
                    for j in range(NSEG)
                ]
            )
        ).alias("s"),
    ).select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("pre").alias("b_pre"),
        F.col("s.j").alias("j"),
        F.col("s.g").alias("g"),
    )
    # probe side: every substring that could BE one of a neighbour's
    # segments under the MULTI-MATCH-AWARE shift bound (r12 — the
    # second half of the PassJoin recipe): if build segment j appears
    # verbatim in the probe shifted by delta, the alignment needs
    # >= |delta| indels before it and >= |delta - D| after it
    # (D = len(probe) - W <= 0), so |delta| + |delta - D| <= K, i.e.
    # delta in [D - (K-|D|)/2, (K-|D|)/2] — a window of K+1 positions
    # instead of the naive 2K+1 (equal lengths: 2|delta| edits per
    # shift, so |delta| <= K/2). Exactly halves the spurious
    # candidates a common 3-4 char segment gram generates (sf1:
    # 169 s -> 93 s; 205 s in r11) while front insertions still match
    # (a 4-char front insert costs 8 edits — shift 4 is within K/2).
    dlt = F.length("pre") - W  # <= 0; >= -K after the band filter
    hi_d = F.floor((F.lit(K) + dlt) / 2).cast("int")
    lo_d = -F.floor((F.lit(K) - dlt) / 2).cast("int")

    def slot_grams(j):
        seg_len = bound(j + 1) - bound(j)
        return F.transform(
            F.sequence(
                F.greatest(F.lit(bound(j) + 1) + lo_d, F.lit(1)),
                F.lit(bound(j) + 1) + hi_d,
            ),
            lambda pos: F.struct(
                F.lit(j).alias("j"),
                F.col("pre").substr(pos, F.lit(seg_len)).alias("g"),
                F.lit(seg_len).alias("want"),
            ),
        )

    probe_grams = F.filter(
        F.flatten(F.array(*[slot_grams(j) for j in range(NSEG)])),
        # a gram truncated by the string end can never equal a
        # full-length build segment — drop it before the shuffle
        lambda s: F.length(s["g"]) == s["want"],
    )
    a = (
        # probes more than K shorter than the build width can never
        # pass the length band vs a full-width build — drop them
        # before gram emission (they pair via the fallback leg, whose
        # probe side is the unfiltered d); also keeps the shift
        # window arithmetic in-range (D >= -K)
        spread_small_source(d.filter(F.length("pre") >= W - K), "doc_id")
        .select("doc_id", "lang", "pre", F.explode(probe_grams).alias("s"))
        .select(
            F.col("doc_id").alias("a_id"),
            F.col("lang").alias("a_lang"),
            F.col("pre").alias("a_pre"),
            F.col("s.j").alias("j"),
            F.col("s.g").alias("g"),
        )
    )
    # The thresholded levenshtein recheck runs INSIDE the join, so a
    # candidate that fails it dies map-side and never reaches the
    # pair-distinct shuffle. This matters on adversarial corpora: a
    # literal prefix shared corpus-wide (the scaled probe corpus
    # plants 'rep<k> ' on every doc) degenerates one slot's gram, and
    # with the recheck AFTER the distinct, the whole same-lang pair
    # set would be shuffled just to be deduped (measured 535 s at
    # sf1); with it inside the join only TRUE pairs (x their slot
    # multiplicity, <= 121) are shuffled. Natural corpora pay a few
    # extra rechecks per true pair — output-linear either way.
    dist = F.levenshtein(F.col("a_pre"), F.col("b_pre"), K)
    cand = (
        a.join(
            b,
            (F.col("a_lang") == F.col("b_lang"))
            & (a["j"] == b["j"])
            & (a["g"] == b["g"])
            & (F.col("a_id") < F.col("b_id"))
            & (
                F.abs(F.length("a_pre") - F.length("b_pre")) <= K
            )
            & (dist != -1),
        )
        # The DP already ran once per candidate inside the join
        # condition; re-projecting `dist` here would run it AGAIN on
        # every surviving row (r11 ADVICE — the exact 2x trap). Carry
        # the prefixes (functionally determined by the ids) through
        # the pair-distinct instead and recompute ONCE per distinct
        # true pair — strictly fewer DPs than once per surviving
        # candidate row (true pair x slot multiplicity, <= 121).
        .select("a_id", "b_id", "a_lang", "a_pre", "b_pre")
        .dropDuplicates(["a_id", "b_id"])
        .select(
            "a_id",
            "b_id",
            "a_lang",
            F.levenshtein("a_pre", "b_pre", K).alias("edit_dist"),
        )
    )
    # fallback leg: pairs whose BUILD (greater-id) prefix is short —
    # the pigeonhole above assumed a full 11-segment partition
    short = d.filter(F.length("pre") < W)
    fb = (
        spread_small_source(d, "doc_id")
        .alias("x")
        .join(
            short.alias("y"),
            (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (
                F.abs(
                    F.length(F.col("x.pre")) - F.length(F.col("y.pre"))
                )
                <= K
            ),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.col("x.lang").alias("a_lang"),
            F.levenshtein(F.col("x.pre"), F.col("y.pre"), K).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") != -1)
    )
    return (
        cand.unionByName(fb)
        .select(
            F.col("a_id").alias("doc_a"),
            F.col("b_id").alias("doc_b"),
            F.col("a_lang").alias("lang"),
            "edit_dist",
        )
        .orderBy("lang", "doc_a", "doc_b")
    )


CHUNK_W, CHUNK_S = 20, 15  # match operators.text.chunk_documents


@query(
    "chunk_exact_dedup",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(t.i AS INTEGER) AS pos,
               array_to_string(
                   list_slice(w, 1 + t.i * 15,
                              20 + t.i * 15), ' '
               ) AS chunk_text
        FROM words,
             UNNEST(range(0, GREATEST(
                 CAST(CEIL((len(w) - 20) / 15.0)
                     AS BIGINT) + 1, 1))) AS t(i)
    ),
    hashed AS (
        SELECT doc_id, pos, md5(chunk_text) AS chunk_hash
        FROM chunks WHERE chunk_text <> ''
    ),
    ranked AS (
        SELECT doc_id, pos, chunk_hash,
               ROW_NUMBER() OVER (
                   PARTITION BY chunk_hash ORDER BY doc_id, pos
               ) AS rn,
               COUNT(*) OVER (PARTITION BY chunk_hash) AS n_copies
        FROM hashed
    )
    SELECT doc_id, pos, chunk_hash, CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    ORDER BY doc_id, pos
    """,
)
def chunk_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-level exact dedup — the training-data grain that
    document-level dedup misses: boilerplate paragraphs repeated
    across distinct documents (headers, licenses, navigation chrome)
    survive doc-hash dedup but poison token statistics. Chunk with
    the sliding window, hash each chunk, keep the first copy
    (deterministic (doc_id, pos) order) and report how many copies
    each surviving chunk had — the copy count is the boilerplate
    signal curation thresholds key on.

    One shuffle on chunk_hash (uniform by construction); both the
    keep-first row_number and the copy count share the same window
    partitioning, so they ride one exchange. At 100 TB this is the
    standard repeated-n-gram pass run before tokenization."""
    docs = load_table(spark, sf_dir, "documents")
    # r12: materialize the word array before the generator — the
    # inlined form re-split the whole document once PER CHUNK inside
    # the transform lambda (quadratic in doc length; same fix as
    # chunk_documents, guide §4.1)
    w = F.col("w")
    n_chunks = F.greatest(
        F.ceil((F.size(w) - CHUNK_W) / CHUNK_S) + 1, F.lit(1)
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunk_arr = F.transform(
        starts,
        lambda i: F.concat_ws(" ", F.slice(w, i * CHUNK_S + 1, CHUNK_W)),
    )
    chunks = (
        docs.select(
            "doc_id",
            F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w"),
        )
        .select(
            "doc_id", F.posexplode(chunk_arr).alias("pos", "chunk_text")
        )
        .filter(F.col("chunk_text") != "")
        .select("doc_id", "pos", F.md5("chunk_text").alias("chunk_hash"))
    )
    win = Window.partitionBy("chunk_hash")
    ranked = chunks.select(
        "doc_id",
        "pos",
        "chunk_hash",
        F.row_number()
        .over(win.orderBy("doc_id", "pos"))
        .alias("rn"),
        F.count("*").over(win).alias("n_copies"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("doc_id", "pos")
    )


# --- Incremental-ingest dedup: bounded-broadcast Bloom prefilter ----------

# Two-hash Bloom bucket space. The broadcast side of the prefilter is
# the DISTINCT bucket-id set, so it is bounded by BLOOM_BITS rows (8-byte
# longs) PER HASH no matter how large the existing corpus grows — the
# property that makes this the 100 TB replacement for shipping the full
# content-hash set to every executor.
BLOOM_BITS = 1 << 16


@query(
    "bloom_prefilter_dedup",
    oracle="""
    WITH existing AS (
        SELECT md5(lower(text)) AS content_hash
        FROM documents WHERE doc_id % 10 < 8
    ),
    batch AS (
        SELECT doc_id, md5(lower(text)) AS content_hash
        FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT b.doc_id, b.content_hash
    FROM batch b
    WHERE NOT EXISTS (
        SELECT 1 FROM existing e WHERE e.content_hash = b.content_hash
    )
    ORDER BY b.doc_id
    """,
)
def bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup with a BOUNDED-broadcast Bloom
    prefilter: admit only batch documents whose content hash is not
    already in the existing corpus (here: doc_id % 10 < 8 plays the
    corpus, the rest the incoming batch; the reference's equivalent is
    the upload-time `ON CONFLICT DO NOTHING` guard,
    Processing/upload_papers_to_supabase.py:306-316, which pushes every
    row to the store to find out).

    Why not a plain anti-join? At 100 TB the existing-corpus hash set
    is billions of rows, and EVERY batch row must shuffle against it.
    The Bloom pass splits the batch first:

    * build k=2 bucket sets from the existing hashes —
      ``pmod(xxhash64(hash, seed), BLOOM_BITS)`` distinct values, at
      most BLOOM_BITS longs per seed REGARDLESS of corpus size — and
      broadcast them (Spark's own runtime-filter rewrite does exactly
      this with an InBloomFilter, but only for equi-joins it plans
      itself; ``bloom_filter_agg`` is not a public routine);
    * a batch row missing from EITHER bucket set is **definitely new**
      — emitted with no shuffle at all (map-side semi-join against the
      broadcast buckets);
    * only rows present in both bucket sets — true duplicates plus the
      false-positive sliver (~(fill_ratio)^2) — pay the exact
      anti-join, so the shuffled confirm stage carries O(dups), not
      O(batch).

    The exact confirm makes the result IDENTICAL to the plain
    anti-join (Bloom false positives are re-checked, negatives are
    exact by construction), which is what the oracle asserts. The two
    branches deliberately re-scan the batch side rather than funnel
    both through one outer join: a single-pass variant would hash all
    definitely-new rows to one NULL-key partition — a skew trap.
    """
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("content_hash")
    )
    existing = hashed.filter(F.col("doc_id") % 10 < 8).select(
        "content_hash"
    )
    batch = hashed.filter(F.col("doc_id") % 10 >= 8)

    def bucket(col, seed):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(BLOOM_BITS))

    probes = batch.withColumn(
        "b1", bucket(F.col("content_hash"), 1)
    ).withColumn("b2", bucket(F.col("content_hash"), 2))
    set1 = F.broadcast(
        existing.select(bucket(F.col("content_hash"), 1).alias("b1"))
        .distinct()
    )
    set2 = F.broadcast(
        existing.select(bucket(F.col("content_hash"), 2).alias("b2"))
        .distinct()
    )
    # Definitely new: misses at least one bucket set. Two broadcast
    # anti-joins; no shuffle of the batch.
    fresh = probes.join(set1, "b1", "left_anti").unionByName(
        probes.join(set1, "b1", "left_semi").join(
            set2, "b2", "left_anti"
        )
    )
    # Possible duplicates: hit BOTH bucket sets; exact confirm.
    suspect = probes.join(set1, "b1", "left_semi").join(
        set2, "b2", "left_semi"
    )
    confirmed_new = suspect.join(existing, "content_hash", "left_anti")
    return (
        fresh.select("doc_id", "content_hash")
        .unionByName(confirmed_new.select("doc_id", "content_hash"))
    )


@query(
    "duplicate_span_merge",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(t.i AS INTEGER) AS pos,
               array_to_string(
                   list_slice(w, 1 + t.i * 15,
                              20 + t.i * 15), ' '
               ) AS chunk_text
        FROM words,
             UNNEST(range(0, GREATEST(
                 CAST(CEIL((len(w) - 20) / 15.0)
                     AS BIGINT) + 1, 1))) AS t(i)
    ),
    hashed AS (
        SELECT doc_id, pos, md5(chunk_text) AS chunk_hash
        FROM chunks WHERE chunk_text <> ''
    ),
    dup AS (
        SELECT doc_id, pos
        FROM hashed
        WHERE chunk_hash IN (
            SELECT chunk_hash FROM hashed
            GROUP BY chunk_hash HAVING COUNT(*) > 1
        )
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS grp
        FROM dup
    )
    SELECT doc_id,
           CAST(MIN(pos) * 15 AS BIGINT) AS span_start_word,
           CAST(MAX(pos) * 15 + 20 AS BIGINT) AS span_end_word,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl
    GROUP BY doc_id, grp
    ORDER BY doc_id, span_start_word
    """,
)
def duplicate_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated spans per document — the window-grain
    approximation of suffix-array exact-substring dedup (Lee et al.
    2022's ExactSubstr): a sliding 20-word window (stride 15, the
    corpus chunk grain) is *duplicated* when its hash occurs more than
    once anywhere in the corpus; overlapping duplicated windows within
    a document merge into one span via gaps-and-islands
    (``pos - row_number()`` grouping — stride < width, so consecutive
    positions overlap by construction). Output is the per-doc span
    table curation acts on: clip the span, or drop the doc when
    spans cover most of it.

    Two shuffles, both well-keyed: corpus-wide window copy counts
    shuffle on chunk_hash (uniform — md5), island merge shuffles on
    doc_id. Span extents are pure integer arithmetic over window
    positions, so both engines agree exactly. The same hot-key
    reasoning as `_pair_overlap_counts` does NOT apply: counts per
    hash are a scalar aggregate, never a pair expansion."""
    docs = load_table(spark, sf_dir, "documents")
    # r12: word array projected once per doc — the inlined form
    # re-split the whole document per chunk inside the transform
    # lambda (quadratic in doc length; same fix as chunk_documents)
    w = F.col("w")
    n_chunks = F.greatest(
        F.ceil((F.size(w) - CHUNK_W) / CHUNK_S) + 1, F.lit(1)
    )
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * CHUNK_S + 1, CHUNK_W)),
    )
    chunks = (
        docs.select(
            "doc_id",
            F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w"),
        )
        .select(
            "doc_id", F.posexplode(chunk_arr).alias("pos", "chunk_text")
        )
        .filter(F.col("chunk_text") != "")
        .select("doc_id", "pos", F.md5("chunk_text").alias("chunk_hash"))
    )
    copies = Window.partitionBy("chunk_hash")
    dup = (
        chunks.withColumn("n_copies", F.count("*").over(copies))
        .filter(F.col("n_copies") > 1)
        .select("doc_id", "pos")
    )
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            (F.min("pos") * CHUNK_S).cast("bigint").alias(
                "span_start_word"
            ),
            (F.max("pos") * CHUNK_S + CHUNK_W)
            .cast("bigint")
            .alias("span_end_word"),
            F.count("*").alias("n_windows"),
        )
        .drop("grp")
    )


@query(
    "ngram_novelty",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc
        FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = s.doc_id
                          THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
               AS novelty_rate
    FROM sh s JOIN first_seen f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CONTENT NOVELTY against the corpus-so-far: the
    fraction of a document's distinct 3-word shingles whose FIRST
    occurrence (min doc_id = ingest order) is in that document. A
    crawl's value decays as novelty falls; curation uses the rate
    both as a per-doc keep signal (near-zero novelty = recombined
    boilerplate even when no single pair-wise near-dup fires) and as
    the corpus-level saturation curve that tells a 100 TB pipeline
    when another crawl of the same sources stops buying new tokens.
    Complements the pair-wise near-dup family: novelty is linear in
    corpus size where pair generation is output-bound.

    Shape: distinct shingle hashes per doc (in-row, no shuffle), one
    groupBy(shingle) window for first-occurrence, one groupBy(doc)
    for the rate — both uniform keys (shingle equality classes match
    the oracle's string shingles; first_seen rides the same exchange
    as the window, not a join back)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_hashes(docs)
    first = F.min("doc_id").over(Window.partitionBy("sh"))
    return (
        sh.withColumn("novel", (first == F.col("doc_id")).cast("int"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("novel").cast("bigint").alias("n_novel"),
            F.round(
                F.sum(F.col("novel").cast("double")) / F.count("*"), 6
            ).alias("novelty_rate"),
        )
    )


# --- Portable (oracle-verified) MinHash-LSH + SimHash ---------------------


def _portable_string_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): exploded DISTINCT 3-word STRING shingles,
    identical to the DuckDB oracles' ``array_to_string(list_slice(w,
    i, i+2), ' ')`` form — the shared front half of the
    hash-verified near-dup twins, which need the literal shingle
    text because their md5 digests must match the oracle's
    value-for-value (the xxhash64 production paths never do)."""
    from ..sources.tables import spread_small_source

    docs = spread_small_source(load_table(spark, sf_dir, "documents"))
    # r12: word array projected once per doc — the inlined form
    # re-split the whole document per shingle inside the transform
    # lambda (quadratic in doc length; same fix as chunk_documents)
    w = F.col("w")
    sh_arr = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(w) - 2, F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
            ),
            lambda s: s != F.lit(""),
        )
    )
    return docs.select(
        "doc_id", F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w")
    ).select("doc_id", F.explode(sh_arr).alias("s"))


PMH_NUM_HASHES = 16
PMH_BAND_SIZE = 4
PMH_NUM_BANDS = PMH_NUM_HASHES // PMH_BAND_SIZE

_PMH_MIN_COLS = ",\n               ".join(
    f"MIN(md5('{i}:' || s)) AS m{i}" for i in range(PMH_NUM_HASHES)
)
_PMH_BAND_SELECTS = "\n        UNION ALL\n".join(
    "        SELECT doc_id, {b} AS band_idx, md5({cat}) AS band_hash"
    " FROM mh".format(
        b=b,
        cat=" || '|' || ".join(
            f"m{b * PMH_BAND_SIZE + j}" for j in range(PMH_BAND_SIZE)
        ),
    )
    for b in range(PMH_NUM_BANDS)
)


def _portable_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized 16-column md5 MinHash signature table — the shared
    front half of `minhash_lsh_portable` and
    `minhash_jaccard_estimate` (one signature pass per process via
    memo.shared_intermediate, exactly like the near-dup pair table;
    a production deployment materializes signatures at ingest).
    persist() here is lazy — registering the cache plans no job, the
    first consumer's execution fills it."""
    from ..memo import shared_intermediate

    def build() -> DataFrame:
        sh = _portable_string_shingles(spark, sf_dir)
        return sh.groupBy("doc_id").agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))
                ).alias(f"m{i}")
                for i in range(PMH_NUM_HASHES)
            ]
        ).persist()

    return shared_intermediate(spark, "pmh_sigs", (sf_dir,), build)


def _portable_lsh_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct banded-LSH candidate pairs off the memoized portable
    signatures (4 bands x 4 rows, bucket posting lists, nested-
    explode pair emission).

    Memoized per process like the signature table it rides: the
    bucket shuffle + pair enumeration is the expensive back half of
    the LSH pipeline, and it feeds `minhash_lsh_portable` AND — in
    TWO separate plan branches (estimator join, exact-Jaccard
    confirm) — `minhash_jaccard_estimate`. persist() is lazy; the
    first consumer's execution fills the cache, after which every
    other branch/consumer scans the materialized pair table instead
    of re-running the enumeration (r9 verdict #5; production
    materializes candidates at ingest next to the signatures)."""
    from ..memo import shared_intermediate

    def build() -> DataFrame:
        sigs = _portable_minhash_sigs(spark, sf_dir)
        bands = sigs.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"m{b * PMH_BAND_SIZE + j}")
                                    for j in range(PMH_BAND_SIZE)
                                ],
                            )
                        )
                        for b in range(PMH_NUM_BANDS)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        )
        buckets = (
            bands.groupBy("band_idx", "band_hash")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
            .filter(F.size("ds") > 1)
        )
        return (
            _posting_pairs(
                buckets,
                lambda x, y: F.struct(
                    x.alias("doc_a"), y.alias("doc_b")
                ),
            )
            .select("p.doc_a", "p.doc_b")
            .distinct()
            .persist()
        )

    return shared_intermediate(spark, "pmh_lsh_pairs", (sf_dir,), build)


@query(
    "minhash_lsh_portable",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS s
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    mh AS (
        SELECT doc_id,
               {_PMH_MIN_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
{_PMH_BAND_SELECTS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH with ENGINE-PORTABLE hashes — the
    hash-verified twin of ``minhash_lsh_candidates``.

    The fast variant's xxhash64 signatures are Spark-specific, so its
    correctness evidence is rows-only + a pytest recall bound. This
    variant swaps every hash for md5 over the SAME 3-word string
    shingles the green n-gram-Jaccard oracles use (Broder's
    min-wise scheme with h_i(s) = md5('i:' || s), minimum taken in
    lexicographic hex order — identical in Spark and DuckDB), so the
    ENTIRE pipeline — shingling, 16-way signature fold, 4x4 banding,
    bucket-join pair generation — is verified value-for-value by the
    DuckDB oracle, closing the "hash functions not portable SQL" gap
    the rows-only twin documents. Reference parity: same
    drop-duplicates intent as Ingestion/main.py:576-595, lifted to
    near-dup grain (SURVEY.md T9).

    Shape at 100 TB (same as the fast twin, ONE extra shuffle):
    exploded distinct shingles groupBy(doc_id) into 16 min
    aggregates — partial map-side mins mean the exchange carries 16
    fixed-width digests per doc per mapper, never the shingles;
    band hashing is in-row; candidate generation is a posting-list
    groupBy on (band_idx, band_hash) — one shuffle of 4 rows per
    doc, pairs emitted map-side per bucket, O(near-dups) not O(n^2).
    md5 costs ~4x xxhash64 per shingle, which is why the xxhash64
    twin remains the production path and this one the verification
    path. The signature table is memoized per process
    (`_portable_minhash_sigs`) and shared with
    `minhash_jaccard_estimate`; bench publishes the memo-cold cost
    separately."""
    return _portable_lsh_candidates(spark, sf_dir)


_PMH_EQ_SUM = " + ".join(
    f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
    for i in range(PMH_NUM_HASHES)
)


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS s
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    mh AS (
        SELECT doc_id,
               {_PMH_MIN_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
{_PMH_BAND_SELECTS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               ({_PMH_EQ_SUM}) / {PMH_NUM_HASHES}.0 AS est
        FROM cand c
        JOIN mh a ON c.doc_a = a.doc_id
        JOIN mh b ON c.doc_b = b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b,
           ROUND(e.est, 6) AS est_jaccard,
           ROUND(COALESCE(i.n_shared, 0) * 1.0
                 / (sa.n + sb.n - COALESCE(i.n_shared, 0)), 6)
               AS true_jaccard,
           ROUND(ABS(e.est
                 - COALESCE(i.n_shared, 0) * 1.0
                   / (sa.n + sb.n - COALESCE(i.n_shared, 0))), 6)
               AS abs_err
    FROM est e
    LEFT JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    ORDER BY e.doc_a, e.doc_b
    """,
)
def minhash_jaccard_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch CALIBRATION for the MinHash pipeline: for every banded-
    LSH candidate pair, the Jaccard similarity the 16-component
    signature ESTIMATES (fraction of equal min-hashes — Broder's
    unbiased estimator) side-by-side with the EXACT shingle-set
    Jaccard, plus the absolute error. This is the audit a curation
    team runs before trusting a sketch-based dedup threshold at
    100 TB: it answers "how far off is k=16 on OUR corpus", which no
    recall unit test on synthetic data can.

    Every hash is the portable md5 construction of
    ``minhash_lsh_portable``, so estimator AND ground truth are
    value-verified by the DuckDB oracle. Shape at scale: signatures
    and candidates are the LSH pipeline unchanged (O(near-dups)
    pairs); the exact-Jaccard confirm joins candidate pairs back to
    the shingle table KEYED on (doc, shingle) — the same
    suspects-pay-the-exact-check economics as bloom_prefilter_dedup,
    so the expensive verify touches only the candidate sliver.
    Signatures and candidate pairs come from the SAME memoized
    tables as `minhash_lsh_portable` (one signature pass per
    process; bench publishes the memo-cold cost separately)."""
    sh = _portable_string_shingles(spark, sf_dir)
    sigs = _portable_minhash_sigs(spark, sf_dir)
    cand = _portable_lsh_candidates(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(PMH_NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(PMH_NUM_HASHES)],
    )
    eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(PMH_NUM_HASHES)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (eq / float(PMH_NUM_HASHES)).alias("est"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "s"),
            ["doc_b", "s"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    shared = F.coalesce(F.col("n_shared"), F.lit(0))
    true_j = shared * 1.0 / (F.col("na") + F.col("nb") - shared)
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round("est", 6).alias("est_jaccard"),
            F.round(true_j, 6).alias("true_jaccard"),
            F.round(F.abs(F.col("est") - true_j), 6).alias("abs_err"),
        )
    )


SIMHASH_PORTABLE_BITS = 32

_SPH_SUMS = ",\n               ".join(
    f"SUM(CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END)"
    f" AS b{j}"
    for j in range(SIMHASH_PORTABLE_BITS)
)
_SPH_FP = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(SIMHASH_PORTABLE_BITS)
)


@query(
    "simhash_portable",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS s
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    hashed AS (SELECT doc_id, md5(s) AS h FROM sh),
    votes AS (
        SELECT doc_id, COUNT(*) AS n_shingles,
               {_SPH_SUMS}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           {_SPH_FP} AS simhash
    FROM votes
    ORDER BY doc_id
    """,
)
def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar 2002) with ENGINE-PORTABLE bits — the
    hash-verified twin of ``simhash_fingerprints``, same role the
    portable MinHash twin plays for LSH: the production path votes
    on xxhash64 bits (rows-only evidence), this one votes on the 32
    hex nibbles of md5(shingle) — bit j is the nibble's high bit,
    tested portably as ``substr(h, j+1, 1) >= '8'`` (hex digits
    order '0'<'1'<...<'9'<'a'<...<'f' in both engines) — so every
    fingerprint value is verified by the DuckDB oracle.

    Same aggregate shape as the production twin: 32 conditional sums
    in ONE doc-keyed groupBy (partial map-side combine; the exchange
    carries 33 longs per doc per mapper), fingerprint assembly is
    in-row integer arithmetic. No joins, no pair expansion."""
    return _portable_simhash(spark, sf_dir)


def _portable_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, simhash): the md5-nibble SimHash votes —
    shared by the fingerprint query and the banded hamming search.

    r13 (guide §4.2): one mapInArrow stage, NO shuffle. The r12 SQL
    form built shingles with an interpreted transform/slice/concat
    HOF, exploded them, md5'd each, and paid 32 substring-compare
    conditional sums per shingle through a doc-keyed aggregate
    exchange. Here only (doc_id, split words) cross the Python
    boundary (split + lower stay JVM-side so string semantics are
    Spark's, §4.1); the kernel joins each doc's 3-word windows from
    the word LIST (list slicing is engine-neutral), dedups, hashes
    with hashlib.md5 (bit-identical to F.md5 / DuckDB md5), and
    takes the per-bit votes as a vectorized nibble-unpack over the
    raw 16-byte digests — bit j is nibble j's high bit, exactly the
    substr(h, j+1, 1) >= '8' test. Votes never leave the task: the
    output is one (doc_id, n_shingles, simhash) row per doc.
    Equality vs the r12 SQL chain is pinned end-to-end on the lake
    plus edge corpora in tests/test_round13_ops.py."""
    from ..sources.tables import spread_small_source

    docs = spread_small_source(load_table(spark, sf_dir, "documents"))
    key_type = docs.schema["doc_id"].dataType.simpleString()
    src = docs.select(
        "doc_id",
        F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w"),
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        shifts = np.arange(SIMHASH_PORTABLE_BITS, dtype=np.uint64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids_out, ns_out, fp_out = [], [], []
            ids = batch.column(0).to_pylist()
            ws = batch.column(1).to_pylist()
            for did, w in zip(ids, ws):
                if w is None:
                    continue
                # sequence(1, greatest(size(w) - 2, 1)) over
                # concat_ws(' ', slice(w, i, 3)), distinct, '' dropped
                top = max(len(w) - 2, 1)
                sh = {
                    " ".join(w[i : i + 3]) for i in range(top)
                }
                sh.discard("")
                if not sh:
                    continue
                dig = np.frombuffer(
                    b"".join(
                        hashlib.md5(s.encode("utf-8")).digest()
                        for s in sh
                    ),
                    dtype=np.uint8,
                ).reshape(len(sh), 16)
                nib = np.empty((len(sh), 32), dtype=np.uint8)
                nib[:, 0::2] = dig >> 4
                nib[:, 1::2] = dig & 15
                votes = ((nib >> 3) & 1).sum(axis=0, dtype=np.int64)
                fp = int(
                    (
                        (votes * 2 > len(sh)).astype(np.uint64)
                        << shifts
                    ).sum()
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
                            np.array(fp_out, dtype=np.uint64).view(
                                np.int64
                            )
                        ),
                    ],
                    names=["doc_id", "n_shingles", "simhash"],
                )

    return src.mapInArrow(
        gen,
        f"doc_id {key_type}, n_shingles long, simhash long",
    )


@query(
    "clip_duplicate_spans",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(t.i AS INTEGER) AS pos,
               array_to_string(
                   list_slice(w, 1 + t.i * {CHUNK_S},
                              {CHUNK_W} + t.i * {CHUNK_S}), ' '
               ) AS chunk_text
        FROM words,
             UNNEST(range(0, GREATEST(
                 CAST(CEIL((len(w) - {CHUNK_W}) / {CHUNK_S}.0)
                     AS BIGINT) + 1, 1))) AS t(i)
    ),
    hashed AS (
        SELECT doc_id, pos, md5(chunk_text) AS chunk_hash,
               lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' ||
               lpad(CAST(pos AS VARCHAR), 8, '0') AS occ
        FROM chunks WHERE chunk_text <> ''
    ),
    marked AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY chunk_hash) AS n_copies,
               MIN(occ) OVER (PARTITION BY chunk_hash) AS first_occ,
               occ
        FROM hashed
    ),
    foreign_dup AS (
        SELECT doc_id, pos FROM marked
        WHERE n_copies > 1 AND occ <> first_occ
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS grp
        FROM foreign_dup
    ),
    spans AS (
        SELECT doc_id,
               MIN(pos) * {CHUNK_S} + 1 AS w_start,
               MAX(pos) * {CHUNK_S} + {CHUNK_W} AS w_end
        FROM isl GROUP BY doc_id, grp
    ),
    pw AS (
        SELECT doc_id, CAST(t.p AS BIGINT) AS p,
               w[CAST(t.p AS BIGINT)] AS word
        FROM words, UNNEST(range(1, len(w) + 1)) AS t(p)
    ),
    kept AS (
        SELECT pw.doc_id, pw.p, pw.word
        FROM pw
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = pw.doc_id
              AND pw.p BETWEEN s.w_start AND s.w_end
        )
    )
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_words,
           CAST(len(w.w) - COUNT(kept.p) AS BIGINT) AS n_removed,
           COALESCE(
               string_agg(kept.word, ' ' ORDER BY kept.p), ''
           ) AS clipped_text
    FROM words w LEFT JOIN kept ON w.doc_id = kept.doc_id
    GROUP BY w.doc_id, len(w.w)
    ORDER BY w.doc_id
    """,
)
def clip_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACT on corpus-wide duplicated spans: keep the FIRST occurrence
    of every duplicated window, clip the rest, rebuild the text —
    Lee et al. 2022's ExactSubstr semantics ("remove all but one
    occurrence") at the window grain ``duplicate_span_merge``
    detects. That query is the report; this one is the curation step
    that produces the training corpus.

    Keep-first is total and engine-portable: each window occurrence
    gets the sortable key lpad(doc_id)||':'||lpad(pos), and only the
    MIN key per chunk hash survives — the same deterministic
    keep-first discipline every dedup in this module uses (pandas
    row-order semantics restated, module docstring). Clipped word
    ranges come from the same gaps-and-islands merge as
    duplicate_span_merge; reconstruction keeps words whose 1-based
    position falls in no clipped span and rejoins them with single
    spaces (lowercased, separator-normalized — the canonical text
    form every shingle/chunk operator in this suite already works
    on).

    Shape at 100 TB: window hashing and copy-count/min-occurrence
    ride ONE shuffle keyed on chunk_hash (uniform md5 — scalar
    window aggregates, no pair expansion); islands and
    reconstruction shuffle on doc_id. The span predicate is a
    per-doc range join: spans-per-doc is bounded (a doc has at most
    len/stride windows), so the probe stays doc-local — never a
    corpus-wide inequality join."""
    docs = load_table(spark, sf_dir, "documents")
    # r12: word array projected once per doc (quadratic inline-split
    # fix, same as chunk_documents); base and the chunk generator
    # share the one projection
    w = F.col("w")
    n_chunks = F.greatest(
        F.ceil((F.size(w) - CHUNK_W) / CHUNK_S) + 1, F.lit(1)
    )
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * CHUNK_S + 1, CHUNK_W)),
    )
    base = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), "[^a-z0-9]+").alias("w")
    )
    hashed = (
        base.select(
            "doc_id", F.posexplode(chunk_arr).alias("pos", "chunk_text")
        )
        .filter(F.col("chunk_text") != "")
        .select(
            "doc_id",
            "pos",
            F.md5("chunk_text").alias("chunk_hash"),
            F.concat(
                F.lpad(F.col("doc_id").cast("string"), 12, "0"),
                F.lit(":"),
                F.lpad(F.col("pos").cast("string"), 8, "0"),
            ).alias("occ"),
        )
    )
    per_hash = Window.partitionBy("chunk_hash")
    foreign_dup = (
        hashed.withColumn("n_copies", F.count("*").over(per_hash))
        .withColumn("first_occ", F.min("occ").over(per_hash))
        .filter(
            (F.col("n_copies") > 1) & (F.col("occ") != F.col("first_occ"))
        )
        .select("doc_id", "pos")
    )
    isl = foreign_dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        (F.min("pos") * CHUNK_S + 1).alias("w_start"),
        (F.max("pos") * CHUNK_S + CHUNK_W).alias("w_end"),
    )
    pw = base.select(
        "doc_id", F.posexplode("w").alias("p0", "word")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "word")
    kept = pw.join(
        spans,
        (pw["doc_id"] == spans["doc_id"])
        & (F.col("p") >= F.col("w_start"))
        & (F.col("p") <= F.col("w_end")),
        "left_anti",
    )
    aggd = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "word"))),
                lambda s: s["word"],
            ),
        ).alias("kept_text"),
    )
    # left join from the doc list so a FULLY clipped document still
    # appears (clipped_text = '', everything removed)
    return (
        base.select("doc_id", F.size("w").cast("bigint").alias("n_words"))
        .join(aggd, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (
                F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias(
                "clipped_text"
            ),
        )
    )


@query(
    "source_overlap_matrix",
    oracle="""
    WITH words AS (
        SELECT source, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(w, i, i + 2), ' ') AS s
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    common AS (
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b
          ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT c.src_a, c.src_b,
           sa.n AS n_a, sb.n AS n_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           ROUND(c.n_common /
                 CAST(sa.n + sb.n - c.n_common AS DOUBLE), 6)
               AS jaccard
    FROM common c
    JOIN sizes sa ON c.src_a = sa.source
    JOIN sizes sb ON c.src_b = sb.source
    ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE content overlap: shingle-set Jaccard for every
    source pair — the corpus-grain leakage diagnostic a mixture
    curator reads before setting domain weights (two crawl snapshots
    of the same sites, a dataset re-published inside another, eval
    suites embedded in a crawl: all show up as an off-diagonal spike
    long before doc-level dedup finds the pairs). Same per-pair
    arithmetic as ngram_jaccard_topk one grain up; the reference has
    no corpus-grain diagnostics at all.

    Scale shape: per-source DISTINCT shingle hashes (one shuffle on
    (source, hash) with map-side combine), then an inverted index on
    the shingle — each posting list is the set of SOURCES sharing
    that shingle, bounded by the source count (dozens), so pair
    expansion is O(sources²) per shingle worst-case and needs no
    hot-key cap. Counts agree with the oracle because only shingle
    EQUALITY classes matter (xxhash64 on Spark, strings in SQL —
    injective concat, same classes short of a 2^-64 collision), the
    same contract every Jaccard query in this module uses."""
    docs = load_table(spark, sf_dir, "documents")
    # r12: vectorized Arrow shingle stage keyed by source (guide
    # §4.2); per-row distinct hashes are bit-identical to the
    # interpreted HOF (tests/test_xxh64_kernel.py string-key test),
    # and the global per-source distinct below is unchanged.
    sh = _shingle_arrow_stage(docs, "text", "explode", 3, key_col="source").distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    postings = sh.groupBy("sh").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    ).filter(F.size("ss") > 1)
    pairs = _posting_pairs(
        postings.withColumnRenamed("ss", "ds"),
        lambda x, y: F.struct(x.alias("src_a"), y.alias("src_b")),
    )
    common = (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    return (
        common.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "neardup_keep_best",
    oracle=f"""
    WITH RECURSIVE words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    jpairs AS (
        SELECT p.doc_a, p.doc_b
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common)
              >= {NEARDUP_JACCARD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ),
    q AS (
        SELECT doc_id,
               len(list_filter(w, x -> x <> '')) AS n_tokens,
               ROUND(CAST(len(list_distinct(list_filter(w, x -> x <> '')))
                          AS DOUBLE)
                     / GREATEST(len(list_filter(w, x -> x <> '')), 1),
                     6) AS ttr
        FROM words
    ),
    labeled AS (
        SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component,
               q.n_tokens, q.ttr
        FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id
    )
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
               AS cluster_size,
           ttr,
           ROW_NUMBER() OVER (
               PARTITION BY component
               ORDER BY ttr DESC, n_tokens DESC, doc_id
           ) = 1 AS keep
    FROM labeled
    ORDER BY doc_id
    """,
)
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION step over near-dup clusters: keep the
    highest-QUALITY document per cluster, not the lowest id.
    ``neardup_components`` answers "which docs are the same
    content"; production curation then retains the best copy (the
    cleanest extraction, the least-truncated crawl) — ranked here by
    (type-token ratio DESC, token count DESC, doc_id) with the ratio
    rounded to 6 dp on both engines BEFORE the rank so fp noise
    cannot flip a winner. Every document appears: singletons are
    their own cluster (LEFT join against the component labels,
    component = own id) and keep themselves.

    Scale shape: cluster discovery is the hardened alternating
    large-star/small-star CC (O(log^2 n) rounds on any graph shape,
    no hub materialization); quality keys are per-row arithmetic;
    the final keep-rank and cluster-size windows SHARE one
    component-keyed exchange. Nothing here touches the corpus more
    than the shingle pass already does."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _neardup_labels(spark, sf_dir)
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    q = docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(w)).cast("double")
            / F.greatest(F.size(w), F.lit(1)),
            6,
        ).alias("ttr"),
    )
    labeled = (
        q.join(
            labels.select(
                F.col("v").alias("doc_id"),
                F.col("label").alias("component"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
            "n_tokens",
            "ttr",
        )
    )
    comp_w = Window.partitionBy("component")
    rank_w = Window.partitionBy("component").orderBy(
        F.desc("ttr"), F.desc("n_tokens"), "doc_id"
    )
    return (
        labeled.select(
            "doc_id",
            "component",
            F.count("*").over(comp_w).cast("bigint").alias(
                "cluster_size"
            ),
            "ttr",
            (F.row_number().over(rank_w) == 1).alias("keep"),
        )
    )


SIMHASH_NIBBLES = SIMHASH_PORTABLE_BITS // 4
SIMHASH_HAM_MAX = 3

_SPH_PROJ = "\n        UNION ALL\n".join(
    f"        SELECT doc_id, {k} AS k,"
    f" simhash - ((simhash // {16 ** k}) % 16) * {16 ** k} AS masked,"
    " simhash FROM fp"
    for k in range(SIMHASH_NIBBLES)
)


@query(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS s
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    hashed AS (SELECT doc_id, md5(s) AS h FROM sh),
    votes AS (
        SELECT doc_id,
               {_SPH_SUMS}
        FROM hashed GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {_SPH_FP} AS simhash FROM votes),
    proj AS (
{_SPH_PROJ}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
               AS hamming
    FROM proj a JOIN proj b
      ON a.k = b.k AND a.masked = b.masked AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming-neighbor retrieval over the SimHash space — the
    RETRIEVAL half SimHash dedup needs at scale (the fingerprint
    queries only produce the hashes). This is the multi-index
    architecture perceptual-hash systems use (e.g. Facebook's PDQ
    hamming search, Manku et al.'s simhash dedup at Google): a pair
    within hamming 3 (SIMHASH_HAM_MAX) whose differing bits fall in one
    nibble is guaranteed to share one of the 8 (SIMHASH_NIBBLES)
    nibble-masked projections, so candidate generation is an
    EQUI-join on 28-bit keys — never an all-pairs hamming scan — and
    the exact bit_count(xor) filter keeps only true neighbors.
    Missed pairs (differing bits spread over 2+ nibbles) are the
    documented recall tradeoff; production raises recall by widening
    masks (2-nibble omission), the same plan with more projections.

    Scale shape: 8 (SIMHASH_NIBBLES) projection rows per doc (in-row
    arithmetic), ONE shuffle of that table into posting lists keyed
    on (k, masked) — uniform md5-derived keys; bucket sizes are
    near-dup-group sized, so pair expansion is bounded. Fingerprints
    ride inside the posting structs, so the hamming filter needs no
    join back. Fully portable bit arithmetic (md5 nibbles, integer
    div/mod masking, bit_count-of-xor in both engines) -> the whole
    index is value-verified by the oracle."""
    fp = _portable_simhash(spark, sf_dir).select("doc_id", "simhash")
    masked = F.array(
        *[
            F.col("simhash")
            - (
                F.shiftright(F.col("simhash"), 4 * k).bitwiseAND(15)
                * F.lit(1 << (4 * k)).cast("long")
            )
            for k in range(SIMHASH_NIBBLES)
        ]
    )
    proj = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(masked).alias("k", "masked"),
    )
    buckets = (
        proj.groupBy("k", "masked")
        .agg(
            F.sort_array(
                F.collect_set(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    pairs = _posting_pairs(
        buckets,
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            F.bit_count(
                x["simhash"].bitwiseXOR(y["simhash"])
            ).cast("long").alias("hamming"),
        ),
    )
    return (
        pairs.select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


@query(
    "neardup_threshold_sweep",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    jac AS (
        SELECT CAST(p.common AS DOUBLE)
               / (sa.n + sb.n - p.common) AS j
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
    ),
    buckets AS (
        SELECT LEAST(FLOOR(j * 10), 9) AS bucket, COUNT(*) AS n
        FROM jac GROUP BY 1
    ),
    spine AS (SELECT UNNEST(range(0, 10)) AS bucket)
    SELECT ROUND(s.bucket / 10.0, 1) AS threshold,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_pairs_in_bucket,
           CAST(SUM(COALESCE(b.n, 0)) OVER (
               ORDER BY s.bucket DESC
           ) AS BIGINT) AS n_pairs_at_or_above
    FROM spine s LEFT JOIN buckets b ON s.bucket = b.bucket
    ORDER BY threshold
    """,
)
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-threshold KNOB CURVE: how many near-dup pairs exist
    at or above every Jaccard cut, in one pass — what a curator reads
    before choosing NEARDUP_JACCARD (too low merges topical
    neighbors, too high misses template edits; the bimodal gap shows
    up as a flat stretch in the cumulative column). One extra
    aggregate over the pair table every other dedup query already
    builds — no new scan, no new shuffle shape; the 10-bucket
    histogram + spine + reverse cumulative are driver-trivial."""
    jac = _jaccard_pairs_materialized(spark, sf_dir).select("jaccard")
    buckets = (
        jac.select(
            F.least(
                F.floor(F.col("jaccard") * 10), F.lit(9)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    spine = spark.range(10).select(F.col("id").cast("long").alias("bucket"))
    w_desc = Window.orderBy(F.desc("bucket")).rangeBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(buckets, "bucket", "left")
        .select(
            F.round(F.col("bucket") / 10.0, 1).alias("threshold"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias(
                "n_pairs_in_bucket"
            ),
            F.sum(F.coalesce("n", F.lit(0)))
            .over(w_desc)
            .cast("bigint")
            .alias("n_pairs_at_or_above"),
        )
        .orderBy("threshold")
    )


@query(
    "neardup_cluster_histogram",
    oracle=f"""
    WITH RECURSIVE words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    jpairs AS (
        SELECT p.doc_a, p.doc_b
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common)
              >= {NEARDUP_JACCARD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ),
    csize AS (
        SELECT component, COUNT(*) AS cluster_size
        FROM comp GROUP BY component
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST(cluster_size * COUNT(*) - COUNT(*) AS BIGINT)
               AS n_removable
    FROM csize
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def neardup_cluster_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-size distribution of the near-dup components — the
    FIRST thing read off a dedup run at scale: how many pair
    clusters vs. how many pathological 10k-copy boilerplate
    clusters, and how many docs a keep-one policy would remove
    (``n_removable`` = docs minus one canonical per cluster summed
    per size). A fat tail here is what turns a dedup pass from a
    cleanup into a 30% corpus cut, and it is the number quoted in
    every dataset paper's dedup section.

    Consumes the SAME memoized component-label table as
    `neardup_components` / `neardup_keep_best` (one CC run per
    process, the shared-intermediate pattern); on top of it this is
    two bounded groupBys: component -> size, size -> cluster count.
    The oracle recomputes components with the recursive-CTE
    transitive closure."""
    labels = _neardup_labels(spark, sf_dir)
    csize = labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        csize.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            (
                F.col("cluster_size") * F.col("n_clusters")
                - F.col("n_clusters")
            )
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@query(
    "ngram_containment_topk",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.common AS DOUBLE) / sa.n, 6) AS contain_a_in_b,
           ROUND(CAST(p.common AS DOUBLE) / sb.n, 6) AS contain_b_in_a,
           ROUND(CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common), 6)
               AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    ORDER BY greatest(ROUND(CAST(p.common AS DOUBLE) / sa.n, 6),
                      ROUND(CAST(p.common AS DOUBLE) / sb.n, 6)) DESC,
             p.doc_a, p.doc_b
    LIMIT 20
    """,
)
def ngram_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder's other coefficient:
    C(A,B) = |A∩B| / |A|) for the top-20 most-contained pairs —
    what Jaccard misses: a short document quoted wholesale inside a
    long one scores low Jaccard (the union is big) but containment
    ~1 in the short->long direction. This is the quote/subset
    detector that decides KEEP-the-superset in dedup, where
    symmetric Jaccard would keep both.

    Reuses the once-per-process materialized pair table
    (common, n_a, n_b per co-shingled pair) shared with
    `ngram_jaccard_topk`'s family — zero new shuffles beyond the
    final 20-row TakeOrdered; both directional containments are
    per-row arithmetic on the pair row. 100 TB shape = the pair
    table's (inverted index + posting cap, see
    jaccard_scored_pairs)."""
    pairs = _jaccard_pairs_materialized(spark, sf_dir)
    c_ab = F.round(F.col("common").cast("double") / F.col("n_a"), 6)
    c_ba = F.round(F.col("common").cast("double") / F.col("n_b"), 6)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
            F.round(F.col("jaccard"), 6).alias("jaccard"),
        )
        .orderBy(
            F.desc(
                F.greatest(
                    F.col("contain_a_in_b"), F.col("contain_b_in_a")
                )
            ),
            "doc_a",
            "doc_b",
        )
        .limit(20)
    )


@query(
    "dedup_source_flow",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
                           AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT p.doc_a, p.doc_b,
               ROUND(CAST(p.common AS DOUBLE)
                     / (sa.n + sb.n - p.common), 6) AS jaccard
        FROM pairs p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE ROUND(CAST(p.common AS DOUBLE)
                    / (sa.n + sb.n - p.common), 6)
              >= {NEARDUP_JACCARD}
    )
    SELECT LEAST(da.source, db.source) AS source_lo,
           GREATEST(da.source, db.source) AS source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(s.jaccard), 6) AS sum_jaccard
    FROM scored s
    JOIN documents da ON da.doc_id = s.doc_a
    JOIN documents db ON db.doc_id = s.doc_b
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, source_lo, source_hi
    """,
)
def dedup_source_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where duplication FLOWS between sources — the near-dup pair
    table rolled up to (source, source) cells: diagonal cells are
    within-source duplication (template reuse, re-crawls), off-
    diagonal cells are cross-source contamination (mirror sites,
    syndication) — the matrix a mixture designer reads before
    setting per-source sampling weights, since duplicated mass
    inflates a source's apparent size. Same pair semantics as
    `neardup_components` (Jaccard >= 0.5 on 3-word shingles).

    Scale shape: consumes the once-per-process materialized pair
    table (the CC/threshold-sweep intermediate — a 100 TB deployment
    reads the pair ZONE), then two doc-keyed source-lookup joins and
    one cell-grain aggregate bounded by the source-domain square."""
    pairs = _jaccard_pairs_materialized(spark, sf_dir).filter(
        F.col("jaccard") >= NEARDUP_JACCARD
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            # SUM of per-pair 6-dp-rounded scores (the oracle's
            # grain — the memoized table stores raw ratios), not AVG:
            # means of 6-dp values land on rounding midpoints where
            # the engines' half-rounding disagrees
            F.round(F.sum(F.round("jaccard", 6)), 6).alias(
                "sum_jaccard"
            ),
        )
        .orderBy(F.desc("n_pairs"), "source_lo", "source_hi")
    )


TYPO_MIN_LEN = 4  # shorter words alias too easily at distance 2
TYPO_VARIANT_CAP = 50  # posting cap per deletion variant (hot-key guard)
TYPO_RATIO = 0.1  # rare/frequent count ratio marking a typo suspect


@query(
    "typo_candidate_pairs",
    oracle=f"""
    WITH vocab AS (
        SELECT w AS word, COUNT(*) AS c
        FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS w
            FROM documents
        ) WHERE len(w) >= {TYPO_MIN_LEN}
        GROUP BY 1
    ),
    d1 AS (
        SELECT word, c,
               list_transform(range(1, len(word) + 1),
                   i -> substr(word, 1, i - 1)
                        || substr(word, i + 1, len(word))) AS del1
        FROM vocab
    ),
    expanded AS (
        SELECT word, c,
               list_distinct(list_concat(list_concat([word], del1),
                   flatten(list_transform(del1,
                       v -> list_transform(range(1, len(v) + 1),
                           j -> substr(v, 1, j - 1)
                                || substr(v, j + 1, len(v)))))))
                   AS variants
        FROM d1
    ),
    post0 AS (
        SELECT unnest(variants) AS variant, word, c FROM expanded
    ),
    posting AS MATERIALIZED (
        SELECT * FROM post0
        QUALIFY COUNT(*) OVER (PARTITION BY variant)
                <= {TYPO_VARIANT_CAP}
    ),
    pairs AS (
        SELECT DISTINCT a.word AS word_a, b.word AS word_b,
               a.c AS count_a, b.c AS count_b
        FROM posting a JOIN posting b
          ON a.variant = b.variant AND a.word < b.word
    )
    SELECT word_a, word_b,
           CAST(levenshtein(word_a, word_b) AS INT) AS dist,
           count_a, count_b,
           ROUND(LEAST(count_a, count_b) * 1.0
                 / GREATEST(count_a, count_b), 6) AS count_ratio,
           CASE WHEN LEAST(count_a, count_b) * 1.0
                     / GREATEST(count_a, count_b) <= {TYPO_RATIO}
                THEN 1 ELSE 0 END AS suspected_typo
    FROM pairs
    WHERE levenshtein(word_a, word_b) <= 2
    ORDER BY dist, word_a, word_b
    """,
)
def typo_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-level fuzzy join: every word pair within edit
    distance 2, found SymSpell-style (Garbe's deletion-neighborhood
    trick: two words are within edit distance k iff they share a
    string reachable by deleting <= k chars from each, so the
    quadratic all-pairs levenshtein becomes an EQUI-join on
    deletion variants + an exact confirm on the tiny candidate
    set). The count ratio marks typo/OCR-artifact suspects — a rare
    word one edit from a frequent one is the classic correction
    candidate a corpus cleaner normalizes before tokenizer
    training (the long-tail-vocab reduction move).

    Scale shape: everything is VOCAB grain (Heaps sub-linear in the
    corpus): one token explode + word count, ~len^2/2 deletion
    variants per word (bounded by max word length), an equi-join on
    the variant key — never a cross join — with a posting cap per
    variant (the assoc_rules hot-key guard, here for short variants
    shared by many words), and levenshtein only on surviving
    candidates. A length-band/first-char blocking scheme misses
    substitution pairs; deletion neighborhoods are exact for
    distance <= 2 by the SymSpell theorem.

    Reference anchor: the reference normalizes text but has no
    vocabulary-level near-match mining
    (processing/text_cleaner.py)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    vocab = (
        docs.select(F.explode(w).alias("word"))
        .filter(F.length("word") >= TYPO_MIN_LEN)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    return edit_neighbor_pairs(vocab)


def edit_neighbor_pairs(
    vocab: DataFrame,
    word_col: str = "word",
    count_col: str = "c",
    variant_cap: int = TYPO_VARIANT_CAP,
    typo_ratio: float = TYPO_RATIO,
) -> DataFrame:
    """Library core of `typo_candidate_pairs`
    (api.dedup.edit_neighbor_pairs): SymSpell deletion-neighborhood
    join over any (word, count) vocabulary — every pair within edit
    distance 2, with the rare/frequent ratio flag."""
    vocab = vocab.select(
        F.col(word_col).alias("word"), F.col(count_col).alias("c")
    )
    d1 = vocab.withColumn(
        "del1",
        F.expr(
            "transform(sequence(1, length(word)), i ->"
            " concat(substring(word, 1, i - 1),"
            " substring(word, i + 1, length(word))))"
        ),
    )
    expanded = d1.select(
        "word",
        "c",
        F.array_distinct(
            F.concat(
                F.array("word"),
                F.col("del1"),
                F.expr(
                    "flatten(transform(del1, v ->"
                    " transform(sequence(1, length(v)), j ->"
                    " concat(substring(v, 1, j - 1),"
                    " substring(v, j + 1, length(v))))))"
                ),
            )
        ).alias("variants"),
    )
    per_variant = Window.partitionBy("variant")
    posting = (
        # explode_OUTER on purpose: plain explode implies a
        # size(variants) > 0 filter that Catalyst pushes BELOW the
        # vocab aggregate, re-evaluating the nested interpreted
        # variant-construction HOF per TOKEN OCCURRENCE instead of
        # per vocab word (measured 3x the query cost at sf0.1); the
        # array always contains the word itself, so outer == inner
        expanded.select(
            F.explode_outer("variants").alias("variant"), "word", "c"
        )
        .withColumn("n_post", F.count("*").over(per_variant))
        .filter(F.col("n_post") <= variant_cap)
        .drop("n_post")
    )
    a = posting.alias("a")
    b = posting.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .select(
            F.col("a.word").alias("word_a"),
            F.col("b.word").alias("word_b"),
            F.col("a.c").alias("count_a"),
            F.col("b.c").alias("count_b"),
        )
        .distinct()
    )
    dist = F.levenshtein("word_a", "word_b")
    ratio = F.least("count_a", "count_b") * 1.0 / F.greatest(
        "count_a", "count_b"
    )
    return (
        pairs.filter(dist <= 2)
        .select(
            "word_a",
            "word_b",
            dist.cast("int").alias("dist"),
            "count_a",
            "count_b",
            F.round(ratio, 6).alias("count_ratio"),
            F.when(ratio <= typo_ratio, 1).otherwise(0).alias(
                "suspected_typo"
            ),
        )
        .orderBy("dist", "word_a", "word_b")
    )


BAND_TUNE_SCHEMES = (1, 2, 4, 8, 16)  # rows-per-band ladder over 16
BAND_TUNE_CAP = 256  # posting cap per bucket (hot-key guard)


def _band_tune_band_selects() -> str:
    legs = []
    for r in BAND_TUNE_SCHEMES:
        for b in range(PMH_NUM_HASHES // r):
            cat = " || '|' || ".join(
                f"m{b * r + j}" for j in range(r)
            )
            legs.append(
                f"        SELECT {r} AS rpb, doc_id, {b} AS band_idx,"
                f" md5({cat}) AS band_hash FROM mh"
            )
    return "\n        UNION ALL\n".join(legs)


@query(
    "minhash_band_tuning",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS s
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    mh AS MATERIALIZED (
        SELECT doc_id,
               {_PMH_MIN_COLS}
        FROM sh GROUP BY doc_id
    ),
    allbands AS (
{_band_tune_band_selects()}
    ),
    sized AS MATERIALIZED (
        SELECT rpb, band_idx, band_hash, doc_id,
               COUNT(*) OVER (
                   PARTITION BY rpb, band_idx, band_hash) AS sz
        FROM allbands
    ),
    kept AS MATERIALIZED (
        SELECT * FROM sized
        WHERE sz >= 2 AND sz <= {BAND_TUNE_CAP}
    ),
    pairs AS (
        SELECT DISTINCT a.rpb, a.doc_id AS da, b.doc_id AS db
        FROM kept a JOIN kept b
          ON a.rpb = b.rpb AND a.band_idx = b.band_idx
         AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    pc AS (SELECT rpb, COUNT(*) AS np FROM pairs GROUP BY 1),
    bc AS (
        SELECT rpb, COUNT(*) AS nb FROM (
            SELECT DISTINCT rpb, band_idx, band_hash FROM kept
        ) GROUP BY 1
    ),
    grid AS (
        SELECT unnest([{", ".join(str(r) for r in BAND_TUNE_SCHEMES)}])
               AS rpb
    )
    SELECT g.rpb AS rows_per_band,
           CAST({PMH_NUM_HASHES} // g.rpb AS BIGINT) AS n_bands,
           ROUND(POWER(g.rpb * 1.0 / {PMH_NUM_HASHES},
                       1.0 / g.rpb), 6) AS sim_threshold,
           CAST(COALESCE(bc.nb, 0) AS BIGINT) AS n_multi_buckets,
           CAST(COALESCE(pc.np, 0) AS BIGINT) AS n_candidate_pairs
    FROM grid g
    LEFT JOIN pc ON pc.rpb = g.rpb
    LEFT JOIN bc ON bc.rpb = g.rpb
    ORDER BY rows_per_band
    """,
)
def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding calibration curve — the (bands x rows) trade a
    dedup owner reads before fixing the near-dup gate: for every
    banding of the 16 MinHash functions (16x1 ... 1x16), the number
    of multi-doc buckets and DISTINCT candidate pairs generated,
    beside the scheme's S-curve similarity threshold (1/b)^(1/r) —
    the jaccard at which a pair's candidate probability hits 50%.
    Small r floods verification with low-similarity candidates
    (threshold 0.0625 at 16x1); large r misses all but
    near-identical pairs (0.917 at 1x16). The measured pair counts
    ARE the verification-cost axis of that dial, on the corpus's own
    duplicate structure rather than the textbook curve.

    Scale shape: reuses the once-per-process memoized signature
    table (corpus scanned once); every scheme's bands ride ONE
    posexplode union (31 band rows per doc, constant), buckets are a
    (scheme, band, hash) groupBy with a posting cap — the identical
    cap on BOTH engines makes the counts comparable — and pairs
    stream through the nested posting explode, never a per-bucket
    pair array. Output is 5 rows at any corpus size.

    Reference anchor: the reference hardcodes one banding in its
    duplicate detector (processing/duplication_detector.py); this is
    the tuning panel that justifies a choice."""
    sigs = _portable_minhash_sigs(spark, sf_dir)

    def band_arr(r: int):
        return F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"m{b * r + j}") for j in range(r)],
                    )
                )
                for b in range(PMH_NUM_HASHES // r)
            ]
        )

    legs = [
        sigs.select(
            F.lit(r).alias("rpb"),
            "doc_id",
            F.posexplode(band_arr(r)).alias("band_idx", "band_hash"),
        )
        for r in BAND_TUNE_SCHEMES
    ]
    bands = legs[0]
    for leg in legs[1:]:
        bands = bands.unionAll(leg)
    buckets = (
        bands.groupBy("rpb", "band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(
            (F.size("ds") >= 2) & (F.size("ds") <= BAND_TUNE_CAP)
        )
    )
    partners = buckets.select(
        "rpb",
        F.explode(
            F.transform(
                "ds",
                lambda x, i: F.struct(
                    x.alias("x"),
                    F.slice(
                        F.col("ds"), i + 2, F.size(F.col("ds"))
                    ).alias("rest"),
                ),
            )
        ).alias("e"),
    )
    pairs = partners.select(
        "rpb",
        F.col("e.x").alias("da"),
        F.explode("e.rest").alias("db"),
    ).distinct()
    pc = pairs.groupBy("rpb").agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs")
    )
    bc = buckets.groupBy("rpb").agg(
        F.count("*").cast("bigint").alias("n_multi_buckets")
    )
    grid = literal_grid(spark, "rpb", BAND_TUNE_SCHEMES, "int")
    return (
        grid.join(F.broadcast(bc), "rpb", "left")
        .join(F.broadcast(pc), "rpb", "left")
        .select(
            F.col("rpb").alias("rows_per_band"),
            (F.lit(PMH_NUM_HASHES) / F.col("rpb"))
            .cast("bigint")
            .alias("n_bands"),
            F.round(
                F.pow(
                    F.col("rpb") * 1.0 / PMH_NUM_HASHES,
                    1.0 / F.col("rpb"),
                ),
                6,
            ).alias("sim_threshold"),
            F.coalesce("n_multi_buckets", F.lit(0)).alias(
                "n_multi_buckets"
            ),
            F.coalesce("n_candidate_pairs", F.lit(0)).alias(
                "n_candidate_pairs"
            ),
        )
        .orderBy("rows_per_band")
    )


# ---------------------------------------------------------------------
# Blocking-scheme engineering: the metrics a dedup/record-linkage
# pipeline reads BEFORE choosing its candidate-generation key. The
# near-dup pair table is the ground truth; schemes are judged on how
# many true pairs they co-block (pair completeness) vs how many
# candidate comparisons they admit (reduction ratio).
# ---------------------------------------------------------------------

_BLOCK_EPS = 1e-6  # m/u smoothing, identical literal in the oracle

_BLOCKING_ORACLE_HEAD = f"""
    WITH words AS (
        SELECT doc_id, lang, source, n_chars,
               list_filter(string_split_regex(lower(text),
                                              '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i)
        WHERE array_to_string(list_slice(w, i, i + 2), ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
        SELECT p.doc_a, p.doc_b,
               CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common)
                   AS jaccard
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
    ),
    keys AS (
        SELECT doc_id,
               array_to_string(list_slice(w, 1, 2), ' ') AS k_first2,
               CAST(n_chars // 50 AS VARCHAR) AS k_len50,
               lang || ':' || source AS k_langsrc
        FROM words
    )
"""


@query(
    "blocking_quality_report",
    oracle=_BLOCKING_ORACLE_HEAD
    + f""",
    truth AS (
        SELECT doc_a, doc_b FROM cand WHERE jaccard >= {NEARDUP_JACCARD}
    ),
    truth_keys AS (
        SELECT t.doc_a, t.doc_b,
               ka.k_first2 = kb.k_first2 AS hit_first2,
               ka.k_len50 = kb.k_len50 AS hit_len50,
               ka.k_langsrc = kb.k_langsrc AS hit_langsrc
        FROM truth t
        JOIN keys ka ON t.doc_a = ka.doc_id
        JOIN keys kb ON t.doc_b = kb.doc_id
    ),
    schemed AS (
        SELECT 'first2words' AS scheme, k_first2 AS k FROM keys
        UNION ALL
        SELECT 'len50', k_len50 FROM keys
        UNION ALL
        SELECT 'langsrc', k_langsrc FROM keys
    ),
    blocks AS (
        SELECT scheme, k, COUNT(*) AS c
        FROM schemed GROUP BY 1, 2
    ),
    per_scheme AS (
        SELECT scheme,
               CAST(COUNT(*) FILTER (WHERE c > 1) AS BIGINT)
                   AS n_blocks_multi,
               CAST(SUM(c * (c - 1) / 2) AS BIGINT)
                   AS n_candidate_pairs
        FROM blocks GROUP BY scheme
    ),
    captured AS (
        SELECT 'first2words' AS scheme,
               CAST(COUNT(*) FILTER (WHERE hit_first2) AS BIGINT)
                   AS n_captured,
               CAST(COUNT(*) AS BIGINT) AS n_truth
        FROM truth_keys
        UNION ALL
        SELECT 'len50', COUNT(*) FILTER (WHERE hit_len50), COUNT(*)
        FROM truth_keys
        UNION ALL
        SELECT 'langsrc', COUNT(*) FILTER (WHERE hit_langsrc),
               COUNT(*)
        FROM truth_keys
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT s.scheme, s.n_blocks_multi, s.n_candidate_pairs,
           c.n_truth, c.n_captured,
           ROUND(c.n_captured * 1.0 / GREATEST(c.n_truth, 1), 6)
               AS pair_completeness,
           ROUND(1.0 - s.n_candidate_pairs * 2.0
                       / (t.n_docs * (t.n_docs - 1)), 6)
               AS reduction_ratio
    FROM per_scheme s
    JOIN captured c ON s.scheme = c.scheme
    CROSS JOIN tot t
    ORDER BY s.scheme
    """,
)
def blocking_quality_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocking-scheme quality panel — the measurement a dedup /
    record-linkage engineer runs BEFORE committing to a candidate-
    generation key (Christen's survey metrics): for each candidate
    blocking scheme, PAIR COMPLETENESS (share of true near-dup pairs
    the scheme co-blocks — recall of the candidate generator) and
    REDUCTION RATIO (share of the N^2 comparison space the scheme
    prunes). The truth set is the engine's own near-dup pair table
    (shingle-overlap Jaccard >= the neardup threshold, the same
    lineage `neardup_components` clusters); schemes under test:
    first-2-words key, 50-char length bucket, (lang, source) cell.
    The panel shows exactly the trade the LSH family automates:
    cheap keys prune hard but miss true pairs whose edit touched the
    key.

    Scale shape: per-scheme candidate counts come from k*(k-1)/2
    over block-size aggregates — the pair space is COUNTED, never
    materialized; truth-pair capture is two doc-grain key joins on
    the bounded (post-cap, post-threshold) truth table; output is
    3 rows. The first2words grain rides Heaps' law, len50/langsrc
    are fixed grids."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    keys = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(w, 1, 2)).alias("k_first2"),
        (F.col("n_chars") / 50).cast("bigint")
        .cast("string")
        .alias("k_len50"),
        F.concat_ws(":", "lang", "source").alias("k_langsrc"),
    )
    schemed = keys.select(
        "doc_id",
        F.stack(
            F.lit(3),
            F.lit("first2words"), F.col("k_first2"),
            F.lit("len50"), F.col("k_len50"),
            F.lit("langsrc"), F.col("k_langsrc"),
        ).alias("scheme", "k"),
    )
    per_scheme = (
        schemed.groupBy("scheme", "k")
        .agg(F.count("*").alias("c"))
        .groupBy("scheme")
        .agg(
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_blocks_multi"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("bigint")
            .alias("n_candidate_pairs"),
        )
    )
    truth = _jaccard_pairs_materialized(spark, sf_dir).filter(
        F.col("jaccard") >= NEARDUP_JACCARD
    )
    ka, kb = keys.alias("ka"), keys.alias("kb")
    truth_keys = (
        truth.join(ka, truth.doc_a == F.col("ka.doc_id"))
        .join(kb, truth.doc_b == F.col("kb.doc_id"))
        .select(
            (F.col("ka.k_first2") == F.col("kb.k_first2")).alias(
                "hit_first2"
            ),
            (F.col("ka.k_len50") == F.col("kb.k_len50")).alias(
                "hit_len50"
            ),
            (F.col("ka.k_langsrc") == F.col("kb.k_langsrc")).alias(
                "hit_langsrc"
            ),
        )
    )
    captured = truth_keys.agg(
        F.count("*").cast("bigint").alias("n_truth"),
        *[
            F.sum(F.when(F.col(f"hit_{s}"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"cap_{s}")
            for s in ("first2", "len50", "langsrc")
        ],
    ).select(
        F.stack(
            F.lit(3),
            F.lit("first2words"), F.col("cap_first2"),
            F.lit("len50"), F.col("cap_len50"),
            F.lit("langsrc"), F.col("cap_langsrc"),
        ).alias("scheme", "n_captured"),
        "n_truth",
    )
    tot = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        per_scheme.join(F.broadcast(captured), "scheme")
        .join(F.broadcast(tot))
        .select(
            "scheme",
            "n_blocks_multi",
            "n_candidate_pairs",
            "n_truth",
            "n_captured",
            F.round(
                F.col("n_captured")
                * 1.0
                / F.greatest(F.col("n_truth"), F.lit(1)),
                6,
            ).alias("pair_completeness"),
            F.round(
                1.0
                - F.col("n_candidate_pairs")
                * 2.0
                / (F.col("n_docs") * (F.col("n_docs") - 1)),
                6,
            ).alias("reduction_ratio"),
        )
        .orderBy("scheme")
    )


@query(
    "fellegi_sunter_weights",
    oracle=_BLOCKING_ORACLE_HEAD
    + f""",
    pair_fields AS (
        SELECT c.jaccard >= {NEARDUP_JACCARD} AS is_match,
               ka.k_first2 = kb.k_first2 AS agree_first2,
               ka.k_len50 = kb.k_len50 AS agree_len50,
               ka.lang_f = kb.lang_f AS agree_lang,
               ka.src_f = kb.src_f AS agree_source
        FROM cand c
        JOIN (SELECT k.doc_id, k.k_first2, k.k_len50,
                     w.lang AS lang_f, w.source AS src_f
              FROM keys k JOIN words w ON k.doc_id = w.doc_id) ka
          ON c.doc_a = ka.doc_id
        JOIN (SELECT k.doc_id, k.k_first2, k.k_len50,
                     w.lang AS lang_f, w.source AS src_f
              FROM keys k JOIN words w ON k.doc_id = w.doc_id) kb
          ON c.doc_b = kb.doc_id
    ),
    wide AS (
        SELECT
            AVG(CASE WHEN is_match AND agree_first2 THEN 1.0
                     WHEN is_match THEN 0.0 END) AS m_first2,
            AVG(CASE WHEN NOT is_match AND agree_first2 THEN 1.0
                     WHEN NOT is_match THEN 0.0 END) AS u_first2,
            AVG(CASE WHEN is_match AND agree_len50 THEN 1.0
                     WHEN is_match THEN 0.0 END) AS m_len50,
            AVG(CASE WHEN NOT is_match AND agree_len50 THEN 1.0
                     WHEN NOT is_match THEN 0.0 END) AS u_len50,
            AVG(CASE WHEN is_match AND agree_lang THEN 1.0
                     WHEN is_match THEN 0.0 END) AS m_lang,
            AVG(CASE WHEN NOT is_match AND agree_lang THEN 1.0
                     WHEN NOT is_match THEN 0.0 END) AS u_lang,
            AVG(CASE WHEN is_match AND agree_source THEN 1.0
                     WHEN is_match THEN 0.0 END) AS m_source,
            AVG(CASE WHEN NOT is_match AND agree_source THEN 1.0
                     WHEN NOT is_match THEN 0.0 END) AS u_source
        FROM pair_fields
    ),
    stacked(field, m, u) AS (
        SELECT 'first2words', m_first2, u_first2 FROM wide
        UNION ALL SELECT 'len50', m_len50, u_len50 FROM wide
        UNION ALL SELECT 'lang', m_lang, u_lang FROM wide
        UNION ALL SELECT 'source', m_source, u_source FROM wide
    )
    SELECT field,
           ROUND(m, 6) AS m_prob,
           ROUND(u, 6) AS u_prob,
           ROUND(log2((m + {_BLOCK_EPS}) / (u + {_BLOCK_EPS})), 6)
               AS w_agree,
           ROUND(log2((1.0 - m + {_BLOCK_EPS})
                      / (1.0 - u + {_BLOCK_EPS})), 6) AS w_disagree
    FROM stacked
    ORDER BY field
    """,
)
def fellegi_sunter_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter record-linkage weights — the probabilistic
    scoring layer classical entity resolution puts on top of blocked
    candidate pairs (Fellegi & Sunter 1969): per comparison field,
    m = P(fields agree | pair is a true match) and u = P(agree |
    non-match), giving the log-likelihood agreement weight
    log2(m/u) and disagreement weight log2((1-m)/(1-u)) that sum
    into each pair's match score. Here the candidate set is the
    engine's own shingle-overlap pair table, the match label is the
    near-dup Jaccard threshold (a deterministic supervisor — in
    production, EM or clerical labels fill this seam), and the
    fields are first-2-words, 50-char length bucket, lang, source.
    eps-smoothed so single-field degenerate corpora stay finite.

    Scale shape: m/u are ONE map-side-combinable aggregate over the
    posting-capped candidate pair table (never the N^2 space),
    stacked to a 4-row field panel; the field-key joins are
    doc-grain. Output is 4 rows at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    fields = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(w, 1, 2)).alias("k_first2"),
        (F.col("n_chars") / 50).cast("bigint")
        .cast("string")
        .alias("k_len50"),
        "lang",
        "source",
    )
    cand = _jaccard_pairs_materialized(spark, sf_dir)
    fa, fb = fields.alias("fa"), fields.alias("fb")
    pair_fields = (
        cand.join(fa, cand.doc_a == F.col("fa.doc_id"))
        .join(fb, cand.doc_b == F.col("fb.doc_id"))
        .select(
            (F.col("jaccard") >= NEARDUP_JACCARD).alias("is_match"),
            (F.col("fa.k_first2") == F.col("fb.k_first2")).alias(
                "agree_first2"
            ),
            (F.col("fa.k_len50") == F.col("fb.k_len50")).alias(
                "agree_len50"
            ),
            (F.col("fa.lang") == F.col("fb.lang")).alias("agree_lang"),
            (F.col("fa.source") == F.col("fb.source")).alias(
                "agree_source"
            ),
        )
    )

    def _mu(flag: str, match: bool):
        cond = F.col("is_match") if match else ~F.col("is_match")
        return F.avg(
            F.when(cond & F.col(flag), 1.0).when(cond, 0.0)
        )

    wide = pair_fields.agg(
        *[
            _mu(f"agree_{s}", m).alias(
                f"{'m' if m else 'u'}_{s}"
            )
            for s in ("first2", "len50", "lang", "source")
            for m in (True, False)
        ]
    )
    stacked = wide.select(
        F.stack(
            F.lit(4),
            F.lit("first2words"), F.col("m_first2"), F.col("u_first2"),
            F.lit("len50"), F.col("m_len50"), F.col("u_len50"),
            F.lit("lang"), F.col("m_lang"), F.col("u_lang"),
            F.lit("source"), F.col("m_source"), F.col("u_source"),
        ).alias("field", "m", "u")
    )
    eps = F.lit(_BLOCK_EPS)
    return stacked.select(
        "field",
        F.round("m", 6).alias("m_prob"),
        F.round("u", 6).alias("u_prob"),
        F.round(F.log2((F.col("m") + eps) / (F.col("u") + eps)), 6)
        .alias("w_agree"),
        F.round(
            F.log2(
                (1.0 - F.col("m") + eps) / (1.0 - F.col("u") + eps)
            ),
            6,
        ).alias("w_disagree"),
    ).orderBy("field")


# ---------------------------------------------------------------------
# Unsupervised Fellegi-Sunter: EM over the agreement-PATTERN table.
# The supervised twin above uses the Jaccard threshold as labels;
# real record linkage rarely has labels — Winkler's EM estimates
# (p, m_f, u_f) from pattern counts alone. With F binary fields the
# pattern table has 2^F rows, so the whole EM runs on a bounded
# frame; the SAME generated SQL text executes on both engines.
# ---------------------------------------------------------------------

_FS_EM_FIELDS = ("first2", "len50", "lang", "source")
_FS_EM_INIT = (0.1, 0.8, 0.2)  # p0, m0 (all fields), u0 (all fields)
_FS_EM_ROUNDS = 2


def _fs_em_sql() -> str:
    """The EM arithmetic from a `patterns(a_first2, a_len50, a_lang,
    a_source, c)` CTE — engine-portable SQL text (generated once,
    run verbatim on Spark AND DuckDB). Every posterior/parameter is
    6-dp-rounded before reuse so the two engines iterate on
    bit-identical values."""
    fs = _FS_EM_FIELDS
    p0, m0, u0 = _FS_EM_INIT

    def lik(prefix: str, pexpr: str, mexpr, uexpr) -> str:
        num = " * ".join(
            f"(CASE WHEN a_{f} THEN {mexpr(f)} "
            f"ELSE 1.0 - {mexpr(f)} END)"
            for f in fs
        )
        den = " * ".join(
            f"(CASE WHEN a_{f} THEN {uexpr(f)} "
            f"ELSE 1.0 - {uexpr(f)} END)"
            for f in fs
        )
        return (
            f"ROUND(({pexpr} * {num}) / ({pexpr} * {num}"
            f" + (1.0 - {pexpr}) * {den}), 6) AS w"
        )

    sql = f"""
    w1 AS (
        SELECT c, {', '.join(f'a_{f}' for f in fs)},
               {lik('r1', str(p0), lambda f: str(m0), lambda f: str(u0))}
        FROM patterns
    ),
    m1 AS (
        SELECT ROUND(SUM(c * w) / SUM(c), 6) AS p,
               {', '.join(
                   f"ROUND(SUM(CASE WHEN a_{f} THEN c * w ELSE 0 END)"
                   f" / SUM(c * w), 6) AS m_{f},"
                   f" ROUND(SUM(CASE WHEN a_{f} THEN c * (1.0 - w)"
                   f" ELSE 0 END) / SUM(c * (1.0 - w)), 6) AS u_{f}"
                   for f in fs)}
        FROM w1
    ),
    w2 AS (
        SELECT t.c, {', '.join(f't.a_{f}' for f in fs)},
               {lik('r2', 'm1.p', lambda f: f'm1.m_{f}', lambda f: f'm1.u_{f}')}
        FROM w1 t CROSS JOIN m1
    ),
    m2 AS (
        SELECT ROUND(SUM(c * w) / SUM(c), 6) AS p,
               {', '.join(
                   f"ROUND(SUM(CASE WHEN a_{f} THEN c * w ELSE 0 END)"
                   f" / SUM(c * w), 6) AS m_{f},"
                   f" ROUND(SUM(CASE WHEN a_{f} THEN c * (1.0 - w)"
                   f" ELSE 0 END) / SUM(c * (1.0 - w)), 6) AS u_{f}"
                   for f in fs)}
        FROM w2
    ),
    stacked AS (
        {' UNION ALL '.join(
            f"SELECT '{f}' AS field, m_{f} AS m_prob, u_{f} AS u_prob,"
            f" p AS match_prior FROM m2"
            for f in fs)}
    )
    SELECT field, m_prob, u_prob,
           ROUND(LOG2((m_prob + {_BLOCK_EPS})
                      / (u_prob + {_BLOCK_EPS})), 6) AS w_agree,
           ROUND(LOG2((1.0 - m_prob + {_BLOCK_EPS})
                      / (1.0 - u_prob + {_BLOCK_EPS})), 6)
               AS w_disagree,
           match_prior
    FROM stacked
    ORDER BY field
    """
    return sql


@query(
    "fellegi_sunter_em",
    oracle=_BLOCKING_ORACLE_HEAD
    + f""",
    pair_fields AS (
        SELECT ka.k_first2 = kb.k_first2 AS a_first2,
               ka.k_len50 = kb.k_len50 AS a_len50,
               ka.lang_f = kb.lang_f AS a_lang,
               ka.src_f = kb.src_f AS a_source
        FROM cand c
        JOIN (SELECT k.doc_id, k.k_first2, k.k_len50,
                     w.lang AS lang_f, w.source AS src_f
              FROM keys k JOIN words w ON k.doc_id = w.doc_id) ka
          ON c.doc_a = ka.doc_id
        JOIN (SELECT k.doc_id, k.k_first2, k.k_len50,
                     w.lang AS lang_f, w.source AS src_f
              FROM keys k JOIN words w ON k.doc_id = w.doc_id) kb
          ON c.doc_b = kb.doc_id
    ),
    patterns AS (
        SELECT a_first2, a_len50, a_lang, a_source,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM pair_fields GROUP BY 1, 2, 3, 4
    ),
    {_fs_em_sql()}
    """,
)
def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED Fellegi-Sunter parameter estimation — Winkler's
    EM over agreement patterns, the estimator real record linkage
    uses when no one has labeled pairs (the supervised twin
    `fellegi_sunter_weights` borrows the near-dup threshold as its
    supervisor; this one learns (match prior, m_f, u_f) from the
    CO-OCCURRENCE STRUCTURE of field agreements alone, under the
    conditional-independence model). Two EM rounds from the fixed
    (p=0.1, m=0.8, u=0.2) init, every statistic 6-dp-rounded before
    reuse; the EM arithmetic is ONE generated SQL text executed
    verbatim by BOTH engines, so the iteration is bit-identical by
    construction.

    Scale shape: the corpus reduces to the 2^4-row agreement-PATTERN
    table in one aggregate over the posting-capped candidate pairs;
    the entire EM then runs on <= 16 rows (posterior weights are
    row-local arithmetic, M-steps are 1-row aggregates, the
    round-2 expansion is a 16-row cross join with a 1-row frame).
    This is the bounded-pattern-table formulation that makes EM
    linkage viable at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    fields = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(w, 1, 2)).alias("k_first2"),
        (F.col("n_chars") / 50).cast("bigint")
        .cast("string")
        .alias("k_len50"),
        "lang",
        "source",
    )
    cand = _jaccard_pairs_materialized(spark, sf_dir)
    fa, fb = fields.alias("fa"), fields.alias("fb")
    patterns = (
        cand.join(fa, cand.doc_a == F.col("fa.doc_id"))
        .join(fb, cand.doc_b == F.col("fb.doc_id"))
        .select(
            (F.col("fa.k_first2") == F.col("fb.k_first2")).alias(
                "a_first2"
            ),
            (F.col("fa.k_len50") == F.col("fb.k_len50")).alias(
                "a_len50"
            ),
            (F.col("fa.lang") == F.col("fb.lang")).alias("a_lang"),
            (F.col("fa.source") == F.col("fb.source")).alias(
                "a_source"
            ),
        )
        .groupBy("a_first2", "a_len50", "a_lang", "a_source")
        .agg(F.count("*").cast("double").alias("c"))
    )
    # The EM SQL references the pattern CTE many times (two weight
    # rounds, two M-steps, a 4-way stacked panel): materialize the
    # <= 16-row table ONCE so re-inlined references scan a tiny RDD
    # instead of re-running the corpus-grain pattern aggregation.
    patterns = patterns.localCheckpoint()
    # Register the view on the PATTERN FRAME's own session and run
    # the SQL there: the memoized pair table may belong to a sibling
    # newSession() clone (bench runs each query in its own session),
    # and temp views are session-scoped — registering on `spark`
    # while the frame resolves against its parent session leaves the
    # SQL unable to see the view.
    ps = patterns.sparkSession
    view = f"fs_em_patterns_{abs(hash(sf_dir)) % 10**8}"
    patterns.createOrReplaceTempView(view)
    return ps.sql(
        f"WITH patterns AS (SELECT * FROM {view}), {_fs_em_sql()}"
    )


SNM_WINDOW = 2  # sorted-neighborhood lookahead (window size w = 3)
SNM_TOPK = 40  # deterministic result page


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH led AS (
        SELECT c_custkey AS key_a, c_name AS name_a,
               c_mktsegment AS seg_a, c_acctbal AS bal_a,
               LEAD(c_custkey, 1) OVER w AS k1,
               LEAD(c_name, 1) OVER w AS n1,
               LEAD(c_mktsegment, 1) OVER w AS s1,
               LEAD(c_acctbal, 1) OVER w AS b1,
               LEAD(c_custkey, 2) OVER w AS k2,
               LEAD(c_name, 2) OVER w AS n2,
               LEAD(c_mktsegment, 2) OVER w AS s2,
               LEAD(c_acctbal, 2) OVER w AS b2
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_name, c_custkey)
    ),
    cand AS (
        SELECT key_a, name_a, seg_a, bal_a,
               k1 AS key_b, n1 AS name_b, s1 AS seg_b, b1 AS bal_b,
               1 AS neighbor_offset
        FROM led WHERE n1 IS NOT NULL
        UNION ALL
        SELECT key_a, name_a, seg_a, bal_a, k2, n2, s2, b2, 2
        FROM led WHERE n2 IS NOT NULL
    )
    SELECT key_a, key_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev_dist,
           CAST(neighbor_offset AS BIGINT) AS neighbor_offset,
           CAST(seg_a = seg_b AS INT) AS same_segment,
           ROUND(ABS(bal_a - bal_b), 2) AS bal_gap
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    ORDER BY lev_dist, name_a, name_b
    LIMIT {SNM_TOPK}
    """,
)
def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernandez & Stolfo
    1995 merge/purge) over customer records — THE classic linkage
    blocking baseline beside the engine's key-equality blocking
    (`blocking_quality_report`) and exact edit-distance join
    (`typo_candidate_pairs`): sort records on a key within blocks,
    slide a fixed window of w = 3, compare only neighbors. Names one
    edit apart land adjacent in sort order, so near-duplicate
    records (typo'd ids, re-registrations) surface at linear cost;
    emitted features (edit distance, segment agreement, balance gap)
    are exactly what the Fellegi-Sunter scorer
    (`fellegi_sunter_weights`) consumes downstream. SNM's documented
    miss class — FIRST-character errors — is why production runs
    multi-pass with rotated keys; this is the single-pass primitive.

    Scale shape: ONE shuffle to (nation, name)-sorted blocks, LEAD
    1..2 window columns instead of a w x N pair expansion,
    levenshtein only on adjacent candidates, deterministic 40-row
    page out. At lake scale the block key generalizes to
    repartitionByRange on the sort key (same plan: range exchange +
    within-partition sort + LEAD), so no block ever holds more than
    a partition's worth of records; the nation block here stands in
    for that range partitioner at test scale."""
    cust = load_table(spark, sf_dir, "customer")
    win = Window.partitionBy("c_nationkey").orderBy(
        "c_name", "c_custkey"
    )
    led = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("c_acctbal").alias("bal_a"),
        *[
            F.lead(c, o).over(win).alias(f"{a}{o}")
            for o in (1, 2)
            for c, a in (
                ("c_custkey", "k"),
                ("c_name", "n"),
                ("c_mktsegment", "s"),
                ("c_acctbal", "b"),
            )
        ],
    )
    cand = led.select(
        "key_a",
        "name_a",
        "seg_a",
        "bal_a",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"k{o}").alias("key_b"),
                        F.col(f"n{o}").alias("name_b"),
                        F.col(f"s{o}").alias("seg_b"),
                        F.col(f"b{o}").alias("bal_b"),
                        F.lit(o).alias("neighbor_offset"),
                    )
                    for o in (1, 2)
                ]
            )
        ).alias("p"),
    ).select(
        "key_a", "name_a", "seg_a", "bal_a", "p.*"
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        cand.filter(F.col("name_b").isNotNull() & (lev <= 1))
        .select(
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            lev.cast("bigint").alias("lev_dist"),
            F.col("neighbor_offset").cast("bigint").alias(
                "neighbor_offset"
            ),
            (F.col("seg_a") == F.col("seg_b")).cast("int").alias(
                "same_segment"
            ),
            F.round(F.abs(F.col("bal_a") - F.col("bal_b")), 2).alias(
                "bal_gap"
            ),
        )
        .orderBy("lev_dist", "name_a", "name_b")
        .limit(SNM_TOPK)
    )
