"""In-engine BPE tokenizer training (Sennrich et al. 2016).

The reference counts whitespace tokens and stops there
(Processing/data_transformation.py token estimates); a training-data
pipeline also has to TRAIN the tokenizer on the corpus it just
curated. This module runs byte-pair-encoding merge learning as a
Spark loop with the classic trainer's state split the same way the
engine's other iterative fits do it (k-means, PageRank): the MODEL
(the learned merge table — one row per round) lives on the driver,
the DATA (the word-frequency vocabulary) stays distributed and is
transformed in place each round.

Why this is the right 100 TB shape:

* BPE trainers never iterate the corpus — they iterate the
  word-frequency DICTIONARY (Heaps' law: ~1M distinct words for a
  web-scale corpus vs trillions of tokens). The corpus is touched
  exactly once, by the word-count aggregation; every merge round
  then explodes adjacent symbol pairs of the VOCAB table only.
* Worst-case web garbage (random strings make the dictionary grow
  linearly) is bounded by ``VOCAB_CAP``: keep the top-N words by
  (count, word) — the exact prefix every practical trainer
  (SentencePiece, HF tokenizers) trains on. A no-op on this lake
  (distinct words << cap), deterministic everywhere.
* Per round: one explode + one groupBy of the vocab, a ONE-ROW
  collect (the argmax pair — model state, never data), and an
  in-row fold that applies the merge left-to-right with no shuffle.
  ``localCheckpoint`` every ``CHECKPOINT_EVERY`` rounds truncates
  the per-round lineage growth (same fix PageRank needed).

Non-SQL-expressible (loop-carried vocabulary state) -> rows-only
driver check; parity against a pure-Python reference trainer and
determinism are pinned in tests/test_text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import literal_frame, load_table

N_MERGES = 12
VOCAB_CAP = 65536
CHECKPOINT_EVERY = 4

def _merges_for(spark: SparkSession, sf_dir: str):
    """Materialized-intermediate cache: the learned merge table for a
    lake dir, trained once per process and shared by the learn-side
    query (bpe_merge_ranks) and the apply-side query
    (bpe_encode_stats) — a production tokenizer trains once and
    ships merges.txt; retraining per consuming query would be
    benchmarking an anti-pattern. Keyed by (context id, sf_dir) and
    rebuilt when the lake dir's ``table_version`` changes. Direct
    callers of train_bpe_merges (tests, custom corpora) stay
    uncached."""
    from ..memo import shared_intermediate

    return shared_intermediate(
        spark,
        "bpe_merges",
        (sf_dir,),
        lambda: train_bpe_merges(
            load_table(spark, sf_dir, "documents")
        ),
    )


def _word_vocab(docs: DataFrame, cap: int = VOCAB_CAP) -> DataFrame:
    """(word, cnt, symbols) — the trainer's working set. One corpus
    aggregation; everything after iterates this table only."""
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(cap)
        .withColumn("symbols", F.split(F.col("word"), ""))
    )


def _apply_merge(symbols, left: str, right: str):
    """Left-to-right non-overlapping merge of adjacent (left, right)
    into one symbol — a single in-row fold, no shuffle. The fold
    compares the accumulator's LAST element: a freshly merged token
    (left||right) can never equal ``left`` again (right is
    non-empty), so overlap handling ('aaa' + (a,a) -> [aa, a]) is
    correct by construction."""
    return F.aggregate(
        symbols,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe_merges(
    docs: DataFrame, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    [(rank, left, right, weighted_pair_count), ...]. Ties break
    deterministically by (count DESC, left, right) — same rule in
    the Python parity reference."""
    # Persist the trainer's working set: without it, every merge
    # round's 1-row collect replays the corpus word-count aggregation
    # through the lineage until the first localCheckpoint lands — a
    # wash at sf0.1 (the re-agg is ~23k words) but the difference
    # between 1 and CHECKPOINT_EVERY corpus scans at 100 TB. The
    # cache holds the Heaps-bounded vocab only, never the corpus.
    base = _word_vocab(docs).persist()
    vocab = base
    merges: list[tuple[int, str, str, int]] = []
    try:
        _train_loop(vocab, merges, n_merges)
    finally:
        base.unpersist()
    return merges


def _train_loop(vocab, merges, n_merges) -> None:
    for rank in range(n_merges):
        n = F.size("symbols")
        ln = F.greatest(n - 1, F.lit(0))
        pair = F.explode(
            F.arrays_zip(
                F.slice("symbols", 1, ln).alias("a"),
                F.slice("symbols", 2, ln).alias("b"),
            )
        ).alias("p")
        top = (
            vocab.select("cnt", pair)
            .select("cnt", "p.a", "p.b")
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), "a", "b")
            .limit(1)
            .collect()
        )  # ONE row: the argmax pair — model state, never data
        if not top:
            break
        a, b, pc = top[0]["a"], top[0]["b"], int(top[0]["pc"])
        merges.append((rank, a, b, pc))
        vocab = vocab.withColumn(
            "symbols", _apply_merge(F.col("symbols"), a, b)
        )
        if (rank + 1) % CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint(eager=False)


@query("bpe_merge_ranks")  # rows-only: loop-carried vocabulary state
def bpe_merge_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table, rank-ordered — what a tokenizer ships
    as ``merges.txt``. See module docstring for the scale argument;
    parity vs a pure-Python BPE trainer is pinned in tests."""
    merges = _merges_for(spark, sf_dir)
    return literal_frame(
        spark,
        "rank int, left string, right string, pair_count long",
        merges,
    ).orderBy("rank")


def encode_word_tokens(word: str, merge_pairs) -> int:
    """Token count of one word under the learned merge table:
    iterate merges in RANK ORDER with one exhaustive left-to-right
    non-overlapping pass each (exactly subword-nmt's ``apply_bpe``,
    and exactly `_apply_merge`'s fold semantics — the accumulator's
    last element merges with the current symbol when they equal
    (left, right)). Equivalence to the merge-lowest-rank-present
    loop: a pair learned at rank r has both constituent symbols
    created before r, and applying a later merge can only create
    adjacencies involving its own new symbol, whose pairs all rank
    higher still."""
    syms = list(word)
    for a, b in merge_pairs:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return len(syms)


def encode_word_vocab(docs: DataFrame, merges) -> DataFrame:
    """(word, n_tokens): every distinct corpus word encoded with the
    learned merge table.

    The encode runs over the DISTINCT-WORD vocabulary (Heaps' law —
    ~1M rows at web scale), never the corpus. r12 (guide §4.2): the
    previous form chained ``len(merges)`` Catalyst ``aggregate``
    folds into one NESTED expression per word — interpreted lambda
    evaluation 12 levels deep was this query's dominant CPU. The
    merge table is model state (a dozen pairs), so the encode is now
    a ``mapInPandas`` stage running the identical left-to-right fold
    in `encode_word_tokens` — per-word Python, but a few hundred
    plain list operations per word instead of interpreted Catalyst
    lambda trees. Bit-equality with the fold chain is pinned in
    tests/test_round12_ops.py."""
    merge_pairs = [(a, b) for _, a, b, _ in merges]

    def enc(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_tokens"] = [
                encode_word_tokens(w, merge_pairs)
                for w in pdf["word"]
            ]
            yield pdf

    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word")
    ).distinct()
    return words.mapInPandas(enc, "word string, n_tokens int")


@query("bpe_encode_stats")  # rows-only: loop-carried trainer state
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE on the corpus, ENCODE the corpus with it, and report
    per-document token statistics — the apply half of the tokenizer
    lifecycle (train_bpe_merges is the learn half), and the real
    token accounting a data pipeline bills by (token_counts's
    whitespace estimate is the cheap proxy; this is the learned
    vocabulary's answer).

    Scale shape: encoding happens once per DISTINCT word (in-row
    fold chain, no shuffle), then per-doc stats are one exploded-
    words equi-join against that vocabulary and one groupBy(doc_id).
    The vocab side is Heaps-law bounded, so AQE broadcasts it while
    it fits and shuffles on the word key beyond that — the same
    Zipf-hot-key shape tfidf_top_terms and vocab_coverage carry
    (scalar aggregates per key, no pair expansion, so skew is
    bounded)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _merges_for(spark, sf_dir)
    vocab_tok = encode_word_vocab(docs, merges)
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word"),
    )
    return (
        words.join(vocab_tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.length("word"))
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


BPP_ROUNDS = 3  # unrolled merge rounds in the portable twin
_BPP_PH = [chr(0xE000 + i) for i in range(BPP_ROUNDS)]  # private-use
_BPP_DISPLAY = [f"[m{i}]" for i in range(BPP_ROUNDS)]


def _bpp_oracle() -> str:
    """Unrolled-CTE oracle for bpe_portable. Each round: position-
    exploded char bigrams weighted by word frequency (overlapping
    adjacents counted, the classic get_stats), argmax with the
    (count DESC, pair ASC) tie-break, then one left-to-right
    non-overlapping replace of the winning pair with that round's
    private-use placeholder char — which keeps every symbol ONE
    character, so round r+1 is again plain char bigrams."""
    ctes = ["""
    WITH vocab AS (
        SELECT word, COUNT(*) AS cnt FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS word
            FROM documents
        ) GROUP BY 1
    ),
    v0 AS (SELECT word AS w, cnt FROM vocab)"""]
    for r in range(BPP_ROUNDS):
        ph = 0xE000 + r
        ctes.append(f"""
    p{r} AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair,
               SUM(cnt) AS pc
        FROM (SELECT w, cnt, unnest(range(1, length(w))) AS i
              FROM v{r})
        GROUP BY 1
    ),
    m{r} AS (SELECT pair, pc FROM p{r} ORDER BY pc DESC, pair LIMIT 1),
    v{r + 1} AS (
        SELECT replace(w, (SELECT pair FROM m{r}), chr({ph})) AS w,
               cnt
        FROM v{r}
    )""")
    disp = "pair"
    for r in range(BPP_ROUNDS):
        disp = f"replace({disp}, chr({0xE000 + r}), '[m{r}]')"
    rows = " UNION ALL ".join(
        f"""
        SELECT {r} AS rank, {disp} AS pair, CAST(pc AS BIGINT)
                   AS pair_count,
               (SELECT CAST(SUM(cnt * length(w)) AS BIGINT)
                FROM v{r + 1}) AS tokens_after
        FROM m{r}"""
        for r in range(BPP_ROUNDS)
    )
    return ",".join(ctes) + rows + " ORDER BY rank"


@query("bpe_portable", oracle=_bpp_oracle())
def bpe_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-verified BPE twin — the tokenizer family's hash-MATCHED
    member beside the production loop's Python-parity tests: 3
    unrolled merge rounds with the EXACT trainer semantics of
    `train_bpe_merges` (pair counts weighted by word frequency with
    overlapping adjacents counted; argmax tie-broken by (count DESC,
    pair ASC); merge applied left-to-right non-overlapping), made
    SQL-expressible by ONE representational trick: each round's
    merged pair is replaced by a reserved PRIVATE-USE character
    (U+E000+r), so every symbol stays a single char and the next
    round's pair scan is again plain position-indexed char bigrams —
    no loop-carried array state. Left-to-right non-overlap is then
    exactly string replace() semantics in both engines ('aaa' +
    (a,a) -> [aa][a]). The merge table is isomorphic to the
    production trainer's (symbols renamed through placeholders);
    output maps placeholders to [m0]/[m1]/[m2] for display and adds
    the post-round corpus token count, so the COMPRESSION the merge
    buys is verified too, not just the argmax.

    Scale shape: identical to the production trainer — the corpus is
    scanned once into the Heaps-bounded word-frequency vocab; each
    round explodes char positions of the VOCAB only, collects ONE
    argmax row (O(model)), and re-injects it as a replace literal.

    Reference anchor: tokenizer-training upgrade of the reference's
    whitespace token estimates (Processing/data_transformation.py);
    Sennrich et al. 2016."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    merges: list[tuple[str, int]] = []
    v = vocab
    rounds = []
    for r in range(BPP_ROUNDS):
        pairs = (
            # length-1 words carry no pairs; the filter also dodges
            # Spark's descending sequence(1, 0) for them (DuckDB's
            # range(1, 1) is empty, Spark's sequence is [1, 0] and
            # would manufacture phantom single-char pairs)
            v.filter(F.length("w") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.sequence(F.lit(1), F.length("w") - 1)
                ).alias("i"),
                "w",
            )
            .select(
                F.expr("substr(w, i, 2)").alias("pair"), F.col("cnt")
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), "pair")
            .limit(1)
            .collect()
        )  # ONE row: the argmax merge — model state, never data
        pair, pc = pairs[0]["pair"], int(pairs[0]["pc"])
        merges.append((pair, pc))
        v = v.select(
            F.replace(
                F.col("w"), F.lit(pair), F.lit(_BPP_PH[r])
            ).alias("w"),
            "cnt",
        )
        rounds.append(v)

    def _display(pair: str) -> str:
        for ph, d in zip(_BPP_PH, _BPP_DISPLAY):
            pair = pair.replace(ph, d)
        return pair

    out = None
    for r, ((pair, pc), vr) in enumerate(zip(merges, rounds)):
        row = vr.agg(
            F.lit(r).alias("rank"),
            F.lit(_display(pair)).alias("pair"),
            F.lit(pc).cast("bigint").alias("pair_count"),
            F.sum(F.col("cnt") * F.length("w"))
            .cast("bigint")
            .alias("tokens_after"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("rank")
