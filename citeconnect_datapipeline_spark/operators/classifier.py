"""In-engine quality-classifier training (logistic regression).

The classifier-based quality filter is the step every published LM
data pipeline runs after rule filters: GPT-3 trained an LR on
"WebText vs raw Common Crawl" features and kept high-scoring pages
(Brown et al. 2020, App. A), LLaMA/RedPajama and CCNet do the same
with fastText-style linear models over bag-of-words features. The
reference has no learned filter at all (its quality score is rule
arithmetic, databias/bias_detection_engine.py:1-120) — this module is
that learned upgrade, trained entirely IN-PLANE with the same
driver-bounded loop discipline as ``clustering._kmeans_fit``. Each
part has one implementation, shared by all three queries:

- Features: ``doc_features`` builds ONE row per document,
  ``(doc_id, y, bs array<int>, xs array<double>)``. The words are
  split JVM-side; one mapInArrow kernel md5-buckets them (256
  buckets, the first two hex chars, the hashed bag-of-words DSIR
  uses), L1-normalises the counts and appends the bias element (slot
  ``N_BUCKETS``, x = 1). A document with no word (NULL or empty text)
  gets no row: it neither trains nor scores.
- Labels: the trusted slice (``source = 'src0'``, the corpus's
  Wikipedia stand-in, as in lm_perplexity_buckets / DSIR) is the
  positive class; everything else negative. Positives are re-weighted
  by the class ratio (negatives / positives; 1.0 when either class
  is empty) so the 1:19 imbalance cannot push the classifier to the
  constant-negative solution.
- Gradient: ``_partials`` is ONE mapInArrow pass over the pinned
  table whose tasks emit O(model) partials: per class, 257 gradient
  sums, the loss sum and the document count, plus slot presence.
  Margins, sigmoids and per-element products run vectorised in numpy
  inside the task; no join, no doc-keyed exchange, and the driver
  never sees a document.
- Fit: ``logreg_fit`` is the one driver-side AdaGrad loop
  (full-batch, per-coordinate steps: plain GD on L1-normalised
  bag-of-words either crawls or oscillates without a hand-tuned
  global step, while the accumulated-curvature denominator is
  scale-free; L2 on every slot but the bias).
- Scoring: ``score_with_weights`` is one more mapInArrow pass with
  the margin and sigmoid the gradient pass uses.

Every float that crosses between engines is rounded to 6 dp: the
class weight, each round's gradient, weights and loss, and each
document's sigmoid. The margin under the sigmoid is not: it is a sum
of (count / length) x (6-dp weight) terms, so its exact value often
sits on a 6-dp tie that each engine's summation order would break
its own way. ``_lr_oracle`` replays the fit round for round as
unrolled DuckDB CTEs, so all three queries are hash-checked:
``quality_classifier`` (10 rounds, one probability per document),
``classifier_eval`` (its confusion table) and
``logreg_adagrad_portable`` (2 rounds, the top-20 weight table).

Scale: a round costs one scan of the one-row-per-document table;
model state is 257 doubles at any corpus size. When full-batch scans
per round are too dear, the production swap is mini-batch rounds
over a hash-sampled sliver (``pmod(xxhash64(doc_id), s) = 0``).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round6, spark_round
from ..plans.registry import query
from ..sources.tables import literal_frame, load_table

N_BUCKETS = 256  # md5(word) first 2 hex chars, as in DSIR; bias = slot 256
N_ROUNDS = 10  # quality_classifier's AdaGrad rounds
LRP_ROUNDS = 2  # logreg_adagrad_portable's
LEARNING_RATE = 0.2
L2_LAMBDA = 1e-4
ADAGRAD_EPS = 1e-12  # AdaGrad step denominator guard
TRUSTED_SOURCE = "src0"
LRP_BIAS = "~bias"  # the bias slot's bucket name; sorts after every
# hex bucket in both engines
_BIAS = np.arange(N_BUCKETS + 1) == N_BUCKETS


def _words() -> Column:
    """The lower-cased ``[a-z0-9]+`` words of ``text`` (NULL for NULL
    text)."""
    return F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )


def doc_features(docs: DataFrame, label: Column) -> DataFrame:
    """The per-document training table ``(doc_id, y, bs, xs)`` over a
    ``(doc_id, text)`` frame: y is 1.0 where the boolean ``label``
    holds and 0.0 elsewhere; bs and xs are the document's md5-bucket
    ids in ascending order and their L1-normalised word counts, then
    the bias element (slot N_BUCKETS, x = 1). A document with no word
    has no row."""
    import hashlib
    from collections import Counter

    import pyarrow as pa

    from ..sources.tables import spread_small_source

    src = spread_small_source(docs).select(
        "doc_id",
        F.when(label, 1.0).otherwise(0.0).alias("y"),
        _words().alias("ws"),
    )

    def kernel(batches):
        for b in batches:
            keep, bs, xs = [], [], []
            for i, ws in enumerate(b.column("ws").to_pylist()):
                if not ws:
                    continue
                counts = Counter(
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:2], 16)
                    for w in ws
                )
                slots = sorted(counts)
                keep.append(i)
                bs.append(slots + [N_BUCKETS])
                xs.append([counts[s] / len(ws) for s in slots] + [1.0])
            if keep:
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column("doc_id").take(keep),
                        b.column("y").take(keep),
                        pa.array(bs, type=pa.list_(pa.int32())),
                        pa.array(xs, type=pa.list_(pa.float64())),
                    ],
                    names=["doc_id", "y", "bs", "xs"],
                )

    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInArrow(
        kernel, f"doc_id {id_type}, y double, bs array<int>, xs array<double>"
    )


def _doc_arrays(batch):
    """One Arrow batch of the training table as numpy: labels, flat
    slot ids, flat x values, and each document's start and length in
    the flat arrays."""
    ys = batch.column("y").to_numpy(zero_copy_only=False)
    bs = batch.column("bs")
    off = np.asarray(bs.offsets, dtype=np.int64)
    flat_b = np.asarray(bs.flatten(), dtype=np.int64)
    flat_x = np.asarray(batch.column("xs").flatten(), dtype=np.float64)
    return ys, flat_b, flat_x, off[:-1] - off[0], np.diff(off)


def _probs(bs, xs, starts, wv):
    """Each document's 6-dp sigmoid of its margin sum(x * w[b])
    (every document holds the bias element, so no segment is
    empty)."""
    m = np.add.reduceat(xs * wv[bs], starts)
    return round6(1.0 / (1.0 + np.exp(-m)))


def _partials(train: DataFrame, wv: np.ndarray):
    """One pass over the training table under weights ``wv``, split by
    class (row 0: y = 0, row 1: y = 1): per slot the gradient sum of
    (p - y) x, the loss sum of -ln(p if y else 1 - p) and the number
    of documents, plus the number of documents holding each slot.
    Each task collects one row of partials."""
    import pyarrow as pa

    k = N_BUCKETS + 1

    def kernel(batches):
        g = np.zeros(2 * k)
        loss = np.zeros(2)
        n = np.zeros(2, dtype=np.int64)
        seen = np.zeros(k, dtype=np.int64)
        for b in batches:
            if b.num_rows == 0:
                continue
            ys, bs, xs, starts, lens = _doc_arrays(b)
            p = _probs(bs, xs, starts, wv)
            pos = (ys == 1.0).astype(np.int64)
            loss += np.bincount(
                pos, weights=-np.log(np.where(pos, p, 1.0 - p)), minlength=2
            )
            n += np.bincount(pos, minlength=2)
            g += np.bincount(
                np.repeat(pos * k, lens) + bs,
                weights=np.repeat(p - ys, lens) * xs,
                minlength=2 * k,
            )
            seen += np.bincount(bs, minlength=k)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([g.tolist()], type=pa.list_(pa.float64())),
                pa.array([loss.tolist()], type=pa.list_(pa.float64())),
                pa.array([n.tolist()], type=pa.list_(pa.int64())),
                pa.array([seen.tolist()], type=pa.list_(pa.int64())),
            ],
            names=["g", "loss", "n", "seen"],
        )

    g, loss = np.zeros(2 * k), np.zeros(2)
    n, seen = np.zeros(2, dtype=np.int64), np.zeros(k, dtype=np.int64)
    for r in train.mapInArrow(
        kernel,
        "g array<double>, loss array<double>, n array<bigint>,"
        " seen array<bigint>",
    ).collect():
        g += np.asarray(r["g"])
        loss += np.asarray(r["loss"])
        n += np.asarray(r["n"], dtype=np.int64)
        seen += np.asarray(r["seen"], dtype=np.int64)
    return g.reshape(2, k), loss, n, seen


class LogRegFit(NamedTuple):
    """``rounds`` AdaGrad rounds: ``weights[t]`` holds the 257 weights
    (bias last) after round t, t = 0..rounds (round 0 is the all-zero
    start); round t + 1's pass measures ``losses[t]``, the mean
    weighted training loss under ``weights[t]``, and takes the
    gradient ``grads[t]``; ``seen`` counts the documents holding each
    slot."""

    weights: list
    grads: list
    losses: list
    seen: np.ndarray


def logreg_fit(train: DataFrame, rounds: int) -> LogRegFit:
    """Full-batch class-weighted logistic regression over a
    ``doc_features`` table, which the caller pins: each round reads
    it once, in one mapInArrow pass (the first also counts the
    classes). Positives weigh pw = negatives / positives (1.0 when a
    class is empty). A round takes the gradient
    g = sum(wt (p - y) x) / sum(wt) + L2_LAMBDA * w (no L2 on the
    bias), accumulates h += g^2 and steps
    w -= LEARNING_RATE * g / (sqrt(h) + ADAGRAD_EPS). pw, g, w and
    each loss are rounded to 6 dp and p is the 6-dp sigmoid, so
    ``_lr_oracle`` replays the fit exactly."""
    weights, grads, losses = [np.zeros(N_BUCKETS + 1)], [], []
    h = np.zeros(N_BUCKETS + 1)
    seen = np.zeros(N_BUCKETS + 1, dtype=np.int64)
    for t in range(rounds):
        w = weights[-1]
        g_cls, loss_cls, (neg, pos), seen = _partials(train, w)
        if t == 0:
            pw = spark_round(neg / pos) if pos and neg else 1.0
            denom = max(pos * pw + neg, 1.0)  # 1.0: only when empty
        losses.append(spark_round((pw * loss_cls[1] + loss_cls[0]) / denom))
        g = round6(
            (pw * g_cls[1] + g_cls[0]) / denom
            + np.where(_BIAS, 0.0, L2_LAMBDA * w)
        )
        h = h + g * g
        grads.append(g)
        weights.append(
            round6(w - LEARNING_RATE * g / (np.sqrt(h) + ADAGRAD_EPS))
        )
    return LogRegFit(weights, grads, losses, seen)


def score_with_weights(train: DataFrame, weights) -> DataFrame:
    """``(doc_id, y, quality_prob)`` for every row of a
    ``doc_features`` table: the 6-dp sigmoid of the margin under
    ``weights`` (N_BUCKETS + 1 values, bias last; any other length
    raises ValueError)."""
    import pyarrow as pa

    if len(weights) != N_BUCKETS + 1:
        raise ValueError(
            f"expected {N_BUCKETS + 1} classifier weights (bias last),"
            f" got {len(weights)}"
        )
    wv = np.asarray(weights, dtype=np.float64)

    def kernel(batches):
        for b in batches:
            if b.num_rows:
                _, bs, xs, starts, _ = _doc_arrays(b)
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column("doc_id"),
                        b.column("y"),
                        pa.array(_probs(bs, xs, starts, wv)),
                    ],
                    names=["doc_id", "y", "quality_prob"],
                )

    id_type = train.schema["doc_id"].dataType.simpleString()
    return train.mapInArrow(
        kernel, f"doc_id {id_type}, y double, quality_prob double"
    )


def _lr_oracle(rounds: int, tail: str) -> str:
    """DuckDB replay of ``doc_features`` + ``logreg_fit(train,
    rounds)`` on the trusted-source labels: the training table as long
    (doc_id, b, x) rows with bucket names for slots, then for
    t = 0..rounds the probabilities p{t} (doc_id, y, wt, p) and the
    loss loss{t} under the weights w{t} (b, g, h, w), and for
    t < rounds round t + 1's gradient and weights w{t + 1}. p{t} and
    w{t} are MATERIALIZED: inlined, every round would re-derive all
    earlier ones. ``tail`` is the final SELECT over these CTEs."""
    sql = [f"""
    WITH lab AS (
        SELECT doc_id,
               CASE WHEN source = '{TRUSTED_SOURCE}' THEN 1.0
                    ELSE 0.0 END AS y
        FROM documents
        WHERE len(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) > 0
    ),
    cw AS (
        SELECT SUM(y) AS pos, COUNT(*) AS tot,
               CASE WHEN SUM(y) > 0 AND SUM(y) < COUNT(*)
                    THEN ROUND((COUNT(*) - SUM(y)) / SUM(y), 6)
                    ELSE 1.0 END AS pw
        FROM lab
    ),
    dn AS (SELECT GREATEST(pos * pw + (tot - pos), 1.0) AS denom FROM cw),
    labw AS (
        SELECT l.doc_id, l.y,
               CASE WHEN l.y = 1.0 THEN c.pw ELSE 1.0 END AS wt
        FROM lab l CROSS JOIN cw c
    ),
    wordfeat AS (
        SELECT doc_id, substr(md5(word), 1, 2) AS b,
               COUNT(*) AS c
        FROM (
            SELECT doc_id, unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS word
            FROM documents
        )
        GROUP BY 1, 2
    ),
    feats AS (
        SELECT doc_id, b,
               c * 1.0 / SUM(c) OVER (PARTITION BY doc_id) AS x
        FROM wordfeat
        UNION ALL
        SELECT DISTINCT doc_id, '{LRP_BIAS}' AS b, 1.0 AS x
        FROM wordfeat
    ),
    w0 AS (
        SELECT DISTINCT b, CAST(0 AS DOUBLE) AS g,
               CAST(0 AS DOUBLE) AS h, CAST(0 AS DOUBLE) AS w
        FROM feats
    )"""]
    for t in range(rounds + 1):
        sql.append(f""",
    p{t} AS MATERIALIZED (
        SELECT l.doc_id, l.y, l.wt,
               ROUND(1.0 / (1.0 + exp(-SUM(f.x * w.w))), 6) AS p
        FROM feats f JOIN w{t} w USING (b) JOIN labw l USING (doc_id)
        GROUP BY l.doc_id, l.y, l.wt
    ),
    loss{t} AS (
        SELECT ROUND(SUM(wt * -ln(CASE WHEN y = 1.0 THEN p
                                       ELSE 1.0 - p END))
                     / (SELECT denom FROM dn), 6) AS loss
        FROM p{t}
    )""")
        if t < rounds:
            sql.append(f""",
    g{t + 1} AS (
        SELECT w.b, w.w, w.h,
               ROUND(s.s / (SELECT denom FROM dn)
                     + CASE WHEN w.b = '{LRP_BIAS}' THEN 0.0
                            ELSE {L2_LAMBDA} * w.w END, 6) AS g
        FROM w{t} w JOIN (
            SELECT f.b, SUM(p.wt * (p.p - p.y) * f.x) AS s
            FROM feats f JOIN p{t} p USING (doc_id)
            GROUP BY f.b
        ) s USING (b)
    ),
    w{t + 1} AS MATERIALIZED (
        SELECT b, g, h + g * g AS h,
               ROUND(w - {LEARNING_RATE} * g
                     / (sqrt(h + g * g) + {ADAGRAD_EPS}), 6) AS w
        FROM g{t + 1}
    )""")
    return "".join(sql) + "\n    " + tail.strip() + "\n"


def _trusted_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_features(
        load_table(spark, sf_dir, "documents"),
        F.col("source") == TRUSTED_SOURCE,
    )


_QC_LAST = f"p{N_ROUNDS}"  # probabilities under quality_classifier's fit


@query(
    "quality_classifier",
    oracle=_lr_oracle(
        N_ROUNDS,
        f"""
    SELECT doc_id, p AS quality_prob,
           CAST(y AS INTEGER) AS is_trusted_source, p >= 0.5 AS keep
    FROM {_QC_LAST}
    ORDER BY doc_id
    """,
    ),
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the LR quality filter on trusted-vs-rest labels and
    score every document; ``keep`` marks documents the (class-
    balanced) classifier rates more trusted-like than not
    (prob >= 0.5) — the kept set is the classifier-filtered corpus
    downstream curation (dedup, mixing, packing) consumes. The pinned
    training table and the weights are memoized per lake version, so
    ``classifier_eval`` reads the same fit and scoring is one pass
    over that table."""
    from ..memo import shared_intermediate

    def build():
        train = _trusted_features(spark, sf_dir).persist()
        return train, logreg_fit(train, N_ROUNDS).weights[-1]

    train, weights = shared_intermediate(
        spark, "quality_classifier_fit", (sf_dir,), build
    )
    prob = F.col("quality_prob")
    # sorted before scoring: the range sort's sampling job then reads
    # the cached table instead of running the scoring kernel twice, and
    # the kernel keeps each partition's order
    return score_with_weights(train.orderBy("doc_id"), weights).select(
        "doc_id",
        prob,
        F.col("y").cast("int").alias("is_trusted_source"),
        (prob >= 0.5).alias("keep"),
    )


@query(
    "classifier_eval",
    oracle=_lr_oracle(
        N_ROUNDS,
        f"""
    SELECT is_trusted_source, keep, n,
           ROUND(n / SUM(n) OVER (PARTITION BY is_trusted_source), 6)
               AS share_of_label
    FROM (
        SELECT CAST(y AS INTEGER) AS is_trusted_source,
               p >= 0.5 AS keep, COUNT(*) AS n
        FROM {_QC_LAST}
        GROUP BY 1, 2
    )
    ORDER BY is_trusted_source, keep
    """,
    ),
)
def classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion table for the LR quality filter against its own
    training labels (trusted-source vs rest) — keep-decision counts,
    share-of-label, and the headline precision/recall a curator
    checks before trusting the kept corpus (same audit contract as
    lang_confusion_matrix; a filter is only as good as its published
    error rates). Reads the SAME memoized fit quality_classifier
    uses — no extra training, one tiny aggregate over the scored
    table."""
    scored = quality_classifier(spark, sf_dir)
    per_label = Window.partitionBy("is_trusted_source")
    return (
        scored.groupBy("is_trusted_source", "keep")
        .agg(F.count("*").alias("n"))
        .select(
            "is_trusted_source",
            "keep",
            "n",
            F.round(
                F.col("n")
                / F.sum("n").over(per_label).cast("double"),
                6,
            ).alias("share_of_label"),
        )
        .orderBy("is_trusted_source", "keep")
    )


@query(
    "logreg_adagrad_portable",
    oracle=_lr_oracle(
        LRP_ROUNDS,
        """
    SELECT a.b AS bucket, a.g AS g1, a.w AS w1, c.g AS g2, c.w AS w2,
           r.loss AS loss_r2, f.loss AS loss_final
    FROM w1 a JOIN w2 c USING (b)
    CROSS JOIN loss1 r CROSS JOIN loss2 f
    ORDER BY abs(c.w) DESC, a.b
    LIMIT 20
    """,
    ),
)
def logreg_adagrad_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fit laid open: ``logreg_fit``'s first 2 rounds on the
    trusted-source labels, reported as the 20 buckets with the largest
    |w2| — each bucket's (md5 2-hex-char name; ``~bias`` for the bias)
    round-1 and round-2 gradient and weight, beside the training loss
    under w1 (``loss_r2``) and under w2 (``loss_final``). Only buckets
    some document holds are listed. Reference anchor: GPT-3 App. A /
    CCNet linear quality filters."""
    train = _trusted_features(spark, sf_dir).persist()
    try:
        # one round more than reported: round 3's pass measures the
        # loss under w2
        fit = logreg_fit(train, LRP_ROUNDS + 1)
    finally:
        train.unpersist()
    g1, g2, _ = fit.grads
    _, w1, w2, _ = fit.weights
    name = [f"{i:02x}" for i in range(N_BUCKETS)] + [LRP_BIAS]
    top = sorted(
        np.flatnonzero(fit.seen), key=lambda i: (-abs(w2[i]), name[i])
    )[:20]
    return literal_frame(
        spark,
        "bucket string, g1 double, w1 double, g2 double, w2 double,"
        " loss_r2 double, loss_final double",
        [
            (
                name[i],
                float(g1[i]),
                float(w1[i]),
                float(g2[i]),
                float(w2[i]),
                fit.losses[1],
                fit.losses[2],
            )
            for i in top
        ],
    ).orderBy(F.abs(F.col("w2")).desc(), "bucket")


# ---------------------------------------------------------------------
# Calibration audit: once a score gates training data (keep/drop by
# "confidence"), the pipeline must know whether that confidence MEANS
# anything — the reliability diagram + ECE readout.
# ---------------------------------------------------------------------

ECE_BINS = 10  # standard reliability-diagram decile bins


def calibration_cells(scored, bins: int = None):
    """Library core of `score_calibration_ece` (api.classifier.
    calibration_cells): the reliability table + ECE for any
    (conf in [0,1], y in {0,1}) frame — bin counts, mean confidence,
    empirical positive rate, signed gap, and the bin-weighted ECE
    scalar broadcast onto every row. Score-agnostic: feed a model
    sigmoid, a heuristic score, anything the pipeline thresholds."""
    bins = ECE_BINS if bins is None else bins
    binned = scored.select(
        (
            F.least(
                F.floor(F.col("conf") * bins).cast("int"),
                F.lit(bins - 1),
            )
            + 1
        ).alias("bin"),
        "conf",
        "y",
    )
    cells = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("conf"), 6).alias("mean_conf"),
        F.round(F.avg("y"), 6).alias("frac_pos"),
    )
    tot = cells.agg(
        F.round(
            F.sum(
                F.col("n")
                * F.abs(F.col("mean_conf") - F.col("frac_pos"))
            )
            / F.sum("n"),
            6,
        ).alias("ece")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "mean_conf",
            "frac_pos",
            F.round(
                F.col("frac_pos") - F.col("mean_conf"), 6
            ).alias("gap"),
            "ece",
        )
        .orderBy("bin")
    )


@query(
    "score_calibration_ece",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN source = '{TRUSTED_SOURCE}'
                    THEN 1.0 ELSE 0.0 END AS y,
               ROUND(CAST(len(list_distinct(list_filter(
                         string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''))) AS DOUBLE)
                     / GREATEST(len(list_filter(
                         string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')), 1), 6) AS conf
        FROM documents
    ),
    binned AS (
        SELECT LEAST(CAST(FLOOR(conf * 10) AS INTEGER),
                     10 - 1) + 1 AS bin,
               conf, y
        FROM scored
    ),
    cells AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(conf), 6) AS mean_conf,
               ROUND(AVG(y), 6) AS frac_pos
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT SUM(n) AS nt,
               ROUND(SUM(n * ABS(mean_conf - frac_pos)) / SUM(n), 6)
                   AS ece
        FROM cells
    )
    SELECT c.bin, c.n, c.mean_conf, c.frac_pos,
           ROUND(c.frac_pos - c.mean_conf, 6) AS gap,
           t.ece
    FROM cells c CROSS JOIN tot t
    ORDER BY c.bin
    """,
)
def score_calibration_ece(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a score
    used as a confidence — the audit that must precede ANY
    threshold-by-confidence curation policy (Guo et al. 2017): if a
    quality score of 0.8 does not mean '~80% of such docs are from
    the trusted source', then 'keep everything above 0.8' is not
    the policy its author believes it is. Here the audited score is
    the type-token ratio (the quality_score family's confidence
    proxy, already in [0,1]) against the trusted-source label the
    classifier family trains on; the output is the standard
    10-bin reliability table (count, mean confidence,
    empirical positive rate, signed gap) plus the ECE scalar
    (bin-weighted mean |gap|) repeated per row for the panel read.
    Swapping in a learned model's sigmoid margin is a one-column
    change — the audit shape is score-agnostic.

    Scale shape: one corpus pass computes (bin, conf, y), one
    10-cell aggregate, and the ECE total rides a 1-row
    broadcast back onto the cells. No window, no pair stage."""
    docs = load_table(spark, sf_dir, "documents")
    w = _words()
    conf = F.round(
        F.size(F.array_distinct(w)).cast("double")
        / F.greatest(F.size(w), F.lit(1)),
        6,
    )
    scored = docs.select(
        F.when(F.col("source") == TRUSTED_SOURCE, 1.0)
        .otherwise(0.0)
        .alias("y"),
        conf.alias("conf"),
    )
    return calibration_cells(scored, ECE_BINS)


@query(
    "decision_stump_portable",
    oracle="""
    WITH base AS (
        SELECT 'quantity' AS feature, l_quantity AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        UNION ALL
        SELECT 'discount', ROUND(l_discount, 2),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        FROM lineitem
    ),
    cells AS (
        SELECT feature, v, COUNT(*) AS n, SUM(y) AS pos
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT feature, v,
               SUM(n) OVER w AS cn,
               SUM(pos) OVER w AS cpos
        FROM cells
        WINDOW w AS (PARTITION BY feature ORDER BY v
                     ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
        SELECT feature, SUM(n) AS nn, SUM(pos) AS pp
        FROM cells GROUP BY 1
    ),
    scored AS (
        SELECT c.feature, c.v AS threshold,
               c.cn AS n_left, t.nn - c.cn AS n_right,
               ROUND(
                   (c.cn * 1.0 / t.nn)
                   * 2 * (c.cpos * 1.0 / c.cn)
                   * (1 - c.cpos * 1.0 / c.cn)
                   + ((t.nn - c.cn) * 1.0 / t.nn)
                   * 2 * ((t.pp - c.cpos) * 1.0 / (t.nn - c.cn))
                   * (1 - (t.pp - c.cpos) * 1.0 / (t.nn - c.cn)),
                   6) AS gini_split,
               ROUND(2 * (t.pp * 1.0 / t.nn)
                     * (1 - t.pp * 1.0 / t.nn), 6) AS gini_root,
               ROUND(
                   (GREATEST(c.cpos, c.cn - c.cpos)
                    + GREATEST(t.pp - c.cpos,
                               (t.nn - c.cn) - (t.pp - c.cpos)))
                   * 1.0 / t.nn, 6) AS stump_acc
        FROM cum c JOIN tot t USING (feature)
        WHERE c.cn < t.nn
    )
    SELECT feature, threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           gini_root, gini_split,
           ROUND(gini_root - gini_split, 6) AS gini_gain,
           stump_acc
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY feature
                               ORDER BY gini_split, threshold) = 1
    ORDER BY feature
    """,
)
def decision_stump_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1R decision stump (Holte 1993) — the ML baseline every
    classifier must beat, fit distributedly: for each numeric
    feature, the single threshold v <= t minimizing the weighted
    Gini impurity of the two sides, with the stump's majority-class
    accuracy beside the logistic model's metrics
    (`classifier_eval`) — if logreg barely beats the best stump,
    the features are the problem, not the optimizer. Label:
    l_returnflag = 'R' (the engine's standing binary target).

    The scan over all candidate thresholds is NOT a per-threshold
    pass: counts collapse to VALUE-grain cells (l_quantity has 50
    distinct values, discount 11 — domain-bounded at any SF), one
    cumulative window per feature turns prefix counts into
    left/right class totals for EVERY threshold simultaneously (the
    classic sorted-split-scan of decision-tree learners, as window
    arithmetic), and a struct-min argmax picks the winner with
    smallest-threshold ties. All ratios are exact-int divisions, so
    6-dp rounding is engine-stable.

    Scale shape: one map-side-combinable aggregate to value grain,
    bounded windows, a 2-row per-feature totals broadcast, 2-row
    output. Continuous features bucket to percentile-boundary
    candidates first (the lorenz discipline), same plan."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    base = li.select(
        F.lit("quantity").alias("feature"),
        F.col("l_quantity").alias("v"),
        y.alias("y"),
    ).unionAll(
        li.select(
            F.lit("discount"),
            F.round("l_discount", 2),
            y,
        )
    )
    cells = base.groupBy("feature", "v").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "feature",
        "v",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    tot = cells.groupBy("feature").agg(
        F.sum("n").alias("nn"), F.sum("pos").alias("pp")
    )
    pl = F.col("cpos") * 1.0 / F.col("cn")
    pr = (F.col("pp") - F.col("cpos")) * 1.0 / (
        F.col("nn") - F.col("cn")
    )
    proot = F.col("pp") * 1.0 / F.col("nn")
    scored = (
        cum.join(F.broadcast(tot), "feature")
        .filter(F.col("cn") < F.col("nn"))
        .select(
            "feature",
            F.col("v").alias("threshold"),
            F.col("cn").alias("n_left"),
            (F.col("nn") - F.col("cn")).alias("n_right"),
            F.round(
                (F.col("cn") * 1.0 / F.col("nn")) * 2 * pl * (1 - pl)
                + ((F.col("nn") - F.col("cn")) * 1.0 / F.col("nn"))
                * 2
                * pr
                * (1 - pr),
                6,
            ).alias("gini_split"),
            F.round(2 * proot * (1 - proot), 6).alias("gini_root"),
            F.round(
                (
                    F.greatest(
                        F.col("cpos"), F.col("cn") - F.col("cpos")
                    )
                    + F.greatest(
                        F.col("pp") - F.col("cpos"),
                        (F.col("nn") - F.col("cn"))
                        - (F.col("pp") - F.col("cpos")),
                    )
                )
                * 1.0
                / F.col("nn"),
                6,
            ).alias("stump_acc"),
        )
    )
    best = scored.groupBy("feature").agg(
        F.min(
            F.struct(
                F.col("gini_split").alias("g"),
                F.col("threshold").alias("t"),
                F.col("n_left").alias("nl"),
                F.col("n_right").alias("nr"),
                F.col("gini_root").alias("gr"),
                F.col("stump_acc").alias("acc"),
            )
        ).alias("m")
    )
    return best.select(
        "feature",
        F.col("m.t").alias("threshold"),
        F.col("m.nl").cast("bigint").alias("n_left"),
        F.col("m.nr").cast("bigint").alias("n_right"),
        F.col("m.gr").alias("gini_root"),
        F.col("m.g").alias("gini_split"),
        F.round(F.col("m.gr") - F.col("m.g"), 6).alias("gini_gain"),
        F.col("m.acc").alias("stump_acc"),
    ).orderBy("feature")
