"""Model-based quality classification — the fastText-shape linear filter
of the FineWeb-Edu / DCLM curation recipes (Penedo et al. 2024 §3.3,
Li et al. 2024 §4.2): a linear model over hashed bag-of-word-n-gram
features scores every document, and a probability threshold keeps the
"high-quality" side. The reference engine has no model tier (its quality
surface is the rule panel mirrored here in ``text.doc_metrics``); this
module adds the learned complement the brief's training-data pipeline
needs, Spark-first:

- Features are ``sampling.hashed_ngram_features`` — the SAME hashed
  bucket space DSIR uses, one explode + one (id, bucket) aggregate,
  entirely codegen (no HashingTF/VectorUDT detour, no Python UDF).
- The MODEL is a plain ``(bucket, weight)`` DataFrame plus a float bias:
  it persists as parquet like any table, and inference is a broadcast
  join + per-doc aggregate — the ``dsir_weights`` scoring shape, which
  scales to the full corpus (the only corpus-sized exchange is the
  per-doc sum).
- Training set sizes are the BOUNDED side (fastText-grade quality
  classifiers train on 10⁴–10⁶ labeled docs, not the 100 TB corpus —
  the PQ-training pattern): ``train_nb`` is one pass of per-class
  bucket histograms (≤ 2·n_buckets driver rows), ``train_lr`` runs
  distributed gradient descent whose per-iteration exchanges carry one
  per-doc aggregate + ≤ n_buckets gradient rows.

Scoring: ``score(x) = bias + Σ_b c_b(x) · w_b``, ``prob = σ(score)`` —
identical for both trainers, so the inference plan never depends on how
the model was fit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .sampling import _hashed_gram_rows, _log_ratio_weights, hashed_ngram_features

__all__ = [
    "train_nb",
    "train_lr",
    "classifier_score",
    "quality_filter",
    "classifier_eval",
]

# the weight table is collected/broadcast — same bound as dsir_weights
_MAX_BUCKETS = 1 << 20


def _check(label_col: str, n_buckets: int, alpha: float | None = None):
    if n_buckets > _MAX_BUCKETS:
        raise ValueError(
            f"n_buckets must be <= 2^20 (the weight table is collected "
            f"and broadcast), got {n_buckets}")
    if alpha is not None and alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")


def _class_histograms(
    rows: DataFrame, lab: DataFrame,
) -> tuple[dict[int, int], dict[int, int], dict]:
    """Per-class bucket histograms and per-class doc counts from ONE
    collect. ``rows`` holds ``(id, bucket, c)`` feature rows (``c`` the
    occurrence count; 1 per gram row works too), ``lab`` one ``(id, __y)``
    row per document. The doc counts ride along as bucket −1 rows (one
    per labelled doc — the :func:`train_lr` bias trick), so no second job
    counts the labels.

    Returns ``(pos, neg, docs)``: ``pos`` sums ``c`` by bucket over
    ``__y == 1``, ``neg`` over every other label (NULL included), and
    ``docs`` maps each label value to its doc count. ``pos + neg`` is the
    whole-corpus histogram."""
    hist = (
        rows.join(lab, "id").select("bucket", "__y", "c")
        .unionByName(lab.select(F.lit(-1).cast("long").alias("bucket"),
                                "__y", F.lit(1).cast("long").alias("c")))
        .groupBy("bucket", "__y").agg(F.sum("c").alias("n"))
        .collect()
    )
    pos: dict[int, int] = {}
    neg: dict[int, int] = {}
    docs: dict = {}
    for r in hist:
        b, y, cnt = r["bucket"], r["__y"], r["n"]
        if b == -1:
            docs[y] = cnt
        else:
            side = pos if y == 1 else neg
            side[b] = side.get(b, 0) + cnt
    return pos, neg, docs


def _nb_model(
    pos: dict[int, int], neg: dict[int, int], docs: dict,
    alpha: float, n_buckets: int,
) -> tuple[list[tuple[int, float]], float]:
    """Naive Bayes log-odds weight rows (sorted by bucket) and log-prior
    bias from integer class histograms and per-class doc counts."""
    if not docs.get(1) or not docs.get(0):
        raise ValueError(
            f"training needs both classes; got doc counts {docs}")
    w_rows = _log_ratio_weights(pos, neg, alpha, n_buckets,
                                sorted(set(pos) | set(neg)))
    return w_rows, math.log(docs[1] / docs[0])


def train_nb(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    alpha: float = 1.0,
    hash_fn: str = "xxhash64",
    return_unseen: bool = False,
) -> tuple[DataFrame, float] | tuple[DataFrame, float, float]:
    """Multinomial Naive Bayes as a linear model (the classic log-odds
    reduction — McCallum & Nigam 1998): per-bucket weight

        w_b = log (pos_b + α)/(N_pos + α·B)  −  log (neg_b + α)/(N_neg + α·B)

    and ``bias = log(n_pos_docs / n_neg_docs)``. ``label_col`` must be
    0/1 (1 = the quality class). Returns ``(weights, bias)`` with
    ``weights`` a ``(bucket, weight)`` DataFrame.

    Deterministic (integer histograms → driver-side float math in fixed
    bucket order), so it is exactly reproducible by a numpy mirror —
    and with ``hash_fn="md5"`` by a SQL engine (the q71 DSIR oracle
    machinery). Also the standard warm-start init for :func:`train_lr`.

    Plan: ONE collect — a ``groupBy(bucket, label)`` aggregate over the
    gram stream, ≤ 2·n_buckets rows (the dsir_weights histogram class),
    with the per-class doc counts for the bias riding along as sentinel
    bucket rows (:func:`_class_histograms`).

    Unseen buckets (r10, ADVICE): by default inference gives buckets
    absent from training weight 0 — a DELIBERATE deviation from exact
    smoothed NB, which assigns every unseen bucket the constant
    ``log(denom_n/denom_p)`` (nonzero whenever the class gram masses
    differ, so OOV-heavy docs skew toward the bias alone and threshold
    calibration shifts on imbalanced training sets). The default keeps
    the model a sparse seen-bucket table (and the q71 SQL oracle an
    exact mirror). For exact-NB scoring pass ``return_unseen=True`` —
    the third return value is that constant — and feed it to
    :func:`classifier_score`'s ``unseen_weight``.
    """
    _check(label_col, n_buckets, alpha)
    grams = _hashed_gram_rows(df, text_col, id_col, n_buckets, n, hash_fn)
    lab = df.select(F.col(id_col).alias("id"),
                    F.col(label_col).cast("int").alias("__y"))
    pos, neg, docs = _class_histograms(
        grams.withColumn("c", F.lit(1).cast("long")), lab)
    w_rows, bias = _nb_model(pos, neg, docs, alpha, n_buckets)
    wdf = local_frame(df.sparkSession, w_rows, "bucket long, weight double")
    if return_unseen:
        # exact smoothed NB's weight for any bucket with zero counts in
        # BOTH classes: log(alpha/denom_p) - log(alpha/denom_n)
        denom_p = sum(pos.values()) + alpha * n_buckets
        denom_n = sum(neg.values()) + alpha * n_buckets
        return wdf, float(bias), float(math.log(denom_n / denom_p))
    return wdf, float(bias)


def train_lr(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    hash_fn: str = "xxhash64",
    iters: int = 30,
    lr: float = 0.5,
    l2: float = 1e-4,
    init: str = "zero",
    tol: float = 0.0,
) -> tuple[DataFrame, float]:
    """Distributed logistic regression over the hashed-n-gram features —
    full-batch gradient descent expressed as DataFrame aggregates (the
    connected-components pattern: a driver loop over bounded-size
    distributed steps, no pyspark.ml vector assembly and therefore no
    Python UDF anywhere):

    per iteration, over the persisted ``(id, bucket, c, y)`` feature
    table:
      1. margins: broadcast the current ≤ n_buckets weight table onto
         the feature rows, ``groupBy(id)`` → per-doc score (ONE
         corpus-of-training-docs exchange);
      2. residuals ``r = σ(score) − y`` join back to the feature rows
         on ``id`` (both sides hash-partitioned by id — AQE reuses the
         layout) and ``groupBy(bucket)`` → gradient (≤ n_buckets rows
         to the driver);
      3. driver update ``w ← w − lr·(grad/N + l2·w)`` (bias unpenalized).

    The TRAINING SET is the bounded side (10⁴–10⁶ labeled docs — the
    PQ-training pattern); the unbounded corpus only ever sees
    :func:`classifier_score`. ``init="nb"`` warm-starts from
    :func:`train_nb` (fewer iterations to the same ridge). Returns
    ``(weights, bias)`` in the exact shape :func:`train_nb` returns.

    Determinism: gradients are float sums over an unordered partitioning
    — bit-exact runs are not guaranteed (tests pin a numpy mirror to
    rtol, not equality). The loss is convex, so the ridge is unique.

    ``tol`` > 0 stops early once ``max_b |grad_b| / N <= tol`` (the
    gradient is already on the driver each iteration — the check is
    free); ``iters`` stays the hard cap. The default 0.0 keeps the
    iteration count exact for the mirror tests.
    """
    _check(label_col, n_buckets)
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if tol < 0:
        raise ValueError(f"tol must be >= 0, got {tol}")
    if init not in ("zero", "nb"):
        raise ValueError(f"init must be 'zero' or 'nb', got {init!r}")
    spark = df.sparkSession
    lab = df.select(F.col(id_col).alias("id"),
                    F.col(label_col).cast("double").alias("__y"))
    # the bias rides as a constant feature (bucket −2, c=1 per doc):
    # one margin aggregate + one gradient aggregate per iteration cover
    # weights AND bias — no second residual job
    feats = (
        hashed_ngram_features(df, text_col, id_col, n_buckets, n, hash_fn)
        .unionByName(lab.select(
            "id", F.lit(-2).alias("bucket"),
            F.lit(1).cast("long").alias("c")))
        .join(lab, "id")
        .persist()
    )
    n_docs = lab.count()
    if not n_docs:
        raise ValueError("empty training set")

    if init == "nb":
        wdf, bias = train_nb(df, label_col, text_col, id_col, n_buckets,
                             n, 1.0, hash_fn)
        w = {r["bucket"]: r["weight"] for r in wdf.collect()}
        w[-2] = bias
    else:
        w = {-2: 0.0}

    try:
        for _ in range(iters):
            wdf = F.broadcast(local_frame(
                spark, list(w.items()), "bucket long, weight double"))
            resid = (
                feats.join(wdf, "bucket", "left")
                .groupBy("id", "__y")
                .agg(F.sum(F.col("c") * F.coalesce("weight", F.lit(0.0)))
                     .alias("__m"))
                .select(
                    "id",
                    (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))
                     - F.col("__y")).alias("__r"))
            )
            step = (
                feats.join(resid, "id")
                .groupBy("bucket")
                .agg(F.sum(F.col("c") * F.col("__r")).alias("g"))
            )
            rows = step.collect()
            for r in rows:
                b, g = r["bucket"], r["g"]
                reg = 0.0 if b == -2 else l2 * w.get(b, 0.0)
                w[b] = w.get(b, 0.0) - lr * (g / n_docs + reg)
            if tol and max(abs(r["g"]) for r in rows) / n_docs <= tol:
                break
    finally:
        feats.unpersist()
    bias = w.pop(-2)
    w_rows = sorted(w.items())
    return (local_frame(spark, w_rows, "bucket long, weight double"),
            float(bias))


def classifier_score(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    hash_fn: str = "xxhash64",
    unseen_weight: float = 0.0,
) -> DataFrame:
    """Score every document under a trained linear model: ``(id_col,
    score, prob)`` with ``score = bias + Σ c_b·w_b`` and ``prob =
    σ(score)``. The feature params MUST match training (they key the
    bucket space — same contract as minhash probes). ``unseen_weight``
    (r10, ADVICE): weight applied to gram occurrences whose bucket is
    NOT in the model table — 0.0 (default) reproduces the sparse
    inner-join plan; pass ``train_nb(..., return_unseen=True)``'s third
    value for exact smoothed-NB semantics (a left join + coalesce, same
    broadcast shape).

    The 100 TB inference plan (the ``dsir_weights`` scoring shape): one
    token explode → (id, bucket) aggregate → BROADCAST weight join →
    per-doc sum. Docs with no features (empty/NULL text) score exactly
    ``bias`` — no evidence moves nothing. No collect, no corpus-sized
    driver state; the model table is ≤ 2^20 rows by construction.
    """
    _check("", n_buckets)
    cf = hashed_ngram_features(df, text_col, id_col, n_buckets, n, hash_fn)
    if unseen_weight:
        # exact-NB mode: unmatched buckets contribute c * unseen_weight
        # instead of silently dropping out of the sum
        scored = (
            cf.join(F.broadcast(weights.select("bucket", "weight")),
                    "bucket", "left")
            .groupBy("id")
            .agg(F.sum(F.col("c") * F.coalesce(
                "weight", F.lit(float(unseen_weight)))).alias("__s"))
        )
    else:
        scored = (
            cf.join(F.broadcast(weights.select("bucket", "weight")), "bucket")
            .groupBy("id")
            .agg(F.sum(F.col("c") * F.col("weight")).alias("__s"))
        )
    score = F.lit(float(bias)) + F.coalesce("__s", F.lit(0.0))
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.round(score, 6).alias("score"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6)
            .alias("prob"))
    )


def quality_filter(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    threshold: float = 0.5,
    keep: str = "above",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    hash_fn: str = "xxhash64",
    unseen_weight: float = 0.0,
) -> DataFrame:
    """Keep the documents whose classifier probability clears
    ``threshold`` (``keep="above"``, the FineWeb-Edu cut) or falls below
    it (``keep="below"`` — e.g. keep the NOT-machine-generated side).
    Returns the input rows + ``prob``. Same plan as
    :func:`classifier_score` + one semi-join back to the full rows."""
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    s = classifier_score(df, weights, bias, text_col, id_col, n_buckets,
                         n, hash_fn, unseen_weight).select(id_col, "prob")
    cond = (F.col("prob") >= threshold if keep == "above"
            else F.col("prob") < threshold)
    return df.join(s.filter(cond), id_col)


def classifier_eval(
    scored: DataFrame,
    labels: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
    round_probs: int | None = None,
) -> dict:
    """Held-out evaluation of :func:`classifier_score` output against a
    0/1 label table: AUC via the Mann-Whitney rank-sum identity

        AUC = (Σ_{positives} rank(prob) − n_pos(n_pos+1)/2) / (n_pos·n_neg)

    (ties get the average rank, the exact ROC-AUC convention), plus
    accuracy / precision / recall at ``threshold``. Returns a plain dict
    — bounded driver metadata (five scalars), the sketch-stats class.

    NULL-prob rows are excluded from the AUC statistic (it is defined
    over scored items only; ``auc`` is None if that leaves a single
    class) and counted as predicted-negative for accuracy/precision/
    recall — an abstaining scorer misses its positives but cannot
    distort the ranking metric.

    Plan (r10, verdict #5 — the old global rank window was the
    package's only single-partition sort): ONE ``groupBy(prob)``
    histogram aggregate (map-side combine, one value-bounded shuffle),
    then exact average-rank prefix sums over the COLLECTED histogram —
    bounded by DISTINCT prob values, which for :func:`classifier_score`
    output is ≤ 10⁶ + 1 by construction (probs round to 6 decimals),
    regardless of corpus size. AUC is EXACT (per-value ranks, not
    fixed-width approximation). For a scorer emitting unrounded probs,
    set ``round_probs`` to bound the histogram (ties introduced by the
    rounding shift AUC by at most the rounding-bucket mass — the
    standard quantized-ROC tradeoff).
    """
    j = scored.select(id_col, "prob").join(
        labels.select(id_col, F.col(label_col).cast("int").alias("__y")),
        id_col)
    p = (F.round("prob", round_probs) if round_probs is not None
         else F.col("prob"))
    hist = j.groupBy(p.alias("__p")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("np"),
    ).collect()
    rs = cum = 0.0
    np_ = nn = correct = tp = pp = 0
    np_auc = nn_auc = 0
    # NULL-prob rows (a custom scorer or outer-join score table may carry
    # them — r10 review) are EXCLUDED from the ROC statistic: AUC is
    # defined over scored items, and force-ranking unscored rows lowest
    # would silently shift it (advice r10 #4). At the threshold they
    # count as predicted-negative for accuracy/recall, exactly like a
    # scorer that abstains.
    for r in sorted(hist, key=lambda r: (r["__p"] is not None,
                                         r["__p"] if r["__p"] is not None
                                         else 0.0)):
        n, pos = r["n"], r["np"]
        np_ += pos
        nn += n - pos
        if r["__p"] is None:
            correct += n - pos  # predicted negative: true negs right
            continue
        rs += pos * (cum + (n + 1) / 2.0)  # average rank of the tie run
        cum += n
        np_auc += pos
        nn_auc += n - pos
        if r["__p"] >= threshold:
            correct += pos
            tp += pos
            pp += n
        else:
            correct += n - pos
    total = np_ + nn
    if not np_ or not nn:
        raise ValueError(
            f"evaluation needs both classes; got pos={np_} neg={nn}")
    return {
        # None when the null rows removed a whole class from the scored
        # subset — no ROC curve exists over the remaining points
        "auc": ((rs - np_auc * (np_auc + 1) / 2.0) / (np_auc * nn_auc)
                if np_auc and nn_auc else None),
        "accuracy": correct / total,
        "precision": (tp / pp) if pp else None,
        "recall": tp / np_,
        "n": total,
    }
