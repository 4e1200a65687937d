"""Deterministic sampling / data-mixing operators for curation pipelines.

A pretraining mix is built by taking *per-group quotas* — "at most N docs
per source", "at most T tokens per language" — and the selection must be
deterministic so reruns produce the same corpus. Randomness comes from a
content hash (md5), never from rand(), so a DuckDB oracle reproduces every
row and the operator is idempotent across cluster sizes.

Plan shape at 100 TB: each operator is ONE window exchange on the group
key (hash-partitioned, AQE-skew-safe). No driver-side state, no collect.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "hash_order",
    "stratified_sample",
    "token_budget_sample",
    "shard_assign",
    "shard_stats",
    "write_training_shards",
    "mixture_token_budgets",
    "mixture_sample",
    "upsample_sources",
    "quantile_threshold_filter",
    "hashed_ngram_features",
    "dsir_weights",
    "importance_resample",
]


def hash_order(*cols: Column | str) -> Column:
    """Deterministic pseudo-random ordering key: md5 over the concatenated
    column values. Stable across runs, partitionings, and Spark versions."""
    return F.md5(F.concat_ws("\x1f", *cols))


def stratified_sample(
    df: DataFrame,
    group_cols: list[str],
    n_per_group: int,
    order_col: Column | str | None = None,
) -> DataFrame:
    """Keep at most ``n_per_group`` rows per group, chosen deterministically
    by ``order_col`` (default: content-hash order over all columns is NOT
    defined — pass the id/text column to hash).

    One window exchange; the filter happens before any downstream shuffle,
    so at 100 TB the output (not the input) flows on.
    """
    if order_col is None:
        raise ValueError("pass order_col (e.g. hash_order(df['doc_id']))")
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def token_budget_sample(
    df: DataFrame,
    group_cols: list[str],
    budget: int,
    token_col: Column | str,
    order_col: Column | str | None = None,
) -> DataFrame:
    """Greedy token-budget selection: walk each group in deterministic
    order, keep rows while the running token total stays <= ``budget``.

    Adds ``cum_tokens`` (inclusive running sum) and ``kept``. The first row
    of a group is always kept-eligible only if it fits, mirroring a strict
    budget. Single window exchange on the group key.
    """
    if order_col is None:
        raise ValueError("pass order_col (e.g. hash_order(df['doc_id']))")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    return df.withColumn("cum_tokens", F.sum(tok).over(w)).withColumn(
        "kept", F.col("cum_tokens") <= F.lit(budget)
    )


def shard_assign(col: Column | str, n_shards: int = 64) -> Column:
    """Deterministic content-hash shard id in [0, n_shards): the first 32
    bits of md5 mod n_shards. md5 (not xxhash64) so the assignment is
    reproducible outside Spark (DuckDB: ('0x' || substr(md5(x), 1, 8))
    ::BIGINT % n) — a training corpus resharded elsewhere lands identically.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint") % n_shards).cast("int")


def shard_stats(
    df: DataFrame, key_col: str = "text", n_shards: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-shard balance report for :func:`shard_assign`: row count and
    optional weight sum (e.g. token counts) per shard. One map-side-partial
    aggregation; the exchange carries n_shards rows. Use before a big write
    to confirm no shard is pathologically hot.
    """
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if weight_col:
        aggs.append(F.sum(weight_col).alias("total_weight"))
    return (
        df.select(shard_assign(key_col, n_shards).alias("shard"),
                  *([weight_col] if weight_col else []))
        .groupBy("shard")
        .agg(*aggs)
    )


def write_training_shards(
    df: DataFrame, path: str, key_col: str = "text", n_shards: int = 64,
) -> None:
    """Write the corpus as content-addressed parquet shards:
    ``path/shard=NN/part-*.parquet``. `repartition(n_shards, shard)` puts
    each shard in exactly one task (one output file per shard, no
    small-file explosion), and `partitionBy` makes downstream reads prune
    by shard. Deterministic: a rerun produces byte-identical row sets per
    shard directory.
    """
    out = df.withColumn("shard", shard_assign(key_col, n_shards))
    out.repartition(n_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)


def mixture_token_budgets(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    group_col: str = "source",
    token_col: str = "n_chars",
) -> dict[str, int]:
    """Target-mixture → per-group token budgets, clamped to availability.

    Pretraining recipes state the mix as weights over sources (The Pile
    §2, DoReMi §3: "15% web, 5% code, ..."); execution needs an absolute
    token budget per source. ``weights`` are normalized; each group's ideal
    share of ``total_tokens`` is clamped to what the group actually has
    (one small aggregate — the exchange carries one row per group; the
    result is a dict of |groups| numbers, never data).
    """
    if total_tokens <= 0:
        raise ValueError(f"total_tokens must be positive, got {total_tokens}")
    for g, w in weights.items():
        if w < 0:  # a negative weight would silently drop the whole group
            raise ValueError(f"negative mixture weight for {g!r}: {w}")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    avail = {
        r["g"]: r["avail"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(token_col).alias("avail")).collect()
    }
    return {
        g: int(min(avail.get(g, 0) or 0, total_tokens * (w / wsum)))
        for g, w in weights.items()
    }


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    group_col: str = "source",
    token_col: str = "n_chars",
    order_col=None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic target-mixture selection: rows whose group's running
    token total (in content-hash order) fits that group's share of
    ``total_tokens``. Groups absent from ``weights`` are dropped.

    Composition of :func:`mixture_token_budgets` (per-group scalars) and
    the :func:`token_budget_sample` window walk, with per-group budgets
    applied via a broadcast map — still ONE window exchange over the
    corpus. Output keeps ``cum_tokens`` for audit.
    """
    budgets = mixture_token_budgets(
        df, weights, total_tokens, group_col, token_col)
    order = order_col if order_col is not None else hash_order(F.col(id_col))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget_expr = F.create_map(
        *[x for g, b in budgets.items() for x in (F.lit(g), F.lit(b))])
    return (
        df.withColumn("cum_tokens", F.sum(token_col).over(w))
        .withColumn("__budget", budget_expr[F.col(group_col)])
        .filter(F.col("__budget").isNotNull()
                & (F.col("cum_tokens") <= F.col("__budget")))
        .drop("__budget")
    )


def upsample_sources(
    df: DataFrame,
    factors: dict[str, float],
    group_col: str = "source",
) -> DataFrame:
    """Epoch-style source upsampling (Llama-recipe "N epochs of source X"):
    repeat each row ``floor(f)`` times plus one more with probability
    ``frac(f)`` decided by CONTENT HASH, so the output is deterministic and
    identical across cluster sizes. Adds ``epoch`` (0-based copy index).
    Sources absent from ``factors`` keep factor 1.0.

    Narrow plan: a posexplode of a per-row sequence — no shuffle; the
    output inflates by sum(factors) exactly where the recipe says so.
    """
    for g, f in factors.items():
        if f < 0:
            raise ValueError(f"negative upsample factor for {g!r}: {f}")
    fmap = F.create_map(
        *[x for g, f in factors.items() for x in (F.lit(g), F.lit(float(f)))])
    f_col = F.coalesce(fmap[F.col(group_col)], F.lit(1.0))
    # deterministic fractional coin: md5 prefix of the row's JSON identity
    # → uniform in [0, 1). to_json(struct(*)) — not concat_ws — so struct/
    # map columns serialize instead of erroring and NULLs stay
    # distinguishable from empty strings (review r4).
    coin = (
        F.conv(F.substring(F.md5(F.to_json(F.struct(*df.columns))), 1, 8),
               16, 10).cast("double") / F.lit(float(1 << 32)))
    n_copies = (F.floor(f_col).cast("int")
                + F.when(coin < f_col - F.floor(f_col), 1).otherwise(0))
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .select("*", F.posexplode(F.expr("array_repeat(0, __n)")).alias("epoch", "__z"))
        .drop("__n", "__z")
    )


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    keep_top: float = 0.3,
    by: str | None = None,
    relative_error: float = 0.001,
) -> DataFrame:
    """Keep the rows whose ``score_col`` is at or above the per-group
    ``(1 - keep_top)`` quantile — "top 30% by quality score per source",
    the threshold form every curation recipe that filters on a learned or
    heuristic score ends up needing (CCNet buckets by perplexity tertiles;
    FineWeb ablations sweep score-percentile cuts).

    Scale shape: the threshold comes from ``percentile_approx`` — a
    MERGEABLE sketch aggregate (map-side partial, one tiny row per group)
    joined back broadcast — NOT from a ``percent_rank`` window, which
    would sort every group's full partition (and with ``by=None`` would
    funnel the whole corpus through a single-partition window). NULL
    scores never pass the filter; NULL group keys form their own group
    (null-safe join). The sketch's ``relative_error`` shifts the cut
    point by at most that rank fraction — set it to 0 for the exact (but
    memory-heavier) percentile.
    """
    if not 0.0 < keep_top <= 1.0:
        raise ValueError(f"keep_top must be in (0, 1], got {keep_top}")
    if not 0.0 <= relative_error <= 1.0:
        # > 1 would floor the sketch accuracy to 0 — an invalid
        # percentile_approx argument that only fails later with an opaque
        # executor error (advisor r6)
        raise ValueError(
            f"relative_error must be in [0, 1] (0 = exact), got {relative_error}")
    q = 1.0 - keep_top
    acc = int(1.0 / relative_error) if relative_error > 0 else 2147483647
    # collision-safe internal names (advisor r6): a user column literally
    # named __thr/__by must survive the join+drop untouched
    thr_col = "__thr"
    while thr_col in df.columns:
        thr_col += "_"
    by_col = "__by"
    while by_col in df.columns or by_col == thr_col:
        by_col += "_"
    thr = F.percentile_approx(score_col, q, F.lit(acc)).alias(thr_col)
    if by is None:
        cut = df.agg(thr)
        joined = df.crossJoin(F.broadcast(cut))
    else:
        cut = df.groupBy(by).agg(thr)
        joined = df.join(
            F.broadcast(cut.withColumnRenamed(by, by_col)),
            F.col(by).eqNullSafe(F.col(by_col)),
        ).drop(by_col)
    return joined.filter(F.col(score_col) >= F.col(thr_col)).drop(thr_col)


def quantile_tiers(
    df: DataFrame,
    score_col: str,
    labels: tuple = ("tail", "middle", "head"),
    out_col: str = "tier",
    by: str | None = None,
) -> DataFrame:
    """EXACT value-threshold quantile tiers — the CCNet head/middle/tail
    partition (Wenzek et al. 2020 §4.3 buckets by reference-LM
    perplexity terciles; pair with :func:`aggo_spark.operators.text.
    ngram_logprob_score`). Ascending ``score_col`` order: the first
    ``labels`` entry takes the lowest scores.

    Semantics are VALUE-based, not rank-based: every row sharing a score
    shares a tier. Threshold k = the smallest score whose cumulative
    count reaches ``ceil(n * k / len(labels))`` — pure integer
    arithmetic, so an ANSI-SQL mirror reproduces the assignment exactly
    (no interpolation, no FP quantile semantics to match).

    Scale shape: the thresholds come from ONE ``groupBy(score_col)``
    histogram (map-side combine) collected to the driver — bounded by
    DISTINCT score values, which for the round(·, 6) scores every scorer
    here emits is ≤ 10⁶-ish regardless of corpus size (the
    classifier_eval histogram trick); the assignment itself is a
    broadcast-literal CASE, no window, no second shuffle. NULL scores
    (docs with no evidence) get a NULL tier.

    ``by`` tiers WITHIN each group — CCNet buckets per LANGUAGE, not
    globally (Wenzek et al. 2020 train one LM per language). The
    histogram keys on (by, score); per-group thresholds broadcast-join
    back on the group key (null-safe — NULL group keys form their own
    group), still no window.
    """
    if len(labels) < 2:
        raise ValueError(f"need >= 2 tier labels, got {labels!r}")
    k = len(labels)

    def thresholds(rows_sorted, n):
        targets = [-(-n * i // k) for i in range(1, k)]  # ceil(n*i/k)
        ths: list = []
        cum = 0
        ti = 0
        for v, c in rows_sorted:
            cum += c
            while ti < len(targets) and cum >= targets[ti]:
                ths.append(v)
                ti += 1
        return ths

    def tier_case(th):
        """Chained CASE over ascending thresholds; th(i) -> Column.
        Shared by both branches (r10 review) so tiering semantics can't
        drift between the global and per-group paths."""
        expr = F.when(F.col(score_col) <= th(0), F.lit(labels[0]))
        for i in range(1, k - 1):
            expr = expr.when(F.col(score_col) <= th(i), F.lit(labels[i]))
        return expr.when(F.col(score_col).isNotNull(), F.lit(labels[-1]))

    if by is None:
        hist = df.groupBy(score_col).agg(
            F.count(F.lit(1)).alias("__n")).collect()
        rows = sorted((r[score_col], r["__n"]) for r in hist
                      if r[score_col] is not None)
        n = sum(c for _, c in rows)
        if n == 0:
            return df.withColumn(
                out_col,
                F.when(F.col(score_col).isNotNull(), F.lit(labels[-1])))
        ths = thresholds(rows, n)
        return df.withColumn(out_col, tier_case(lambda i: F.lit(ths[i])))

    from pyspark.sql.types import DoubleType, StructField, StructType

    hist = df.groupBy(by, score_col).agg(
        F.count(F.lit(1)).alias("__n")).collect()
    groups: dict = {}
    for r in hist:
        if r[score_col] is not None:
            groups.setdefault(r[by], []).append((r[score_col], r["__n"]))
    th_cols = [f"__qt{i}" for i in range(k - 1)]
    while any(c in df.columns for c in th_cols):
        th_cols = [c + "_" for c in th_cols]
    by_key = "__qby"
    while by_key in df.columns:
        by_key += "_"
    rows = []
    for g, vals in groups.items():
        vals.sort()
        ths = thresholds(vals, sum(c for _, c in vals))
        rows.append((g, *[float(t) for t in ths]))
    by_type = df.schema[by].dataType
    tschema = StructType(
        [StructField(by_key, by_type)]
        + [StructField(c, DoubleType()) for c in th_cols])
    if not rows:
        return df.withColumn(
            out_col,
            F.when(F.col(score_col).isNotNull(), F.lit(labels[-1])))
    tdf = df.sparkSession.createDataFrame(rows, tschema)
    joined = df.join(F.broadcast(tdf),
                     F.col(by).eqNullSafe(F.col(by_key)), "left")
    return (joined
            .withColumn(out_col, tier_case(lambda i: F.col(th_cols[i])))
            .drop(by_key, *th_cols))


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _hashed_gram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One ``(id, bucket)`` row per word-n-gram OCCURRENCE (the
    pre-aggregation stream behind :func:`hashed_ngram_features` and the
    DSIR histograms). Word unigrams AND n-grams up to ``n`` hash into
    ``n_buckets`` via ``hash_fn`` — ``"xxhash64"`` (default, the scale
    path) or ``"md5"`` (first-60-bits mode, reproducible bit-for-bit in
    DuckDB — the q32 oracle-mode pattern). All codegen: tokens → slice
    windows → explode → pmod."""
    from .text import tokens as _tokens

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    from .text import _ensure_parallelism

    # pre-explode guard (the explode_shingles rule): a single-split
    # upstream starves every core but one once the n-gram explode
    # multiplies rows; no-op on well-partitioned inputs
    tok = _ensure_parallelism(
        df.select(F.col(id_col).alias("id"),
                  _tokens(F.col(text_col)).alias("__t")))

    def windows(k: int) -> Column:
        # factory scope binds k; NOTE a `lambda i, _k=k:` default would
        # NOT work — pyspark passes (element, index) to two-parameter
        # transform lambdas, silently shadowing the default
        return F.when(
            F.size("__t") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - F.lit(k - 1)),
                lambda i: F.array_join(F.slice(F.col("__t"), i, k), " ")),
        ).otherwise(F.array().cast("array<string>"))

    grams = F.flatten(F.array(*[windows(k) for k in range(1, n + 1)]))
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("__g")
    return (
        tok.select("id", F.explode(grams).alias("__g"))
        .select("id", F.pmod(h, F.lit(n_buckets)).alias("bucket"))
    )


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashed bag-of-word-n-grams: one ``(id, bucket, c)`` row per
    distinct feature bucket a document touches (``c`` = occurrences).
    See :func:`_hashed_gram_rows` for the gram/hash construction; this
    adds the per-(id, bucket) aggregate the scoring path consumes.
    Plan: one Generate + one (id, bucket) aggregate riding the explode's
    partitioning; the exchange carries ≤ n_buckets rows per doc."""
    return (
        _hashed_gram_rows(df, text_col, id_col, n_buckets, n, hash_fn)
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _log_ratio_weights(
    num: dict[int, int],
    den: dict[int, int],
    alpha: float,
    n_buckets: int,
    buckets,
) -> list[tuple[int, float]]:
    """``(b, log p̂_num[b] − log p̂_den[b])`` for each ``b`` in ``buckets``,
    in that order, with add-``alpha`` smoothed estimates over ``n_buckets``
    from integer bucket histograms. The one copy of the driver math behind
    DSIR importance weights (target over corpus) and Naive Bayes log-odds
    (positive over negative class): integer inputs in, the same doubles
    out, whichever caller built the histograms."""
    num_den = sum(num.values()) + alpha * n_buckets
    den_den = sum(den.values()) + alpha * n_buckets
    return [
        (b,
         math.log((num.get(b, 0) + alpha) / num_den)
         - math.log((den.get(b, 0) + alpha) / den_den))
        for b in buckets
    ]


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n: int = 2,
    alpha: float = 1.0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document DSIR importance log-weights (Xie et al. 2023): score
    each CORPUS document by how much more likely its hashed-n-gram
    features are under the TARGET distribution (the domain you want —
    e.g. curated text) than under the raw corpus distribution:

        log w(x) = Σ_b  c_b(x) · (log p̂_target[b] − log p̂_corpus[b])

    with add-``alpha``-smoothed bucket unigram estimates. Returns
    ``(id_col, log_w)`` for every corpus doc (empty/NULL text → 0.0 —
    no features, no evidence either way).

    Plan shape at 100 TB: each side's bucket histogram aggregates
    DIRECTLY off the exploded gram stream (one map-side-combinable
    ``groupBy(bucket)`` — the exchange carries ≤ ``n_buckets`` rows per
    task, never per doc), is collected, memoized per (session, plan,
    params) like the BM25/unigram corpus stats, and becomes a single
    ≤ ``n_buckets``-row weight table that BROADCASTS to the scoring
    join — the only corpus-sized exchange is the per-doc (id)
    aggregate. The histogram collect is the bounded driver-metadata
    class (the PQ-codebook pattern): ``n_buckets`` is capped at 2^20
    and defaults to the DSIR paper's 10k.

    Jobs: building fires one histogram collect for each side whose
    histogram is not memoized yet (at most two; corpus and target each
    featurize once for it), and execution featurizes the corpus once more
    for scoring — two narrow explodes beat persisting a tokens-sized
    intermediate. When the target is a labelled slice of the corpus and a
    classifier trains on the same labels (q71), one ``(bucket, class)``
    histogram serves both: see ``classify._class_histograms``."""
    from ..functions.scalar_memo import plan_scalar

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if n_buckets > (1 << 20):
        raise ValueError(
            f"n_buckets must be <= 2^20 (the weight table is collected "
            f"and broadcast), got {n_buckets}")
    cf = hashed_ngram_features(corpus, text_col, id_col, n_buckets, n,
                               hash_fn)  # scoring path (per-doc features)
    params_key = f"{text_col}:{id_col}:{n_buckets}:{n}:{hash_fn}"

    def hist(frame: DataFrame) -> dict[int, int]:
        # bucket totals straight off the gram stream (not the per-doc
        # feature aggregate — that exchange is corpus-sized, r8 review),
        # memoized per (session, plan, params): scoring several targets
        # against one corpus pays the corpus histogram once
        rows = _hashed_gram_rows(frame, text_col, id_col, n_buckets, n,
                                 hash_fn)
        return plan_scalar(
            frame, f"dsirhist:{params_key}",
            lambda: {r["bucket"]: r["n"] for r in
                     rows.groupBy("bucket")
                     .agg(F.count(F.lit(1)).alias("n")).collect()},
            cache_if=lambda h: bool(h))

    ch, th = hist(corpus), hist(target)
    # buckets absent from the corpus never occur in a corpus doc's
    # features, so the weight table only needs corpus buckets; target-
    # only mass still shapes every weight through the target total
    w_rows = _log_ratio_weights(th, ch, alpha, n_buckets, ch)
    w = local_frame(corpus.sparkSession, w_rows, "bucket long, __dw double")
    scored = (
        cf.join(F.broadcast(w), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("c") * F.col("__dw")).alias("log_w"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(scored.withColumnRenamed("id", id_col), id_col, "left")
        .select(id_col,
                F.coalesce("log_w", F.lit(0.0)).alias("log_w"))
    )


def importance_resample(
    corpus: DataFrame,
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Select ``k`` documents with probability ∝ exp(log_w) WITHOUT
    replacement — the Gumbel-top-k trick, deterministic: per-doc Gumbel
    noise derives from xxhash64(id, seed) (uniform in (0,1) →
    −log(−log u)), so reruns and different partitionings pick the same
    sample. One TakeOrdered over ``log_w + g`` — no global sort, no
    driver state. ``weights`` is :func:`dsir_weights`' output (or any
    ``(id_col, log_w)``)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (
        (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                F.lit(1 << 40)).cast("double") + F.lit(1.0))
        / F.lit(float((1 << 40) + 2))
    )
    gumbel = -F.log(-F.log(u))
    return (
        corpus.join(weights, id_col)
        .withColumn("__key", F.col("log_w") + gumbel)
        # id tie-break: equal __key (shared log_w + a 2^40-grain noise
        # collision — expected at ~1B docs) must not fall back to
        # partition order, or the documented same-sample-on-any-
        # partitioning guarantee breaks at the k boundary (r8 review)
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__key")
    )
