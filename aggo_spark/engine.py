"""Public engine API: MongoDB-pipeline-over-Spark.

Replaces the reference's four in-process engines + heuristic router
(``/root/reference/src/aggo/hot-path-aggregation.ts:573-660``) with exactly
one path: pipeline JSON → DataFrame logical plan → Catalyst → Tungsten.
"""

from __future__ import annotations

from collections import ChainMap
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from .errors import UnknownCollection
from .operators.stages import apply_pipeline


class Engine:
    """Compiles and runs MongoDB-style aggregation pipelines on Spark.

    ``collections`` registers named DataFrames for ``$lookup`` /
    ``$unionWith`` (the reference passes JS arrays by reference;
    we pass DataFrames by name). The mapping is read through, not copied,
    so a lazy one (``load_tables``) opens only the collections a pipeline
    names; ``register`` layers over it and never writes into it. Rebind
    a name with ``register``, which also drops cached plans.
    """

    def __init__(
        self,
        collections: Mapping[str, DataFrame] | None = None,
        sample_seed: int = 42,
    ) -> None:
        self.collections: ChainMap[str, DataFrame] = ChainMap({}, collections or {})
        self.sample_seed = sample_seed
        # Translated-plan cache keyed by (collection name, pipeline JSON) —
        # the reference keeps the same cache keyed by pipeline JSON
        # (/root/reference/src/aggo/zero-alloc-engine.ts:64-78,
        # crossfilter-engine.ts:40-60). DataFrames are immutable, so handing
        # the same logical plan back is safe; repeated aggregate() calls skip
        # re-translation and Catalyst re-analysis.
        self._plan_cache: dict[tuple[str, str], DataFrame] = {}

    def register(self, name: str, df: DataFrame) -> "Engine":
        self.collections[name] = df
        # a cached plan may join into any registered collection ($lookup /
        # $unionWith), so any rebind invalidates the whole cache
        self._plan_cache.clear()
        return self

    def collection(self, name) -> DataFrame:
        if isinstance(name, DataFrame):
            return name
        if name not in self.collections:
            raise UnknownCollection(f"collection {name!r} not registered with the engine")
        return self.collections[name]

    def aggregate(self, source, pipeline: list) -> DataFrame:
        """Translate + apply ``pipeline`` to ``source``.

        ``source`` is a DataFrame or a registered collection name. Returns a
        DataFrame (lazy logical plan) — call ``.collect()`` / ``.write`` /
        ``.toJSON()`` to execute, mirroring the reference's
        ``Aggo.aggregate(collection, pipeline)`` (``src/index.ts:296+``).
        """
        key = None
        if isinstance(source, str):
            import json

            try:
                key = (source, json.dumps(pipeline, default=repr, sort_keys=True))
            except (TypeError, ValueError):
                key = None
            if key is not None and key in self._plan_cache:
                return self._plan_cache[key]
        df = self.collection(source)
        out = apply_pipeline(df, pipeline, self)
        if key is not None:
            if len(self._plan_cache) >= 256:
                self._plan_cache.pop(next(iter(self._plan_cache)))
            self._plan_cache[key] = out
        return out

    def explain(self, source, pipeline: list, mode: str = "formatted") -> str:
        """Catalyst plan for a pipeline (the reference's ``explain()``,
        ``src/aggo/api-enhancements.ts:135-241``, backed by a real optimizer)."""
        df = self.aggregate(source, pipeline)
        try:
            jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
            jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
            return df._jdf.queryExecution().explainString(jmode)  # type: ignore[attr-defined]
        except Exception:
            # capture df.explain() output — public API, version-proof
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode=mode)
            return buf.getvalue()

    def output_schema(self, source, pipeline: list) -> dict:
        """Simplified output schema of a pipeline WITHOUT executing it —
        the translated plan is lazy, so this is a pure Catalyst analysis
        pass (the ai-plugin's sampling inference, done statically)."""
        from .sources.schema import simplified_schema

        return simplified_schema(self.aggregate(source, pipeline).schema)

    def explain_pipeline(self, source, pipeline: list) -> dict:
        """Stage→physical-strategy mapping plus the optimized plan — the
        structured form of the reference's ``PipelineExplanation`` (static
        per-stage analysis with reason codes,
        ``src/aggo/api-enhancements.ts:135-241``); here each stage's mapping
        is what the translator actually emits and the plan is Catalyst's."""
        stages = [
            {"stage": (name := next(iter(st))),
             "spark": _STAGE_PLAN.get(name, "DataFrame transformation")}
            for st in pipeline
        ]
        return {"stages": stages,
                "optimized_plan": self.explain(source, pipeline)}


# stage → emitted physical strategy (used by Engine.explain_pipeline)
_STAGE_PLAN = {
    "$match": "Filter — predicate pushdown to the scan (PushedFilters)",
    "$project": "Project — column pruning reaches the scan (ReadSchema)",
    "$addFields": "Project (withColumns); fused by whole-stage codegen",
    "$set": "Project (withColumns); fused by whole-stage codegen",
    "$unset": "Project (drop)",
    "$group": "HashAggregate(partial) → Exchange(keys) → HashAggregate(final); spills",
    "$sort": "Exchange(range) → Sort; with $limit → TakeOrderedAndProject (no global sort)",
    "$limit": "GlobalLimit (TakeOrderedAndProject when preceded by $sort)",
    "$skip": "Offset",
    "$unwind": "Generate explode — narrow, partition-local",
    "$lookup": "collect_list pre-agg + join; broadcast for small foreign side (AQE)",
    "$graphLookup": "iterative joins with frontier dedup (bounded by maxDepth)",
    "$count": "partial count → Exchange(single) → final count",
    "$facet": "one aggregation branch per facet over a shared scan",
    "$bucket": "Project(bucket expr) + HashAggregate",
    "$sortByCount": "HashAggregate → TakeOrdered/Sort",
    "$replaceRoot": "Project(struct.*)",
    "$replaceWith": "Project(struct.*)",
    "$redact": "Filter + recursive Column rebuild — zero shuffle",
    "$sample": "Sample (Bernoulli) — no shuffle",
    "$unionWith": "Union (unionByName)",
    "$setWindowFields": "Window over Exchange(partitionBy)",
    "$densify": "per-partition sequence generate + union",
    "$fill": "Window(last ignorenulls) / coalesce",
    "$out": "write to sink (no result mutation)",
    "$merge": "MERGE-style key upsert into registered collection",
}


# standalone per-stage functions (reference exports these individually,
# src/index.ts:379-418: $match, $project, $group, ...)

def match(df: DataFrame, query: dict) -> DataFrame:
    return Engine().aggregate(df, [{"$match": query}])


def project(df: DataFrame, spec: dict) -> DataFrame:
    return Engine().aggregate(df, [{"$project": spec}])


def group(df: DataFrame, spec: dict) -> DataFrame:
    return Engine().aggregate(df, [{"$group": spec}])


def sort(df: DataFrame, spec: dict) -> DataFrame:
    return Engine().aggregate(df, [{"$sort": spec}])


def unwind(df: DataFrame, spec) -> DataFrame:
    return Engine().aggregate(df, [{"$unwind": spec}])


def limit(df: DataFrame, n: int) -> DataFrame:
    return Engine().aggregate(df, [{"$limit": n}])


def skip(df: DataFrame, n: int) -> DataFrame:
    return Engine().aggregate(df, [{"$skip": n}])


def add_fields(df: DataFrame, spec: dict) -> DataFrame:
    return Engine().aggregate(df, [{"$addFields": spec}])


set_fields = add_fields  # $set is an alias of $addFields (src/index.ts:268-272)


def lookup(df: DataFrame, spec: dict, collections: Mapping[str, DataFrame]) -> DataFrame:
    """Standalone $lookup; the foreign collection must be passed by name."""
    return Engine(collections).aggregate(df, [{"$lookup": spec}])


def count(source) -> int:
    """Standalone count() (reference src/aggo/count.ts:9-13)."""
    if isinstance(source, DataFrame):
        return source.count()
    return len(source)


def benchmark(
    source,
    pipeline: list,
    *,
    iterations: int = 5,
    warmup_runs: int = 1,
    spark: SparkSession | None = None,
) -> dict:
    """Time a pipeline end-to-end (reference ``benchmark()``,
    ``src/aggo/api-enhancements.ts`` Phase-6 API). Executes via the noop
    sink — full distributed execution, no driver collect."""
    import statistics
    import time

    df = aggregate(source, pipeline, spark=spark)
    def run() -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return (time.time() - t0) * 1000.0

    for _ in range(warmup_runs):
        run()
    times = [run() for _ in range(max(1, iterations))]
    return {
        "iterations": len(times),
        "avg_ms": sum(times) / len(times),
        "median_ms": statistics.median(times),
        "min_ms": min(times),
        "max_ms": max(times),
    }


def expression(doc: dict, expr: object, *, spark: SparkSession | None = None):
    """Evaluate one aggregation expression against one document (the
    reference's public ``$expression(obj, expr)``, src/index.ts:323).
    Driver-side convenience — real workloads put expressions in pipelines."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("pass spark= (no active session)")
    df = spark.createDataFrame([doc])
    from .functions.expressions import translate_expr
    from .plans.context import ExprContext

    col = translate_expr(expr, ExprContext(schema=df.schema))
    return df.select(col.alias("v")).first()["v"]


def aggregate(
    source,
    pipeline: list,
    *,
    collections: Mapping[str, DataFrame] | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """One-shot convenience: ``aggregate(df_or_rows, pipeline)``.

    Accepts a DataFrame or a plain list of dicts (the reference's in-memory
    array source, ``src/aggo/aggregation.ts:759-786``) — the latter is
    converted with schema inference and is intended for tests/small data
    only; real inputs should arrive via ``spark.read``. A
    ``StreamingCollection`` routes transparently (reference
    ``transparentAggregate``, ``src/aggo/index.ts:50-64``) and returns the
    *current* live result as a list of dicts.
    """
    from .streaming.core import StreamingCollection

    if isinstance(source, StreamingCollection):
        return source.stream(pipeline)
    if not isinstance(source, DataFrame):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("pass spark= when source is not a DataFrame")
        source = spark.createDataFrame(source)
    colls = {}
    for name, c in (collections or {}).items():
        if not isinstance(c, DataFrame):
            c = (spark or SparkSession.getActiveSession()).createDataFrame(c)
        colls[name] = c
    return Engine(colls).aggregate(source, pipeline)


# transparent-streaming conveniences (reference src/index.ts:330-343)
aggregate_streaming = aggregate


def create_streaming_collection(spark: SparkSession, schema, initial_data=None):
    """``createStreamingCollection`` (reference ``src/index.ts:327-332``)."""
    from .streaming.core import StreamingCollection

    sc = StreamingCollection(spark, schema)
    if initial_data:
        sc.add_bulk(list(initial_data))
    return sc
