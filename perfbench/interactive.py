"""``interactive``: ad-hoc pipelines through ``Engine.aggregate`` + ``collect``.

Nine parameterized templates cover the pipeline shapes of registry
queries q01-q26 ($match/$group, top-k, $lookup+$unwind, $lookup with a
sub-pipeline, $setWindowFields, $bucket, $facet, $switch and string/date
expressions). Every round draws fresh parameters for each template from
the seed, then repeats three of the round's pipelines exactly, so the
Engine plan cache is exercised beside fresh translation. Each template has a DuckDB SQL twin, written here and
run over the same parquet files, that checks every result.
"""

from __future__ import annotations

import datetime as dt
import os
import random

from common import Op, cents, compare_rows, duck_rows, duckdb_over

# ---------------------------------------------------------------------------
# templates: params(rng) -> dict, pipeline(params), DuckDB twin sql(params)
# ---------------------------------------------------------------------------


def _day(rng: random.Random, lo: dt.date, span_days: int) -> dt.datetime:
    d = lo + dt.timedelta(days=rng.randrange(span_days))
    return dt.datetime(d.year, d.month, d.day)


def _lit(ts: dt.datetime) -> str:
    return f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}'"


def group_agg_params(rng):
    return {"cutoff": _day(rng, dt.date(1994, 1, 1), 1500)}


def group_agg_pipeline(p):
    return "lineitem", [
        {"$match": {"l_shipdate": {"$lte": p["cutoff"]}}},
        {"$addFields": {"price_cents": cents("$l_extendedprice")}},
        {"$group": {"_id": {"rf": "$l_returnflag", "ls": "$l_linestatus"},
                    "sum_qty": {"$sum": "$l_quantity"},
                    "sum_price_cents": {"$sum": "$price_cents"},
                    "avg_qty": {"$avg": "$l_quantity"},
                    "count_order": {"$sum": 1}}},
        {"$project": {"_id": 0, "l_returnflag": "$_id.rf",
                      "l_linestatus": "$_id.ls", "sum_qty": 1,
                      "sum_price_cents": 1, "avg_qty": 1, "count_order": 1}},
        {"$sort": {"l_returnflag": 1, "l_linestatus": 1}},
    ]


def group_agg_sql(p):
    return f"""
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_price_cents,
               avg(l_quantity) AS avg_qty, count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= {_lit(p['cutoff'])}
        GROUP BY 1, 2 ORDER BY 1, 2"""


def topk_params(rng):
    return {"rf": rng.choice("ANR"), "qty": rng.randrange(10, 45),
            "disc": rng.choice([0.02, 0.04, 0.06, 0.08]),
            "k": 100}


def topk_pipeline(p):
    return "lineitem", [
        {"$match": {"l_returnflag": p["rf"], "l_quantity": {"$gte": p["qty"]},
                    "l_discount": {"$lt": p["disc"]}}},
        {"$sort": {"l_extendedprice": -1, "l_orderkey": 1, "l_linenumber": 1}},
        {"$limit": p["k"]},
        {"$project": {"_id": 0, "l_orderkey": 1, "l_linenumber": 1,
                      "l_quantity": 1, "l_extendedprice": 1}},
    ]


def topk_sql(p):
    return f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_returnflag = '{p['rf']}' AND l_quantity >= {p['qty']}
          AND l_discount < {p['disc']}
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT {p['k']}"""


def nation_revenue_params(rng):
    return {"seg": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                               "HOUSEHOLD", "MACHINERY"]),
            "since": _day(rng, dt.date(1994, 6, 1), 365)}


def nation_revenue_pipeline(p):
    return "customer", [
        {"$match": {"c_mktsegment": p["seg"]}},
        {"$lookup": {"from": "nation", "localField": "c_nationkey",
                     "foreignField": "n_nationkey", "as": "nat"}},
        {"$unwind": "$nat"},
        {"$lookup": {"from": "orders", "localField": "c_custkey",
                     "foreignField": "o_custkey", "as": "ords"}},
        {"$unwind": "$ords"},
        {"$match": {"ords.o_orderdate": {"$gte": p["since"]}}},
        {"$addFields": {"cents": cents("$ords.o_totalprice")}},
        {"$group": {"_id": "$nat.n_name", "revenue_cents": {"$sum": "$cents"},
                    "n_orders": {"$sum": 1}}},
        {"$project": {"_id": 0, "nation": "$_id", "revenue_cents": 1,
                      "n_orders": 1}},
        {"$sort": {"nation": 1}},
    ]


def nation_revenue_sql(p):
    return f"""
        SELECT n_name AS nation,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents,
               count(*) AS n_orders
        FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN orders ON o_custkey = c_custkey
        WHERE c_mktsegment = '{p['seg']}' AND o_orderdate >= {_lit(p['since'])}
        GROUP BY 1 ORDER BY 1"""


def running_params(rng):
    return {"lo": rng.randrange(1, 14_700), "width": 250}


def running_pipeline(p):
    return "orders", [
        {"$match": {"o_custkey": {"$gte": p["lo"], "$lt": p["lo"] + p["width"]}}},
        {"$addFields": {"cents": cents("$o_totalprice")}},
        {"$setWindowFields": {
            "partitionBy": "$o_custkey",
            "sortBy": {"o_orderdate": 1, "o_orderkey": 1},
            "output": {
                "running_cents": {"$sum": "$cents", "window": {
                    "documents": ["unbounded", "current"]}},
                "rnk": {"$rank": {}},
                "total_cents": {"$sum": "$cents"}}}},
        {"$project": {"_id": 0, "o_custkey": 1, "o_orderkey": 1,
                      "running_cents": 1, "rnk": 1, "total_cents": 1}},
        {"$sort": {"o_custkey": 1, "o_orderkey": 1}},
    ]


def running_sql(p):
    c = "CAST(round(o_totalprice * 100) AS BIGINT)"
    w = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    return f"""
        SELECT o_custkey, o_orderkey,
               sum({c}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running_cents,
               rank() OVER ({w}) AS rnk,
               sum({c}) OVER (PARTITION BY o_custkey) AS total_cents
        FROM orders
        WHERE o_custkey >= {p['lo']} AND o_custkey < {p['lo'] + p['width']}
        ORDER BY o_custkey, o_orderkey"""


def bucket_params(rng):
    b1 = rng.randrange(20_000, 80_000)
    b2 = b1 + rng.randrange(20_000, 100_000)
    b3 = b2 + rng.randrange(50_000, 200_000)
    return {"prio": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                "4-NOT SPECIFIED", "5-LOW"]),
            "bounds": [0, b1, b2, b3, 1_000_000_000]}


def bucket_pipeline(p):
    return "orders", [
        {"$match": {"o_orderpriority": p["prio"]}},
        {"$addFields": {"cents": cents("$o_totalprice")}},
        {"$bucket": {"groupBy": "$o_totalprice", "boundaries": p["bounds"],
                     "output": {"n": {"$sum": 1},
                                "sum_cents": {"$sum": "$cents"}}}},
        {"$project": {"_id": 0, "bucket_lo": {"$toLong": "$_id"}, "n": 1,
                      "sum_cents": 1}},
        {"$sort": {"bucket_lo": 1}},
    ]


def bucket_sql(p):
    b = p["bounds"]
    case = " ".join(f"WHEN o_totalprice >= {b[i]} AND o_totalprice < {b[i + 1]} "
                    f"THEN {b[i]}" for i in range(len(b) - 1))
    return f"""
        SELECT CAST(CASE {case} END AS BIGINT) AS bucket_lo, count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM orders WHERE o_orderpriority = '{p['prio']}'
        GROUP BY 1 ORDER BY 1"""


def facet_params(rng):
    return {"since": _day(rng, dt.date(1992, 1, 1), 2000),
            "k": rng.randrange(2, 8), "big": rng.randrange(150_000, 400_000)}


def facet_pipeline(p):
    return "orders", [
        {"$match": {"o_orderdate": {"$gte": p["since"]}}},
        {"$facet": {
            "by_status": [{"$group": {"_id": "$o_orderstatus", "n": {"$sum": 1}}},
                          {"$sort": {"_id": 1}}],
            "top_orders": [{"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                           {"$limit": p["k"]},
                           {"$project": {"_id": 0, "o_orderkey": 1}}],
            "big_count": [{"$match": {"o_totalprice": {"$gt": p["big"]}}},
                          {"$count": "n"}],
        }},
    ]


def facet_sql(p):
    since = _lit(p["since"])
    return f"""
        SELECT
          (SELECT list({{'_id': s, 'n': n}} ORDER BY s) FROM
             (SELECT o_orderstatus AS s, count(*) AS n FROM orders
              WHERE o_orderdate >= {since} GROUP BY 1)) AS by_status,
          (SELECT list({{'o_orderkey': o_orderkey}} ORDER BY o_totalprice DESC, o_orderkey)
           FROM (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_orderdate >= {since}
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT {p['k']})) AS top_orders,
          (SELECT list({{'n': n}}) FROM
             (SELECT count(*) AS n FROM orders
              WHERE o_orderdate >= {since} AND o_totalprice > {p['big']}
              HAVING count(*) > 0)) AS big_count"""


def switch_params(rng):
    t1 = rng.randrange(5, 20)
    return {"start": _day(rng, dt.date(1993, 1, 1), 1500),
            "days": 120, "t1": t1,
            "t2": t1 + rng.randrange(5, 25)}


def switch_pipeline(p):
    end = p["start"] + dt.timedelta(days=p["days"])
    return "lineitem", [
        {"$match": {"l_shipdate": {"$gte": p["start"], "$lt": end}}},
        {"$addFields": {
            "qty_class": {"$switch": {
                "branches": [
                    {"case": {"$lt": ["$l_quantity", p["t1"]]}, "then": "low"},
                    {"case": {"$lt": ["$l_quantity", p["t2"]]}, "then": "mid"}],
                "default": "high"}},
            "disc_pct": {"$toLong": {"$round": [
                {"$multiply": ["$l_discount", 100]}, 0]}},
            "flag": {"$concat": ["$l_returnflag", "-",
                                 {"$toLower": "$l_linestatus"}]},
            "ship_month": {"$month": "$l_shipdate"}}},
        {"$group": {"_id": {"c": "$qty_class", "f": "$flag"},
                    "n": {"$sum": 1}, "sum_disc_pct": {"$sum": "$disc_pct"},
                    "max_month": {"$max": "$ship_month"}}},
        {"$project": {"_id": 0, "qty_class": "$_id.c", "flag": "$_id.f",
                      "n": 1, "sum_disc_pct": 1, "max_month": 1}},
        {"$sort": {"qty_class": 1, "flag": 1}},
    ]


def switch_sql(p):
    end = p["start"] + dt.timedelta(days=p["days"])
    return f"""
        SELECT CASE WHEN l_quantity < {p['t1']} THEN 'low'
                    WHEN l_quantity < {p['t2']} THEN 'mid' ELSE 'high' END AS qty_class,
               l_returnflag || '-' || lower(l_linestatus) AS flag,
               count(*) AS n,
               sum(CAST(round(l_discount * 100) AS BIGINT)) AS sum_disc_pct,
               max(month(l_shipdate)) AS max_month
        FROM lineitem
        WHERE l_shipdate >= {_lit(p['start'])} AND l_shipdate < {_lit(end)}
        GROUP BY 1, 2 ORDER BY 1, 2"""


def sessions_params(rng):
    return {"lo": rng.randrange(0, 1_540), "users": 120,
            "gap_ms": rng.choice([600_000, 1_800_000, 3_600_000, 7_200_000])}


def sessions_pipeline(p):
    w = {"partitionBy": "$user_id", "sortBy": {"ts": 1, "event_id": 1}}
    return "events", [
        {"$match": {"user_id": {"$gte": p["lo"], "$lt": p["lo"] + p["users"]}}},
        {"$setWindowFields": {**w, "output": {
            "prev_ts": {"$shift": {"output": "$ts", "by": -1}}}}},
        {"$addFields": {"is_new": {"$cond": [
            {"$or": [{"$eq": ["$prev_ts", None]},
                     {"$gt": [{"$subtract": ["$ts", "$prev_ts"]}, p["gap_ms"]]}]},
            1, 0]}}},
        {"$setWindowFields": {**w, "output": {
            "session_idx": {"$sum": "$is_new", "window": {
                "documents": ["unbounded", "current"]}}}}},
        {"$group": {"_id": {"u": "$user_id", "s": "$session_idx"},
                    "n_events": {"$sum": 1}, "t_start": {"$min": "$ts"},
                    "t_end": {"$max": "$ts"}}},
        {"$project": {"_id": 0, "user_id": "$_id.u", "session_idx": "$_id.s",
                      "n_events": 1, "t_start": 1, "t_end": 1}},
        {"$sort": {"user_id": 1, "session_idx": 1}},
    ]


def sessions_sql(p):
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
        WITH e AS (
          SELECT user_id, ts, event_id, lag(ts) OVER ({w}) AS prev_ts
          FROM events
          WHERE user_id >= {p['lo']} AND user_id < {p['lo'] + p['users']}),
        f AS (
          SELECT *, CASE WHEN prev_ts IS NULL
                           OR epoch_ms(ts) - epoch_ms(prev_ts) > {p['gap_ms']}
                         THEN 1 ELSE 0 END AS is_new FROM e),
        s AS (
          SELECT *, sum(is_new) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS session_idx FROM f)
        SELECT user_id, session_idx, count(*) AS n_events, min(ts) AS t_start,
               max(ts) AS t_end
        FROM s GROUP BY 1, 2 ORDER BY 1, 2"""


def big_lines_params(rng):
    return {"lo": rng.randrange(1, 145_000), "width": 5_000,
            "qty": rng.randrange(30, 50)}


def big_lines_pipeline(p):
    return "orders", [
        {"$match": {"o_orderkey": {"$gte": p["lo"], "$lt": p["lo"] + p["width"]}}},
        {"$lookup": {
            "from": "lineitem", "let": {"oid": "$o_orderkey"},
            "pipeline": [{"$match": {"$expr": {"$and": [
                {"$eq": ["$l_orderkey", "$$oid"]},
                {"$gte": ["$l_quantity", p["qty"]]}]}}}],
            "as": "big_items"}},
        {"$addFields": {"n_big": {"$toLong": {"$size": "$big_items"}}}},
        {"$match": {"n_big": {"$gt": 0}}},
        {"$project": {"_id": 0, "o_orderkey": 1, "n_big": 1}},
        {"$sort": {"o_orderkey": 1}},
    ]


def big_lines_sql(p):
    return f"""
        SELECT o_orderkey, count(*) AS n_big
        FROM orders JOIN lineitem
          ON l_orderkey = o_orderkey AND l_quantity >= {p['qty']}
        WHERE o_orderkey >= {p['lo']} AND o_orderkey < {p['lo'] + p['width']}
        GROUP BY 1 ORDER BY 1"""


TEMPLATES = {
    # name: (tables read, params, pipeline, sql)
    "group_agg": (("lineitem",), group_agg_params, group_agg_pipeline, group_agg_sql),
    "topk": (("lineitem",), topk_params, topk_pipeline, topk_sql),
    "nation_revenue": (("customer", "nation", "orders"), nation_revenue_params,
                       nation_revenue_pipeline, nation_revenue_sql),
    "running": (("orders",), running_params, running_pipeline, running_sql),
    "bucket": (("orders",), bucket_params, bucket_pipeline, bucket_sql),
    "facet": (("orders",), facet_params, facet_pipeline, facet_sql),
    "switch": (("lineitem",), switch_params, switch_pipeline, switch_sql),
    "sessions": (("events",), sessions_params, sessions_pipeline, sessions_sql),
    "big_lines": (("orders", "lineitem"), big_lines_params, big_lines_pipeline,
                  big_lines_sql),
}
# a quarter of the 12 operations of a round repeat an earlier pipeline;
# always the same templates, so every round reads the same number of rows
REPEATED = ("group_agg", "nation_revenue", "sessions")


def plan_round(seed: int, r: int) -> list[tuple[str, dict, bool]]:
    """The operations of round ``r``: (template, params, is_repeat).

    Every template once with fresh parameters, in a seeded order, then the
    exact pipelines of the ``REPEATED`` templates again, each at a seeded
    place after its first run.
    """
    rng = random.Random(f"interactive/{seed}/{r}")
    ops = [(name, TEMPLATES[name][1](rng), False) for name in TEMPLATES]
    rng.shuffle(ops)
    for name in REPEATED:
        first = next(i for i, o in enumerate(ops) if o[0] == name)
        ops.insert(rng.randrange(first + 1, len(ops) + 1), (name, ops[first][1], True))
    return ops


class Interactive:
    name = "interactive"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.results: list[tuple[str, dict, list]] = []
        self._seen: dict[str, object] = {}  # pipeline key -> DataFrame

    def setup(self) -> None:
        import aggo_spark

        ctx = self.ctx
        path = ctx.path("tables")
        self.rows = ctx.generated.result()
        used = sorted({t for tables, *_ in TEMPLATES.values() for t in tables})
        with ctx.tracer.span("sources.load_tables") as sp:
            tables = aggo_spark.load_tables(ctx.spark, path, names=used)
        ctx.setup_spans["sources.load_tables_s"] = sp.wall
        self.engine = aggo_spark.Engine(tables)
        self.duck = duckdb_over(path, used)

    @staticmethod
    def generate(seed: int, work: str) -> dict[str, int]:
        """Input files, written while the Spark session starts."""
        import gen

        return gen.write_tables(os.path.join(work, "tables"), seed)

    def warmup_ops(self) -> list[Op]:
        # every template translated, planned, code-generated and run once,
        # with parameters from a seed stream of its own, before timing
        fresh = [op for op in plan_round(self.ctx.seed, -1) if not op[2]]
        return self._ops(fresh, keep=False)

    def round_ops(self, r: int) -> list[Op]:
        return self._ops(plan_round(self.ctx.seed, r), keep=True)

    def _ops(self, plan, keep: bool) -> list[Op]:
        return [self._op(name, params, keep) for name, params, _ in plan]

    def _op(self, name: str, params: dict, keep: bool) -> Op:
        tables, _, pipeline_fn, _ = TEMPLATES[name]
        rows_in = sum(self.rows[t] for t in tables)
        ctx = self.ctx

        def run(op_id: int) -> int:
            source, pipeline = pipeline_fn(params)
            with ctx.tracer.span("engine.aggregate", op=op_id) as sp:
                df = self.engine.aggregate(source, pipeline)
            # a plan-cache hit hands back the very DataFrame built before
            key = f"{name}/{params!r}"
            hit = self._seen.get(key) is df
            self._seen[key] = df
            sp.counters["plan_cache_hit"] = int(hit)
            with ctx.tracer.span("spark.exec", op=op_id):
                rows = df.collect()
            if keep:
                self.results.append((name, params, rows))
            return rows_in

        return Op(name, run)

    def check(self) -> list[str]:
        errors = []
        done: dict[str, list] = {}
        for name, params, rows in self.results:
            key = f"{name}/{params!r}"
            if key not in done:
                done[key] = duck_rows(self.duck, TEMPLATES[name][3](params))
            err = compare_rows(done[key], rows, ordered=True)
            if err:
                errors.append(f"{name} {params}: {err}")
        return errors
