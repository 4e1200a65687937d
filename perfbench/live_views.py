"""``live_views``: a StreamingCollection kept up to date under writes.

One collection (eager flush: every write advances every view before it
returns) carries three registered views, one per maintenance path:

- ``by_source``: ``$match`` + ``$group`` of invertible accumulators, kept
  incrementally by the signed rewrite (a stateful streaming aggregation);
- ``max_by_lang``: ``$group`` with ``$max``, not invertible, so each write
  recomputes the groups whose key it touched (keyed recompute);
- ``lang_sink``: an incremental ``$group`` with ``sink="parquet"``: a
  changelog appended per write and compacted every ``COMPACT_EVERY`` appends.

A round is a fixed mix of ``add``, ``add_bulk`` and ``remove`` writes with
reads of each view in between; the documents come from the seed. Every
read is checked against a recomputation from the benchmark's own record of
the live documents at that point, and all three views again at the end.
"""

from __future__ import annotations

import os
import random

from common import Op, compare_rows

SCHEMA = "doc_id long, source string, lang string, n_chars long, score double"
SOURCES = [f"src{i}" for i in range(12)]
LANGS = ["en", "fr", "es", "de", "zh"]
INITIAL_DOCS = 300
BULK = 16
COMPACT_EVERY = 4

VIEWS = {
    "by_source": [
        {"$match": {"score": {"$gte": 0.0}}},
        {"$group": {"_id": "$source", "n": {"$sum": 1},
                    "total_chars": {"$sum": "$n_chars"},
                    "avg_score": {"$avg": "$score"}}},
    ],
    "max_by_lang": [
        {"$group": {"_id": "$lang", "max_chars": {"$max": "$n_chars"},
                    "n": {"$sum": 1}}},
    ],
    "lang_sink": [
        {"$group": {"_id": "$lang", "n": {"$sum": 1},
                    "chars": {"$sum": "$n_chars"}}},
    ],
}
# one round: (kind, view read) in a fixed order
ROUND = [("add", None), ("add_bulk", None), ("remove", None),
         ("read", "by_source"), ("add", None), ("remove", None),
         ("read", "lang_sink"), ("read", "max_by_lang")]
WARMUP = [("add", None), ("add_bulk", None), ("remove", None),
          ("read", "by_source"), ("read", "lang_sink"), ("read", "max_by_lang")]


def expected_view(view: str, docs: list[dict]) -> list[dict]:
    """The view's rows recomputed in plain Python from the live documents."""
    groups: dict[str, list[dict]] = {}
    if view == "by_source":
        for d in docs:
            if d["score"] >= 0.0:
                groups.setdefault(d["source"], []).append(d)
        return [{"_id": k, "n": len(g), "total_chars": sum(d["n_chars"] for d in g),
                 "avg_score": sum(d["score"] for d in g) / len(g)}
                for k, g in groups.items()]
    for d in docs:
        groups.setdefault(d["lang"], []).append(d)
    if view == "max_by_lang":
        return [{"_id": k, "max_chars": max(d["n_chars"] for d in g), "n": len(g)}
                for k, g in groups.items()]
    return [{"_id": k, "n": len(g), "chars": sum(d["n_chars"] for d in g)}
            for k, g in groups.items()]


class LiveViews:
    name = "live_views"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.live: list[dict] = []
        self.log: list[tuple[int, list[dict]]] = []  # (sign, docs) per write
        self.reads: list[tuple[str, int, list]] = []  # (view, len(log), rows)
        self._next_id = 0
        self.spool_files_after_first_round = 0

    def _doc(self, rng: random.Random) -> dict:
        self._next_id += 1
        return {"doc_id": self._next_id, "source": rng.choice(SOURCES),
                "lang": rng.choice(LANGS), "n_chars": rng.randrange(20, 2000),
                "score": round(rng.uniform(-0.5, 1.0), 4)}

    @staticmethod
    def generate(seed: int, work: str) -> None:
        """Documents are drawn per round; nothing to write up front."""

    def setup(self) -> None:
        from aggo_spark import StreamingCollection

        ctx = self.ctx
        self.coll = StreamingCollection(ctx.spark, SCHEMA,
                                        workdir=ctx.path("stream"),
                                        autoflush="eager")
        for rid, pipeline in VIEWS.items():
            sink = "parquet" if rid == "lang_sink" else "list"
            kw = {"compact_every": COMPACT_EVERY} if sink == "parquet" else {}
            self.coll.stream(pipeline, rid=rid, sink=sink, **kw)
        rng = random.Random(f"live_views/{ctx.seed}/initial")
        self._write(1, [self._doc(rng) for _ in range(INITIAL_DOCS)])

    def _write(self, sign: int, docs: list[dict]) -> None:
        if sign > 0:
            self.coll.add(docs[0]) if len(docs) == 1 else self.coll.add_bulk(docs)
            self.live.extend(docs)
        else:
            self.coll.remove(docs)
            for d in docs:
                self.live.remove(d)
        self.log.append((sign, docs))

    def warmup_ops(self) -> list[Op]:
        return self._ops(-1, keep=False, plan=WARMUP)

    def round_ops(self, r: int) -> list[Op]:
        return self._ops(r, keep=True)

    def _ops(self, r: int, keep: bool, plan=ROUND) -> list[Op]:
        """The round's operations; documents are drawn here, before timing."""
        rng = random.Random(f"live_views/{self.ctx.seed}/{r}")
        tracer = self.ctx.tracer
        ops = []
        for kind, view in plan:
            if kind == "read":
                def run(op_id, view=view):
                    with tracer.span("streaming.read", op=op_id):
                        rows = self._read(view)
                    if keep:
                        self.reads.append((view, len(self.log), rows))
                    return 0
                ops.append(Op(f"read:{view}", run))
                continue
            if kind == "remove":
                def run(op_id, pick=rng.random()):
                    docs = [self.live[int(pick * len(self.live))]]
                    with tracer.span("streaming.mutate", op=op_id):
                        self._write(-1, docs)
                    return 1
            else:
                def run(op_id, docs=[self._doc(rng) for _ in range(
                        BULK if kind == "add_bulk" else 1)]):
                    with tracer.span("streaming.mutate", op=op_id):
                        self._write(1, docs)
                    return len(docs)
            ops.append(Op(kind, run))
        if r == 0:
            last = ops[-1].run

            def run_and_count(op_id):
                n = last(op_id)
                self.spool_files_after_first_round = len(os.listdir(self.coll.data_dir))
                return n
            ops[-1] = Op(ops[-1].name, run_and_count)
        return ops

    def check(self) -> list[str]:
        errors = []
        live: list[dict] = []
        done = 0
        final = [(v, len(self.log), self._read(v)) for v in VIEWS]
        for view, n_writes, rows in self.reads + final:
            for sign, docs in self.log[done:n_writes]:
                if sign > 0:
                    live.extend(docs)
                else:
                    for d in docs:
                        live.remove(d)
            done = n_writes
            err = compare_rows(expected_view(view, live), rows, ordered=False)
            if err:
                errors.append(f"{view} after {n_writes} writes: {err}")
        return errors

    def _read(self, view: str):
        if view == "lang_sink":
            return self.coll.result_df(view).collect()
        return self.coll.result(view)

    def close(self) -> None:
        self.coll.stop()
