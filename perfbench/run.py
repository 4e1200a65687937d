#!/usr/bin/env python3
"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run from the root of a checkout: the program under test (``aggo_spark``)
is imported from the current directory. Workloads: ``interactive``,
``curation``, ``live_views`` (see README.md). The run sets up a pinned
Spark session, warms up, then runs whole rounds of seed-determined
operations until ``--seconds`` have passed, checks every output and prints
one JSON object as the last line of standard output. ``--trace 1`` adds a
span per public call and prints the per-layer metrics instead of the
end-to-end ones. Everything the run writes lives under ``.perfbench_work``
(removed at exit) and ``.perfbench_out`` (trace files) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import probe  # noqa: E402
from common import EmptyResult  # noqa: E402

# the host has 4 vCPUs and 15 GB; a 3 GB heap leaves room for the Python
# workers and DuckDB beside it. The heap starts at its full size: grown on
# demand, its resident size depended on GC timing more than on the work.
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "rows_per_s": "rows/s",
    "cpu_s_per_op": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_session_s": "s", "sources.load_tables_s": "s",
    "setup.warmup_s": "s",
    "engine.aggregate_s": "s", "engine.build_jobs": "count",
    "engine.plan_cache_hits": "count", "python.cpu_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_cpu_s": "s", "spark.task_gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "python_workers.cpu_s": "s",
    "streaming.mutate_s": "s", "streaming.read_s": "s",
    "streaming.jobs_per_mutation": "count", "streaming.spool_files": "count",
}


class Context:
    """What a workload gets: seed, session, tracer and a private work dir."""

    def __init__(self, seed: int, work: str, tracer: probe.Tracer) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.generated = None  # Future of the workload's generate()
        self.setup_spans: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": HEAP,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file outside the work dir
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }


def build_session(ctx: Context):
    import aggo_spark

    with ctx.tracer.span("session.build_session") as sp:
        spark = aggo_spark.build_session(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES, extra_conf=session_conf(ctx.work))
        spark.sparkContext.setLogLevel("ERROR")
    ctx.setup_spans["session.build_session_s"] = sp.wall
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not stop is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while len(probe.process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in probe.process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def workload_class(name: str):
    if name == "interactive":
        from interactive import Interactive
        return Interactive
    if name == "curation":
        from curation import Curation
        return Curation
    from live_views import LiveViews
    return LiveViews


def run(args, work: str) -> dict:
    proc = probe.ProcTree()
    tracer = probe.Tracer(bool(args.trace), proc=proc)
    ctx = Context(args.seed, work, tracer)
    sys.path.insert(0, ROOT)
    cls = workload_class(args.workload)
    with ThreadPoolExecutor(1) as pool:
        # input files are written while the JVM starts
        ctx.generated = pool.submit(cls.generate, args.seed, work)
        ctx.spark = build_session(ctx)
        ctx.generated.result()
    if args.trace:
        tracer.jobs = probe.SparkJobs(ctx.spark)
    wl = None
    try:
        wl = cls(ctx)
        wl.setup()
        with tracer.span("setup.warmup") as sp:
            for i, op in enumerate(wl.warmup_ops()):
                op.run(-1 - i)
        ctx.setup_spans["setup.warmup_s"] = sp.wall
        setup_s = probe.process_age_s()

        records = []  # (round, name, ok, wall, cpu, rows_in)
        h0, t0 = probe.host_cpu(), time.perf_counter()
        r = 0
        while r == 0 or time.perf_counter() - t0 < args.seconds:
            for op in wl.round_ops(r):
                op_id = len(records)
                c0 = proc.sample()
                start = time.perf_counter()
                ok, rows_in = True, 0
                try:
                    with tracer.span("op", op=op_id, op_name=op.name, round=r):
                        rows_in = op.run(op_id)
                except EmptyResult as e:
                    ok = False
                    print(f"failed op {op_id} {op.name}: {e}", file=sys.stderr)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    ok = False
                    print(f"failed op {op_id} {op.name}:", file=sys.stderr)
                    traceback.print_exc()
                wall = time.perf_counter() - start
                cpu = proc.sample() - c0
                records.append((r, op.name, ok, wall, cpu.total, rows_in))
            r += 1
        elapsed = time.perf_counter() - t0
        h1 = probe.host_cpu()
        peak = proc.peak_rss_mb()
        errors = wl.check()
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        stop_session(ctx.spark)

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    ok_walls = [w for _, _, ok, w, _, _ in records if ok]
    n = len(records)
    failed = sum(1 for rec in records if not rec[2])
    op_wall = sum(rec[3] for rec in records)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(ok_walls) if ok_walls else 0.0,
        "rows_per_s": sum(rec[5] for rec in records) / op_wall,
        "cpu_s_per_op": sum(rec[4] for rec in records) / n,
        "peak_rss_mb": peak,
    }
    tail = probe.tail_percentile(ok_walls)
    steal, busy = h1["steal"] - h0["steal"], h1["busy"] - h0["busy"]
    print(f"host: timed phase {elapsed:.2f} s wall, {op_wall:.2f} s in ops; "
          f"steal {steal:.2f} s, guest busy {busy:.2f} s "
          f"({100 * steal / (CORES * elapsed):.1f}% steal of {CORES} cpus); "
          f"attempted {n}, failed {failed}, rounds {r}")
    print("setup: " + json.dumps(ctx.setup_spans))
    print("ops: " + " ".join(f"{rec[1]}={rec[3]:.3f}s/{rec[4]:.2f}cpu"
                             + ("" if rec[2] else "(failed)") for rec in records))
    print("end-to-end: " + json.dumps(e2e)
          + (f" latency_tail_s(p{tail[0]:.1f} of {len(ok_walls)})={tail[1]:.4f}"
             if tail else f" latency_tail_s: n/a ({len(ok_walls)} ops < 40)"))
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        trace_path = os.path.join(
            out_dir, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json")
        tracer.write(trace_path)
        print(f"trace: {trace_path}")
        values = per_layer(tracer, records, ctx.setup_spans, wl)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not errors, "attempted": n, "failed": failed,
            "metrics": metrics}


def per_layer(tracer: probe.Tracer, records, setup: dict, wl) -> dict:
    """Per-operation means over the first timed round.

    The first round's operations are the same list at a given seed however
    long the run, so counts repeat exactly between traced runs.
    """
    first = {i for i, rec in enumerate(records) if rec[0] == 0}
    n = len(first)
    spans = [s for s in tracer.spans if s and s["op"] in first]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(setup)

    def each(name):
        return [s for s in spans if s["name"] == name]

    for s in each("op"):
        c = s["counters"]
        for k in probe.SPARK_COUNTERS:
            out[k] += c[k] / n
        out["python.cpu_s"] += c["python.cpu_s"] / n
        out["python_workers.cpu_s"] += c["python_workers.cpu_s"] / n
    for s in each("engine.aggregate"):
        out["engine.aggregate_s"] += (s["end"] - s["start"]) / n
        out["engine.build_jobs"] += s["counters"]["jobs"] / n
        out["engine.plan_cache_hits"] += s["counters"]["plan_cache_hit"] / n
    for s in each("operators.build"):
        out["operators.build_s"] += (s["end"] - s["start"]) / n
        out["operators.build_jobs"] += s["counters"]["jobs"] / n
    for s in each("spark.exec"):
        out["spark.exec_s"] += (s["end"] - s["start"]) / n
    mutations, reads = each("streaming.mutate"), each("streaming.read")
    if mutations:
        out["streaming.mutate_s"] = sum(s["end"] - s["start"] for s in mutations) / len(mutations)
        out["streaming.jobs_per_mutation"] = sum(s["counters"]["jobs"] for s in mutations) / len(mutations)
        out["streaming.spool_files"] = getattr(wl, "spool_files_after_first_round", 0)
    if reads:
        out["streaming.read_s"] = sum(s["end"] - s["start"] for s in reads) / len(reads)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "curation", "live_views"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark shuffle/spill files and every temp file land in the work dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
