"""Which registry queries compile new code for every dataset?

Usage: python tools/codegen_audit.py [sf_dir] [--cache-entries N] [--out FILE]

Writes two datasets of the same size that differ in content: every table
of ``sf_dir`` (default sf0.001) with more than ``MIN_ROWS`` rows is cut to
a seeded 90% sample of its rows, a different sample for each dataset;
smaller tables are hard-linked whole. Then runs every
``__spark_entry__.queries()`` entry over the first dataset (pass 1) and
again over the second (pass 2), executing each through the ``noop`` sink,
and counts Janino compiles per query from the
``CodegenMetrics.METRIC_COMPILATION_TIME`` count delta.

With a codegen cache larger than one pass (the default here), pass 1's
total is the number of distinct classes one registry pass compiles, and a
query that compiles in pass 2 carries something of its data into its
generated code — most often a driver-computed scalar inlined as a literal.
JVM Metaspace (``MemoryPoolMXBean``) is recorded before and after each
pass. The session is ``aggo_spark.build_session`` on ``local[4]``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

MIN_ROWS = 100


def write_variant(src: str, dst: str, seed: int) -> None:
    os.makedirs(dst)
    for f in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, f))
        if t.num_rows <= MIN_ROWS:
            os.link(os.path.join(src, f), os.path.join(dst, f))
            continue
        rng = random.Random(f"{seed}/{f}")
        keep = sorted(rng.sample(range(t.num_rows), t.num_rows * 9 // 10))
        pq.write_table(t.take(keep), os.path.join(dst, f))


def metaspace_mb(jvm) -> float:
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return round(sum(p.getUsage().getUsed() for p in pools
                     if p.getName() == "Metaspace") / 2**20, 1)


def run_pass(spark, queries, sf_dir: str) -> dict[str, dict]:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out = {}
    for name, fn in queries.items():
        before = cm.METRIC_COMPILATION_TIME().getCount()
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            err = None
        except Exception as e:  # noqa: BLE001 - reported, not fatal
            err = f"{type(e).__name__}: {str(e)[:200]}"
        out[name] = {"compiles": int(cm.METRIC_COMPILATION_TIME().getCount()
                                     - before),
                     "s": round(time.time() - t0, 2), "error": err}
        print(name, out[name], flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--cache-entries", type=int, default=100_000)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import aggo_spark
    import __spark_entry__ as entry

    work = tempfile.mkdtemp(prefix="codegen_audit_")
    tempfile.tempdir = work  # query-side temp files (q78's LM) go too
    try:
        dirs = [os.path.join(work, f"d{i}") for i in (1, 2)]
        for seed, d in enumerate(dirs, 1):
            write_variant(args.sf_dir, d, seed)
        spark = aggo_spark.build_session(
            app_name="codegen_audit", master="local[4]", shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false",
                        "spark.ui.showConsoleProgress": "false",
                        "spark.driver.memory": "4g",
                        "spark.sql.codegen.cache.maxEntries":
                            str(args.cache_entries)})
        spark.sparkContext.setLogLevel("ERROR")
        queries = entry.queries()
        meta = [metaspace_mb(spark._jvm)]
        passes = []
        for d in dirs:
            passes.append(run_pass(spark, queries, d))
            spark._jvm.java.lang.System.gc()
            meta.append(metaspace_mb(spark._jvm))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    first, second = passes
    report = {
        "sf_dir": args.sf_dir,
        "cache_entries": args.cache_entries,
        "pass1_compiles": sum(q["compiles"] for q in first.values()),
        "pass2_compiles": sum(q["compiles"] for q in second.values()),
        "metaspace_mb": dict(zip(["start", "after_pass1", "after_pass2"],
                                 meta)),
        "recompiling": {n: q["compiles"] for n, q in second.items()
                        if q["compiles"]},
        "errors": {n: q["error"] for p in passes for n, q in p.items()
                   if q["error"]},
        "queries": {n: [first[n]["compiles"], second[n]["compiles"]]
                    for n in queries},
    }
    text = json.dumps(report, indent=1)
    print(text)
    if args.out:
        Path(args.out).write_text(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
