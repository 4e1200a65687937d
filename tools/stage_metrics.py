"""Run a named workload and dump per-stage shuffle metrics (REST API).

Usage: python tools/stage_metrics.py <workload>

Workloads (synthetic graph, GRAPH_N nodes, default 1M):
  pagerank_k2 / pagerank_k3 — the q89-shape pagerank at 2 vs 3 iterations
  hits_k2 / hits_k3, bfs — same idea for HITS and seed_distance
  The pagerank/hits/bfs pairs give per-iteration stage/shuffle deltas —
  the artifact the r13 verdict asked for (localCheckpoint hides the loop
  from explain(), but executed stages don't lie).

Prints one JSON object: per-stage rows (name, shuffle read/write bytes,
records, tasks) plus totals. The Spark UI must be enabled; this tool runs
its own session with spark.ui.enabled=true and queries
http://localhost:<ui-port>/api/v1.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _session():
    os.environ.setdefault("AGGO_SPARK_CACHE_TABLES", "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stage_metrics")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stages(spark) -> list[dict]:
    ui = spark.sparkContext.uiWebUrl  # e.g. http://host:4040
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url) as fh:
        data = json.load(fh)
    rows = []
    for st in data:
        rows.append({
            "stage": st["stageId"],
            "attempt": st["attemptId"],
            "name": st["name"].split("\n")[0][:120],
            "tasks": st["numCompleteTasks"],
            "input_bytes": st["inputBytes"],
            "shuffle_read_bytes": st["shuffleReadBytes"],
            "shuffle_read_records": st["shuffleReadRecords"],
            "shuffle_write_bytes": st["shuffleWriteBytes"],
            "shuffle_write_records": st["shuffleWriteRecords"],
            "desc": (st.get("description") or "")[:80],
        })
    return sorted(rows, key=lambda r: r["stage"])


def main() -> None:
    workload = sys.argv[1]
    spark = _session()
    from aggo_spark.operators import graph

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    if workload.startswith(("pagerank", "hits", "bfs")):
        # the SCALE.md r13 fixture shape: N-node arithmetic 3-regular graph
        # plus a deliberate 10k-in-degree skew hub
        from pyspark.sql import functions as F

        n = int(os.environ.get("GRAPH_N", "1000000"))
        base = spark.range(n).withColumnRenamed("id", "src")
        edges = None
        for a, b in ((7, 3), (11, 5), (13, 9)):
            e = base.select("src", ((F.col("src") * a + b) % n).alias("dst"))
            edges = e if edges is None else edges.unionByName(e)
        hub = spark.range(min(10000, n)).select(
            F.col("id").alias("src"), F.lit(0).cast("long").alias("dst"))
        edges = edges.unionByName(hub)
        k = int(workload[-1]) if workload[-1].isdigit() else 2
        spark.sparkContext.setJobDescription(workload)
        if workload.startswith("pagerank"):
            noop(graph.pagerank(edges, n_iter=k))
        elif workload.startswith("hits"):
            noop(graph.hits(edges, n_iter=k))
        else:
            seeds = edges.select("src").limit(10)
            noop(graph.seed_distance(edges, seeds, max_hops=k))
    else:
        raise SystemExit(f"unknown workload {workload!r}")

    rows = _stages(spark)
    tot_r = sum(r["shuffle_read_bytes"] for r in rows)
    tot_w = sum(r["shuffle_write_bytes"] for r in rows)
    print(json.dumps({
        "workload": workload,
        "n_stages": len(rows),
        "total_shuffle_read_bytes": tot_r,
        "total_shuffle_write_bytes": tot_w,
        "stages": rows,
    }, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
