"""Generated code is compiled once per process, not once per query.

Counts Janino compiles by the ``CodegenMetrics.METRIC_COMPILATION_TIME``
histogram's count delta across a call. A curation query run again over a
different document set of similar size, and a live-view write after the
first one, must find every class in the codegen cache: a build-time scalar
or a changelog batch number inlined as a literal would make the source new
and compile it again.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from aggo_spark import StreamingCollection
from aggo_spark.session import CODEGEN_CACHE_ENTRIES

SF = "/root/testdata/sf0.001"
CURATION = ["q30_dedup_exact", "q31_dedup_jaccard", "q71_token_budget"]


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def _linked(src: str, dst, skip=()) -> str:
    os.makedirs(dst)
    for f in os.listdir(src):
        if f not in skip:
            os.link(os.path.join(src, f), os.path.join(dst, f))
    return str(dst)


def test_session_carries_codegen_settings(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_counter_sees_a_new_class(spark):
    # guards the zero-compile assertions below against a dead counter:
    # a literal this process has never compiled makes a new class
    before = _compiles(spark)
    spark.range(4).select(
        (F.col("id") * F.lit(random.randrange(1 << 40))).alias("x")).collect()
    assert _compiles(spark) > before


def test_curation_queries_compile_once(spark, tmp_path):
    """Second run, over 450 of sf0.001's 500 documents: no compiles."""
    first = _linked(SF, tmp_path / "a")
    docs = pq.read_table(os.path.join(SF, "documents.parquet"))
    keep = sorted(random.Random(7).sample(range(docs.num_rows), 450))
    second = _linked(SF, tmp_path / "b", skip={"documents.parquet"})
    pq.write_table(docs.take(keep), os.path.join(second, "documents.parquet"))

    queries = entry.queries()
    for q in CURATION:
        queries[q](spark, first).collect()
    for q in CURATION:
        before = _compiles(spark)
        queries[q](spark, second).collect()
        n = _compiles(spark) - before
        assert n == 0, f"{q} compiled {n} classes on its second dataset"


@pytest.mark.parametrize("view,expected", [
    # incremental: the stream batch id numbers each append
    ([{"$group": {"_id": "$lang", "n": {"$sum": 1},
                  "chars": {"$sum": "$n_chars"}}}], ("en", 3, 110)),
    # keyed recompute ($max): the spool file count numbers each append
    ([{"$group": {"_id": "$lang", "mx": {"$max": "$n_chars"}}}],
     ("en", 50)),
    # full recompute: each write overwrites the table under a new number
    ([{"$group": {"_id": "$lang", "s": {"$addToSet": "$source"}}},
      {"$project": {"_id": 1, "k": {"$size": "$s"}}}], ("en", 2)),
], ids=["incremental", "keyed", "full"])
def test_live_view_writes_compile_once(spark, tmp_path, view, expected):
    coll = StreamingCollection(
        spark, "doc_id long, source string, lang string, n_chars long",
        workdir=str(tmp_path / "s"), autoflush="eager")
    docs = [{"doc_id": i, "source": f"s{i % 3}", "lang": "en",
             "n_chars": 10 * i} for i in range(6)]
    try:
        coll.stream(view, rid="v", sink="parquet")
        coll.add(docs[1])
        coll.remove([docs[1]])  # both signs written once
        before = _compiles(spark)
        for d in docs[2:6]:
            coll.add(d)
        coll.remove([docs[3]])
        n = _compiles(spark) - before
        got = [tuple(r) for r in coll.result_df("v").collect()]
    finally:
        coll.stop()
    assert n == 0, f"5 live writes compiled {n} classes"
    # live: docs 2, 4, 5 -> n_chars 20 + 40 + 50, sources s2, s1, s2
    assert got == [expected]
