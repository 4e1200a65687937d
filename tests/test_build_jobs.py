"""Spark jobs fired while a query is BUILT, before anything executes it.

Jobs are counted by the ``DAGScheduler.nextJobId()`` delta across the
build call (the same way ``perfbench/probe.py`` brackets a call), over a
directory new to the process — a hard-linked copy of sf0.001 — so neither
the entry module's engine/DataFrame memos nor ``plan_scalar`` can hit.

Also pins the lazy-table mapping ``load_tables`` returns: names, order,
length, membership and iteration come from the name list alone, a table
is opened on first access, and ``Engine`` reads through the caller's
mapping without writing into it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

import __spark_entry__ as entry
from aggo_spark import Engine, load_tables

SF = "/root/testdata/sf0.001"
ALL_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _jobs(spark, fn):
    first = _next_job(spark)
    out = fn()
    return _next_job(spark) - first, out


@pytest.fixture
def fresh_sf(tmp_path):
    """sf0.001 under a path no earlier build has seen (hard links: no
    copy of the bytes, but a new relation for Spark and the memos)."""
    for f in os.listdir(SF):
        os.link(os.path.join(SF, f), tmp_path / f)
    return str(tmp_path)


@pytest.mark.parametrize("name,most", [
    # the documents table's schema read, nothing else
    ("q30_dedup_exact", 1),
    ("q31_dedup_jaccard", 1),
    # schema read + ONE (bucket, class) histogram collect feeding both
    # DSIR and NB (its AQE map stages and broadcasts count as jobs)
    ("q71_token_budget", 7),
])
def test_build_fires_few_jobs_on_fresh_data(spark, fresh_sf, name, most):
    fn = entry.queries()[name]
    n, df = _jobs(spark, lambda: fn(spark, fresh_sf))
    assert n <= most, f"{name} build fired {n} jobs (budget {most})"
    assert df.columns  # built, not executed


def test_q71_rebuild_over_same_plan_fires_no_histogram_job(spark, fresh_sf):
    fn = entry.queries()["q71_token_budget"]
    fn(spark, fresh_sf)
    entry._DF_MEMO.pop((id(spark), fresh_sf, "q71_token_budget"))
    n, _ = _jobs(spark, lambda: fn(spark, fresh_sf))
    assert n == 0, f"q71 rebuild fired {n} jobs; the histogram memo missed"


def test_engine_over_load_tables_fires_no_job_until_first_access(spark, fresh_sf):
    n, eng = _jobs(spark, lambda: Engine(load_tables(spark, fresh_sf)))
    assert n == 0
    n, _ = _jobs(spark, lambda: eng.collection("region"))
    assert n >= 1  # the schema read happens here, on first access
    n, _ = _jobs(spark, lambda: eng.collection("region"))
    assert n == 0  # ...and only once


def test_lazy_mapping_answers_without_reading(spark, tmp_path):
    # an empty directory: any read would raise, so every answer below
    # comes from the name list alone
    empty = str(tmp_path)
    n, t = _jobs(spark, lambda: load_tables(spark, empty))
    assert n == 0
    assert list(t) == ALL_TABLES
    assert list(t.keys()) == ALL_TABLES
    assert len(t) == 10
    assert "documents" in t and "nope" not in t
    picked = load_tables(spark, empty, names=["orders", "region", "orders"])
    assert list(picked) == ["orders", "region"] and len(picked) == 2
    with pytest.raises(KeyError):
        picked["lineitem"]


def test_missing_table_raises_on_first_access(spark, tmp_path):
    t = load_tables(spark, str(tmp_path), names=["documents"])
    with pytest.raises(AnalysisException):
        t["documents"]
    eng = Engine(t)
    with pytest.raises(AnalysisException):
        eng.collection("documents")


def test_lazy_mapping_keeps_opened_tables(spark):
    t = load_tables(spark, SF, names=["region", "nation"])
    assert t["region"] is t["region"]
    assert t.get("region").count() == 5


def test_register_leaves_caller_mapping_unchanged(spark):
    t = load_tables(spark, SF, names=["region", "nation"])
    eng = Engine(t)
    extra = spark.range(3)
    eng.register("extra", extra)
    eng.register("region", extra)  # shadows, never overwrites
    assert list(t) == ["region", "nation"] and "extra" not in t
    assert eng.collection("extra") is extra
    assert eng.collection("region") is extra
    assert t["region"] is not extra
    # a $lookup still resolves a caller-mapping collection by name
    out = eng.aggregate("nation", [
        {"$match": {"n_nationkey": 0}},
        {"$lookup": {"from": "nation", "localField": "n_regionkey",
                     "foreignField": "n_regionkey", "as": "same_region"}},
    ]).collect()
    assert len(out) == 1 and len(out[0]["same_region"]) >= 1


def test_load_tables_sets_utc_before_any_access(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_tables(spark, str(tmp_path))
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_local_frame_matches_row_path_and_launches_no_job(spark):
    import datetime

    from aggo_spark.session import local_frame

    schema = "bucket long, w double, s string, ok boolean, d date"
    rows = [(1, 0.5, "a", True, datetime.date(2020, 1, 2)),
            (None, None, None, None, None),
            (-3, float("nan"), "é", False, datetime.date(1970, 1, 1))]
    n, df = _jobs(spark, lambda: local_frame(spark, rows, schema))
    assert n == 0
    assert "LocalRelation" in df._jdf.queryExecution().logical().toString()
    ref = spark.createDataFrame(rows, schema)
    assert df.schema == ref.schema
    n, got = _jobs(spark, df.collect)
    assert n == 0  # the rows are in the plan: no Python-worker stage
    assert repr(got) == repr(ref.collect())  # repr: nan != nan
    assert local_frame(spark, [], schema).collect() == []
    # timestamps keep the row path (no Arrow localization question)
    ts = [(datetime.datetime(2021, 3, 4, 5, 6, 7),), (None,)]
    assert (local_frame(spark, ts, "t timestamp").collect()
            == spark.createDataFrame(ts, "t timestamp").collect())
