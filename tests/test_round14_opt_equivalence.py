"""Round-14 optimization equivalence pins.

Each optimization this round restructures HOW an operator computes while
the results must stay row-for-row identical:

- $lookup size-only peephole (stages.py): a lookup whose joined array is
  consumed only through {"$size": "$as"} and then dropped compiles to a
  COUNT (no collect_list). Pinned against the generic array-building
  path (forced by keeping the array referenced in the output).
- q61 curation on adversarial documents: the shipped pipeline must match
  its DuckDB oracle on empty, NULL, whitespace-only, all-stopword,
  stopword-free, short and fingerprint-duplicate docs.
- language_id_table's int route code (text.py): unrouted docs keep their
  stopword argmax.
- simhash_table lane packing (dedup.py): two 32-bit counter lanes share
  one long; output must equal the one-counter-per-bit Column form for
  both hash modes, including NULL/empty text and counts past 2**16.

minhash_lsh_pairs' id-only banding is pinned against a pure-Python
banded LSH in test_differential_hashing.py.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from aggo_spark import aggregate
from aggo_spark.operators import dedup

from .conftest import rows


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def look_orders(spark):
    return spark.createDataFrame(
        [{"_id": 1, "cust": 10}, {"_id": 2, "cust": 20},
         {"_id": 3, "cust": 99}, {"_id": 4, "cust": None}]
    )


@pytest.fixture(scope="module")
def look_items(spark):
    return spark.createDataFrame(
        [{"cid": 10, "sku": "x", "qty": 1}, {"cid": 10, "sku": "y", "qty": 9},
         {"cid": 20, "sku": "z", "qty": 3}, {"cid": None, "sku": "n", "qty": 5}]
    )


def _equi_lookup(extra=None):
    p = [{"$lookup": {"from": "items", "localField": "cust",
                      "foreignField": "cid", "as": "c"}}]
    return p + (extra or [])


def test_size_only_equi_lookup_matches_generic(spark, look_orders, look_items):
    colls = {"items": look_items}
    opt = aggregate(look_orders, _equi_lookup([
        {"$addFields": {"n": {"$size": "$c"}}},
        {"$project": {"_id": 1, "n": 1}},
    ]), collections=colls)
    # keeping the array in the projection forces the generic path
    gen = aggregate(look_orders, _equi_lookup([
        {"$addFields": {"n": {"$size": "$c"}}},
        {"$project": {"_id": 1, "n": 1, "c": 1}},
    ]), collections=colls).drop("c")
    assert rows(opt) == rows(gen)
    assert opt.schema == gen.schema
    txt = _plan(opt)
    assert "collect_list" not in txt and "ObjectHashAggregate" not in txt
    assert "collect_list" in _plan(gen)
    # unmatched and null-key outer rows count 0, like an empty array
    got = {r["_id"]: r["n"] for r in opt.collect()}
    assert got == {1: 2, 2: 1, 3: 0, 4: 0}


def test_size_only_pipeline_let_matches_generic(spark, look_orders, look_items):
    colls = {"items": look_items}

    def p(project_extra):
        return [
            {"$lookup": {
                "from": "items",
                "let": {"c": "$cust"},
                "pipeline": [{"$match": {"$expr": {"$and": [
                    {"$eq": ["$cid", "$$c"]},
                    {"$gte": ["$qty", 3]},
                ]}}}],
                "as": "big"}},
            {"$addFields": {"nb": {"$toLong": {"$size": "$big"}}}},
            {"$match": {"nb": {"$gte": 0}}},
            {"$project": {"_id": 1, "nb": 1, **project_extra}},
        ]

    opt = aggregate(look_orders, p({}), collections=colls)
    gen = aggregate(look_orders, p({"big": 1}), collections=colls).drop("big")
    assert rows(opt) == rows(gen)
    assert opt.schema == gen.schema
    assert "collect_list" not in _plan(opt)
    got = {r["_id"]: r["nb"] for r in opt.collect()}
    # $expr $eq is null-safe (MongoDB semantics): cust=None matches the
    # cid=None item row — identical in both paths
    assert got == {1: 1, 2: 1, 3: 0, 4: 1}


def test_size_only_group_kill(spark, look_orders, look_items):
    """$group replaces the stream — counts consumed inside accumulators."""
    colls = {"items": look_items}
    base = _equi_lookup()
    tail = [{"$group": {"_id": None, "total": {"$sum": {"$size": "$c"}}}}]
    opt = aggregate(look_orders, base + tail, collections=colls)
    assert "collect_list" not in _plan(opt)
    assert opt.collect()[0]["total"] == 3


def test_size_only_bails_on_limit_subpipeline(spark, look_orders, look_items):
    """$limit changes the would-be count — must stay on the generic path."""
    colls = {"items": look_items}
    p = [
        {"$lookup": {
            "from": "items",
            "let": {"c": "$cust"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$cid", "$$c"]}}},
                {"$sort": {"qty": -1}},
                {"$limit": 1},
            ],
            "as": "top"}},
        {"$addFields": {"n": {"$size": "$top"}}},
        {"$project": {"_id": 1, "n": 1}},
    ]
    out = aggregate(look_orders, p, collections=colls)
    assert "collect_list" in _plan(out)  # generic path kept
    got = {r["_id"]: r["n"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 0, 4: 1}  # null-safe $eq, see above


def test_size_only_bails_when_array_escapes(spark, look_orders, look_items):
    """No kill stage → the array is in the output → generic path."""
    colls = {"items": look_items}
    out = aggregate(look_orders, _equi_lookup(
        [{"$addFields": {"n": {"$size": "$c"}}}]), collections=colls)
    assert "collect_list" in _plan(out)
    assert dict(out.dtypes)["c"].startswith("array")


def test_size_only_exclusion_project_kill(spark, look_orders, look_items):
    colls = {"items": look_items}
    opt = aggregate(look_orders, _equi_lookup([
        {"$addFields": {"n": {"$size": "$c"}}},
        {"$project": {"c": 0}},
    ]), collections=colls)
    assert "collect_list" not in _plan(opt)
    got = {r["_id"]: r["n"] for r in opt.collect()}
    assert got == {1: 2, 2: 1, 3: 0, 4: 0}
    assert "c" not in opt.columns


SIMHASH_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, ""),          # zero tokens → all-ones fingerprint
    (4, None),        # NULL text → NULL fingerprint
]


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
@pytest.mark.parametrize("lane_bits", [16, 32])
def test_simhash_lane_packing_identical(spark, hash_fn, lane_bits):
    """simhash_table packs two 32-bit counter lanes into each long; the
    Column form keeps one counter per bit, so the two must agree. Doc 5
    repeats one token 2**(lane_bits // 2) + 1 times: the 32 cases push
    every counter of its bits past 2**16, where a 16-bit lane would wrap
    and carry into its neighbour."""
    docs = SIMHASH_DOCS + [(5, "a " * (2 ** (lane_bits // 2) + 1) + "b")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    col_form = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dedup.simhash(F.col("text"), hash_fn=hash_fn).alias("sh")
        ).collect()
    }
    packed = {r["id"]: r["sh"]
              for r in dedup.simhash_table(df, hash_fn=hash_fn).collect()}
    assert packed == col_form
    assert packed[4] is None


Q61_EDGE_DOCS = [
    (1, "s1", ""),
    (2, "s1", None),
    (3, "s1", "   \t\n  "),
    (4, "s2", "the of and to in a is that it for was on are with as"),
    (5, "s2", "zzz qqq xxx www yyy kkk jjj mmm nnn ppp rrr sss"),
    (6, "s3", "short doc"),
    (7, "s3", "The quick brown fox jumps over the lazy dog and it "
              "is a fine day for the running of many good dogs."),
    (8, "s4", "The quick brown fox jumps over the lazy dog and it "
              "is a fine day for the running of many good dogs."),
    (9, "s4", "der die und das ist von mit den nicht ein eine auf "
              "sich auch als werden aus er hat dass der die und"),
]


def test_q61_edge_docs_match_duckdb_oracle(spark, monkeypatch):
    """q61 on adversarial docs against its DuckDB oracle: empty text, null
    text, whitespace-only, stopword-free, all-stopword, sub-10-token, and
    fingerprint duplicates (exercises the window dedup and every when()
    branch of the score)."""
    import duckdb

    import __spark_entry__ as entry

    docs = spark.createDataFrame(
        Q61_EDGE_DOCS, "doc_id bigint, source string, text string")
    monkeypatch.setattr(entry, "_t", lambda s, d, name: docs)
    got = sorted(tuple(r) for r in entry.q61_curation_pipeline(
        spark, "ignored").select("source", "n_docs", "total_tokens").collect())
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents "
                    "(doc_id BIGINT, source VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)",
                        Q61_EDGE_DOCS)
        want = sorted(con.execute(
            "SELECT source, n_docs, total_tokens FROM ("
            + entry.oracle_sql()["q61_curation_pipeline"] + ")").fetchall())
    assert got, "fixture produced no rows - vacuous comparison"
    assert got == want


def test_langid_route_code_unrouted_docs_keep_stopword_argmax(spark):
    """r14: the routed label rides the token aggregate as an INT code
    (HashAggregate instead of SortAggregate). Pin the decode: unrouted
    (latin) docs must keep their stopword argmax — a null route code must
    decode to null, never to a CJK label. (Caught live: element_at with a
    null index returns an element on this Spark build, so the decode must
    be an explicit when-chain.)"""
    from aggo_spark.operators import text

    docs = spark.createDataFrame([
        {"doc_id": 1, "text": "the quick brown fox is on the hill and it "
                              "was a good day for all of the dogs"},
        {"doc_id": 2, "text": "der hund und die katze sind von den alten "
                              "nicht ein auf sich auch als werden"},
        {"doc_id": 3, "text": "こんにちは世界"
                              "ですかな漢字"},
        {"doc_id": 4, "text": ""},
    ])
    for kw in ({"cjk_route": True}, {"script_route": True}):
        got = {r["doc_id"]: r["pred_lang"]
               for r in text.language_id_table(docs, **kw).collect()}
        assert got[1] == "en", got
        assert got[2] == "de", got
        assert got[3] == "ja", got
        assert got[4] == "und", got
