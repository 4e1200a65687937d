"""Round-6 fixes: the five r5 ADVICE findings plus the verdict's
library-level rank_fusion bound and scalar_memo auto-invalidation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from aggo_spark.errors import InvalidPipeline
from aggo_spark.functions import scalar_memo
from aggo_spark.operators.search import bm25_search
from aggo_spark.operators.similarity import rank_fusion, semantic_dedup
from aggo_spark.operators.text import normalize_text, tokens


class TestBM25EmptyCorpusNotMemoized:
    """advice r5 #1: a bm25 over a not-yet-populated source must not pin
    n=0 — later searches over the now-full corpus would return empty."""

    def test_search_recovers_after_corpus_fills(self, spark, tmp_path):
        path = str(tmp_path / "corpus")
        schema = "doc_id long, body string"
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
        empty = bm25_search(
            spark.read.parquet(path), "spark engine", text_col="body",
            id_col="doc_id")
        assert empty.count() == 0
        # same path, now populated: the second read has the same analyzed
        # plan (same semanticHash), so a memoized n=0 would poison it
        spark.createDataFrame(
            [(1, "spark engine fast"), (2, "other text entirely")], schema
        ).write.mode("overwrite").parquet(path)
        hit = bm25_search(
            spark.read.parquet(path), "spark engine", text_col="body",
            id_col="doc_id")
        got = {r["doc_id"] for r in hit.collect()}
        assert 1 in got

    def test_plan_scalar_cache_if(self, spark):
        df = spark.range(3)
        calls = []

        def compute():
            calls.append(1)
            return len(calls)

        # first result (1) rejected by cache_if -> recompute; second (2)
        # accepted -> third call returns the cached 2
        a = scalar_memo.plan_scalar(df, "t6ci", compute, cache_if=lambda v: v >= 2)
        b = scalar_memo.plan_scalar(df, "t6ci", compute, cache_if=lambda v: v >= 2)
        c = scalar_memo.plan_scalar(df, "t6ci", compute, cache_if=lambda v: v >= 2)
        assert (a, b, c) == (1, 2, 2)
        assert len(calls) == 2


class TestStreamingVectorSearchFailsFast:
    """advice r5 #2: streaming $vectorSearch ends in orderBy+limit which
    Structured Streaming rejects; raise InvalidPipeline up front."""

    def test_raises_invalid_pipeline(self, spark):
        from aggo_spark.engine import Engine

        sdf = spark.readStream.format("rate").load()
        with pytest.raises(InvalidPipeline, match="Streaming"):
            Engine().aggregate(sdf, [{"$vectorSearch": {
                "queryVector": [1.0, 0.0], "path": "value", "limit": 3}}])


class TestBenchScalingGlobRobust:
    """advice r5 #3: a SCALING_* file without a numeric round suffix must
    be skipped, not crash the expected-seconds loader."""

    def test_non_numeric_suffix_skipped(self, tmp_path, monkeypatch):
        import bench

        good = tmp_path / "SCALING_r2.json"
        good.write_text(json.dumps(
            {"results": {"q99": {"sec": {"0.1": 1.5}}}}))
        bad = tmp_path / "SCALING_rerun.json"
        bad.write_text("{}")
        monkeypatch.setattr(
            bench.glob, "glob", lambda pat: [str(bad), str(good)])
        expected = bench._load_expected(0.1)
        assert expected["q99"] == 1.5  # loaded from r2, rerun ignored


class TestCliOutputStatsTiming:
    """advice r5 #4: with --stats + --output the result count runs inside
    the timed window, and --output PATH is documented as a directory."""

    def test_stats_with_output_counts_in_window(self, spark, tmp_path, capsys):
        from aggo_spark import cli

        src = tmp_path / "in.jsonl"
        src.write_text('{"a": 1}\n{"a": 2}\n')
        out_dir = str(tmp_path / "out")
        rc = cli.main([
            "[]", "--file", str(src), "--output", out_dir, "--stats"])
        assert rc == 0
        err = capsys.readouterr().err
        stats = json.loads(err.strip().splitlines()[-1])
        assert stats["output_rows"] == 2
        assert stats["execute_s"] >= 0


class TestSemDedupPrimaryCellCap:
    """advice r5 #5: cell_cap gates on primary-membership sizes, so
    n_assign>1 secondary members cannot push a cell over the cap."""

    def test_n_assign_2_does_not_trip_cap(self, spark):
        # two tight clusters; every vector's 2nd-nearest cell is the other
        # one, so inflated per-cell counts double (6 > cap) while primary
        # counts stay at 3 (<= cap)
        centers = [[1.0, 0.0], [0.0, 1.0]]
        rows = [
            (1, [1.0, 0.01]), (2, [1.0, 0.02]), (3, [0.9, 0.05]),
            (4, [0.01, 1.0]), (5, [0.02, 1.0]), (6, [0.05, 0.9]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(
            df, threshold=0.99, centroids=centers, cell_cap=4, n_assign=2,
        ).collect()
        # under the old inflated-count cap every cell (6 members) was
        # skipped -> no pairing at all; with the primary cap the tight
        # pairs merge into shared components
        comp = {r["vec_id"]: r["component"] for r in out}
        assert comp[1] == comp[2]
        assert comp[4] == comp[5]


class TestRankFusionBounded:
    """judge r5 #3: the library rank_fusion bounds every input by
    max_rank before the global rank window."""

    def test_deep_ranks_dropped_by_default(self, spark):
        a = spark.range(1, 3001).select(
            F.col("id").alias("doc_id"), F.col("id").cast("int").alias("rank"))
        b = spark.range(1, 3001).select(
            (F.col("id") + 10000).alias("doc_id"),
            F.col("id").cast("int").alias("rank"))
        out = rank_fusion([a, b])
        assert out.count() == 2000  # 1000 per list survive the bound
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "1000" in plan  # the rank filter is in the plan

    def test_max_rank_none_disables(self, spark):
        a = spark.range(1, 2001).select(
            F.col("id").alias("doc_id"), F.col("id").cast("int").alias("rank"))
        assert rank_fusion([a], max_rank=None).count() == 2000

    def test_max_rank_validation(self, spark):
        a = spark.range(1, 5).select(
            F.col("id").alias("doc_id"), F.col("id").cast("int").alias("rank"))
        with pytest.raises(ValueError, match="max_rank"):
            rank_fusion([a], max_rank=0)


# marked slow (r14): excluded from the default driver gate, run with -m slow
@pytest.mark.slow
class TestHamming2Multiprobe:
    """judge r5 #8: probe_hamming=2 via the two-stage explode (base code
    once per table + literal mask explode) — no codegen blowup."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        from aggo_spark import load_tables

        return load_tables(
            spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]

    def test_hamming2_recall_pinned(self, emb):
        from aggo_spark.operators import similarity

        bf = {(r.query_id, r.neighbor_id)
              for r in similarity.brute_force_topk(emb, emb, k=10).collect()}
        a = {(r.query_id, r.neighbor_id)
             for r in similarity.bucketed_topk(
                 emb, emb, k=10, bits=8, tables=8, probe_hamming=2).collect()}
        r = len(a & bf) / len(bf)
        # measured 0.966 at 71% scan (docstring table); fixed data +
        # deterministic plan -> exact reproduction, margin for rounding
        assert r >= 0.94, f"hamming-2 recall {r:.3f} (measured 0.966)"

    def test_hamming2_subset_with_exact_scores(self, emb):
        from aggo_spark.operators import similarity

        exact = {(r.query_id, r.neighbor_id): r.score
                 for r in similarity.brute_force_topk(emb, emb, k=3).collect()}
        approx = similarity.bucketed_topk(
            emb, emb, k=3, bits=8, tables=1, probe_hamming=2).collect()
        for r in approx:
            key = (r.query_id, r.neighbor_id)
            if key in exact:
                assert abs(exact[key] - r.score) < 1e-9

    def test_validation(self, spark):
        from aggo_spark.operators import similarity

        df = spark.createDataFrame(
            [(1, [1.0] * 8)], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="probe_hamming"):
            similarity.bucketed_topk(df, df, probe_hamming=3)


class TestRankFusionScoreDetails:
    """judge r5 #7: $rankFusion scoreDetails emits the per-pipeline
    rank/weight/contribution struct MongoDB 8 returns."""

    def test_hand_computed_details_two_weighted_pipelines(self, spark):
        from aggo_spark import Engine

        rows = [(1, 5.0, 10.0), (2, 9.0, 30.0), (3, 7.0, 20.0)]
        df = spark.createDataFrame(rows, "doc_id int, pop double, rec double")
        out = Engine().aggregate(df, [{"$rankFusion": {
            "input": {"pipelines": {
                "popular": [{"$sort": {"pop": -1}}, {"$limit": 2}],
                "recent": [{"$sort": {"rec": -1}}, {"$limit": 2}],
            }},
            "combination": {"weights": {"popular": 2.0, "recent": 0.5}},
            "idField": "doc_id",
            "scoreDetails": True,
        }}]).collect()
        by = {r.doc_id: r for r in out}
        # popular ranks: 2->1, 3->2 | recent ranks: 2->1, 3->2; doc 1 absent
        d2 = by[2].scoreDetails
        assert d2.value == pytest.approx(2.0 / 61 + 0.5 / 61, abs=1e-6)
        assert d2.value == by[2].score
        assert "reciprocal rank fusion" in d2.description
        assert [x.inputPipelineName for x in d2.details] == ["popular", "recent"]
        p, r = d2.details
        assert (p.rank, p.weight) == (1, 2.0)
        assert p.contribution == pytest.approx(2.0 / 61, abs=1e-6)
        assert (r.rank, r.weight) == (1, 0.5)
        assert r.contribution == pytest.approx(0.5 / 61, abs=1e-6)
        d3 = by[3].scoreDetails
        assert d3.details[0].rank == 2 and d3.details[1].rank == 2
        assert d3.value == pytest.approx(2.0 / 62 + 0.5 / 62, abs=1e-6)
        # doc 1 was cut by both $limit 2 -> absent from the fused output
        assert 1 not in by

    def test_details_only_for_returning_pipelines(self, spark):
        from aggo_spark import Engine

        rows = [(1, 5.0, 30.0), (2, 9.0, 10.0)]
        df = spark.createDataFrame(rows, "doc_id int, pop double, rec double")
        out = Engine().aggregate(df, [{"$rankFusion": {
            "input": {"pipelines": {
                "popular": [{"$sort": {"pop": -1}}, {"$limit": 1}],
                "recent": [{"$sort": {"rec": -1}}, {"$limit": 1}],
            }},
            "idField": "doc_id",
            "scoreDetails": True,
        }}]).collect()
        by = {r.doc_id: r for r in out}
        # each doc won exactly one pipeline: one details entry each
        assert [x.inputPipelineName for x in by[2].scoreDetails.details] == ["popular"]
        assert [x.inputPipelineName for x in by[1].scoreDetails.details] == ["recent"]
        assert by[1].scoreDetails.value == pytest.approx(1 / 61, abs=1e-6)


class TestScoreFusion:
    """$scoreFusion (MongoDB 8.1 surface, r6): normalized weighted score
    combination over scored input pipelines — hand-computed values."""

    def _df(self, spark):
        rows = [(1, 2.0, [1.0, 0.0]), (2, 1.0, [0.8, 0.6]),
                (3, 0.0, [0.0, 1.0])]
        return spark.createDataFrame(
            rows, "doc_id int, pop double, embedding array<double>")

    def test_none_normalization_weighted_sum(self, spark):
        from aggo_spark import Engine

        df = self._df(spark)
        out = Engine().aggregate(df, [{"$scoreFusion": {
            "input": {"pipelines": {
                "pop": [{"$addFields": {"score": "$pop"}},
                        {"$sort": {"score": -1}}, {"$limit": 3}],
                "vec": [{"$vectorSearch": {"queryVector": [1.0, 0.0],
                                           "path": "$embedding", "limit": 3}}],
            }, "normalization": "none"},
            "combination": {"weights": {"pop": 2.0, "vec": 1.0},
                            "method": "sum"},
            "idField": "doc_id",
        }}]).collect()
        by = {r.doc_id: r.score for r in out}
        # vec scores: Atlas (1+cos)/2 -> d1: 1.0, d2: 0.9, d3: 0.5
        assert by[1] == pytest.approx(2 * 2.0 + 1.0, abs=1e-6)
        assert by[2] == pytest.approx(2 * 1.0 + 0.9, abs=1e-6)
        assert by[3] == pytest.approx(2 * 0.0 + 0.5, abs=1e-6)
        assert [r.doc_id for r in out] == [1, 2, 3]

    def test_sigmoid_avg_and_missing_pipeline(self, spark):
        import math

        from aggo_spark import Engine

        df = self._df(spark)
        out = Engine().aggregate(df, [{"$scoreFusion": {
            "input": {"pipelines": {
                "pop": [{"$addFields": {"score": "$pop"}},
                        {"$sort": {"score": -1}}, {"$limit": 2}],
                "vec": [{"$vectorSearch": {"queryVector": [1.0, 0.0],
                                           "path": "$embedding", "limit": 3}}],
            }},  # normalization defaults to sigmoid; method defaults to avg
            "idField": "doc_id",
            "scoreDetails": True,
        }}]).collect()
        by = {r.doc_id: r for r in out}
        sig = lambda s: 1.0 / (1.0 + math.exp(-s))
        # doc 1: pop 2.0 + vec 1.0 -> avg of sigmoids
        assert by[1].score == pytest.approx((sig(2.0) + sig(1.0)) / 2, abs=1e-6)
        # doc 3 cut by pop's $limit 2: only vec contributes -> avg over vec
        assert by[3].score == pytest.approx(sig(0.5), abs=1e-6)
        assert [x.inputPipelineName for x in by[3].scoreDetails.details] == ["vec"]
        d1 = by[1].scoreDetails.details
        assert [x.inputPipelineName for x in d1] == ["pop", "vec"]
        assert d1[0].rawScore == pytest.approx(2.0)
        assert d1[0].normalizedScore == pytest.approx(sig(2.0), abs=1e-6)

    def test_minmax_scaler(self, spark):
        from aggo_spark import Engine

        df = self._df(spark)
        out = Engine().aggregate(df, [{"$scoreFusion": {
            "input": {"pipelines": {
                "pop": [{"$addFields": {"score": "$pop"}},
                        {"$sort": {"score": -1}}, {"$limit": 3}],
            }, "normalization": "minMaxScaler"},
            "idField": "doc_id",
        }}]).collect()
        by = {r.doc_id: r.score for r in out}
        # pop 2/1/0 min-max scaled -> 1.0 / 0.5 / 0.0
        assert by[1] == pytest.approx(1.0) and by[2] == pytest.approx(0.5)
        assert by[3] == pytest.approx(0.0)

    def test_validation(self, spark):
        from aggo_spark import Engine
        from aggo_spark.errors import InvalidPipeline

        df = self._df(spark)
        with pytest.raises(InvalidPipeline, match="SCORED"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": {"p": [{"$sort": {"pop": -1}}]}},
                "idField": "doc_id"}}])
        with pytest.raises(InvalidPipeline, match="normalization"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": {"p": [{"$addFields": {"score": "$pop"}},
                                              {"$limit": 3}]},
                          "normalization": "zscore"},
                "idField": "doc_id"}}])
        with pytest.raises(InvalidPipeline, match="weight"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": {"p": [{"$addFields": {"score": "$pop"}},
                                              {"$limit": 3}]}},
                "combination": {"weights": {"zz": 1.0}},
                "idField": "doc_id"}}])

    def test_expression_combination(self, spark):
        from aggo_spark import Engine

        df = self._df(spark)
        out = Engine().aggregate(df, [{"$scoreFusion": {
            "input": {"pipelines": {
                "pop": [{"$addFields": {"score": "$pop"}},
                        {"$sort": {"score": -1}}, {"$limit": 2}],
                "vec": [{"$vectorSearch": {"queryVector": [1.0, 0.0],
                                           "path": "$embedding", "limit": 3}}],
            }, "normalization": "none"},
            "combination": {"method": "expression",
                            "expression": {"$add": [
                                {"$multiply": ["$$pop", 0.5]}, "$$vec"]}},
            "idField": "doc_id",
        }}]).collect()
        by = {r.doc_id: r.score for r in out}
        # vec (Atlas (1+cos)/2): d1 1.0, d2 0.9, d3 0.5; pop limited to 2
        assert by[1] == pytest.approx(0.5 * 2.0 + 1.0, abs=1e-6)
        assert by[2] == pytest.approx(0.5 * 1.0 + 0.9, abs=1e-6)
        # doc 3 not returned by pop -> $$pop is 0 in the expression
        assert by[3] == pytest.approx(0.5 * 0.0 + 0.5, abs=1e-6)
        assert [r.doc_id for r in out] == [1, 2, 3]

    def test_expression_score_details_null_weight(self, spark):
        from aggo_spark import Engine

        df = self._df(spark)
        out = Engine().aggregate(df, [{"$scoreFusion": {
            "input": {"pipelines": {
                "pop": [{"$addFields": {"score": "$pop"}}, {"$limit": 3}],
            }, "normalization": "none"},
            "combination": {"method": "expression",
                            "expression": {"$multiply": ["$$pop", 0.5]}},
            "idField": "doc_id",
            "scoreDetails": True,
        }}]).collect()
        d = out[0].scoreDetails.details[0]
        # weights are rejected for expression mode, so the details must not
        # fabricate weight=1.0 / contribution=norm (review r6)
        assert d.weight is None and d.contribution is None
        assert d.normalizedScore is not None

    def test_expression_validation(self, spark):
        from aggo_spark import Engine
        from aggo_spark.errors import InvalidPipeline

        df = self._df(spark)
        pipes = {"pop": [{"$addFields": {"score": "$pop"}}, {"$limit": 3}]}
        with pytest.raises(InvalidPipeline, match="weights cannot"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": pipes},
                "combination": {"method": "expression",
                                "expression": "$$pop",
                                "weights": {"pop": 2.0}},
                "idField": "doc_id"}}])
        with pytest.raises(InvalidPipeline, match="requires method"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": pipes},
                "combination": {"method": "sum", "expression": "$$pop"},
                "idField": "doc_id"}}])
        with pytest.raises(InvalidPipeline, match="requires combination.expression"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": pipes},
                "combination": {"method": "expression"},
                "idField": "doc_id"}}])
        with pytest.raises(InvalidPipeline, match=r"variables in scope.*\$\$pop"):
            Engine().aggregate(df, [{"$scoreFusion": {
                "input": {"pipelines": pipes},
                "combination": {"method": "expression",
                                "expression": {"$add": ["$$pop", "$$nope"]}},
                "idField": "doc_id"}}])

    def test_unbounded_pipeline_gets_bounded(self, spark):
        from aggo_spark import Engine

        df = self._df(spark)
        out = Engine().aggregate(df, [{"$scoreFusion": {
            "input": {"pipelines": {
                "pop": [{"$addFields": {"score": "$pop"}},
                        {"$sort": {"score": -1}}],
            }, "normalization": "none"},
            "idField": "doc_id",
            "maxDocs": 2,
        }}]).collect()
        assert len(out) == 2  # bounded by maxDocs


class TestStarConnectedComponents:
    """judge r5 #4: large-star/small-star contraction — O(log n) rounds on
    high-diameter graphs, label-identical to min-label propagation."""

    def _cc(self, spark, edges, algorithm):
        from aggo_spark.operators.dedup import connected_components

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out = connected_components(df, algorithm=algorithm)
        return {r["id"]: r["component"] for r in out.collect()}

    @pytest.mark.parametrize("seed", [6, 61, 66])
    def test_differential_random_graph(self, spark, seed):
        import random

        rng = random.Random(seed)
        edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
        edges = [e for e in edges if e[0] != e[1]]
        a = self._cc(spark, edges, "label")
        b = self._cc(spark, edges, "star")
        assert a == b

    def test_dedup_clusters_and_semantic_dedup_accept_star(self, spark):
        from aggo_spark.operators.dedup import dedup_clusters
        from aggo_spark.operators.similarity import semantic_dedup

        docs = spark.createDataFrame(
            [(1,), (2,), (3,), (4,)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        out = {r["doc_id"]: (r["component"], r["is_representative"])
               for r in dedup_clusters(docs, pairs, algorithm="star").collect()}
        assert out == {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True)}

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>")
        sd = semantic_dedup(
            emb, threshold=0.99, centroids=[[1.0, 0.0], [0.0, 1.0]],
            cc_algorithm="star").collect()
        comp = {r["vec_id"]: r["component"] for r in sd}
        assert comp[1] == comp[2] and comp[3] != comp[1]

    def test_chain_converges_in_log_rounds(self, spark):
        from aggo_spark.operators.dedup import connected_components

        n = 1000
        edges = [(i, i + 1) for i in range(n - 1)]
        labels = self._cc(spark, edges, "star")
        assert set(labels.values()) == {0}
        assert len(labels) == n
        # O(log n): ceil(log2(1000)) = 10, +2 for the final no-change
        # detection round and contraction slack — far under the ~1000
        # rounds min-label would need
        assert connected_components.last_rounds <= 12

    def test_string_ids(self, spark):
        from aggo_spark.operators.dedup import connected_components

        df = spark.createDataFrame(
            [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
            "id_a string, id_b string")
        out = {r["id"]: r["component"]
               for r in connected_components(df, algorithm="star").collect()}
        assert out == {"a": "a", "b": "a", "c": "a", "d": "a",
                       "x": "x", "y": "x"}

    def test_algorithm_validation(self, spark):
        from aggo_spark.operators.dedup import connected_components

        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="algorithm"):
            connected_components(df, algorithm="bogus")


class TestJpegHeaderDecode:
    """judge r5 #2: real JPEG header parse (SOFn marker walk) — the
    dominant web-corpus format no longer falls through to the fake."""

    def test_roundtrip_baseline_and_progressive(self):
        from aggo_spark.operators import multimodal as mm

        for w, h, c, prog in [(1, 1, 1, False), (640, 480, 3, False),
                              (2047, 1023, 4, True)]:
            m = mm.jpeg_decode(mm.encode_jpeg_header(w, h, c, progressive=prog))
            assert (m["width"], m["height"], m["channels"]) == (w, h, c)
            assert m["format"] == "jpeg"
            # header-only: pixel stats are null, never fabricated
            assert m["channel_means"] is None and m["phash"] is None

    def test_corrupt_and_foreign_bytes(self):
        from aggo_spark.operators import multimodal as mm

        full = mm.encode_jpeg_header(100, 50, 3)
        assert mm.jpeg_decode(b"\xff\xd8\xff\x00") is None  # broken stream
        assert mm.jpeg_decode(full[:10]) is None  # truncated mid-segment
        assert mm.jpeg_decode(b"not a jpeg") is None  # magic gate
        # SOS before any SOF frame header -> invalid
        import struct as s
        bad = b"\xff\xd8" + bytes([0xFF, 0xDA]) + s.pack(">H", 4) + b"\x00\x00"
        assert mm.jpeg_decode(bad) is None

    def test_dispatch(self):
        from aggo_spark.operators import multimodal as mm

        b = mm.encode_jpeg_header(33, 44)
        assert mm.py_decode(b)["width"] == 33
        # no PIL in this container: auto_decode routes jpeg magic to the
        # real header parse, not the fake
        assert mm.auto_decode(b)["format"] == "jpeg"
        assert mm.auto_decode(b)["height"] == 44

    def test_mapinpandas_null_row(self, spark):
        from aggo_spark.operators import multimodal as mm

        df = spark.createDataFrame(
            [(1, bytearray(mm.encode_jpeg_header(10, 20, 3))),
             (2, bytearray(b"\xff\xd8\xff\x00"))],
            "doc_id long, content binary")
        out = {r["doc_id"]: r["img_meta"]
               for r in mm.decode_image_metadata(
                   df, decoder=mm.py_decode).collect()}
        assert out[1]["width"] == 10 and out[1]["height"] == 20
        assert out[2] is None or out[2]["width"] is None


class TestKeyedIncrementalRetraction:
    """judge r5 #5: the recompute fallback for non-invertible accumulators
    re-aggregates only the DIRTY keys' rows after a mutation — the dirty-
    key isin filter sits on the CDC scan, so untouched groups never enter
    the aggregation."""

    PIPE = [
        {"$match": {"qty": {"$gte": 0}}},
        {"$group": {"_id": "$cat", "lo": {"$min": "$price"},
                    "vals": {"$addToSet": "$qty"}}},
    ]

    def _mk(self, spark, tmp_path):
        from aggo_spark.streaming.core import StreamingCollection

        return StreamingCollection(
            spark, "cat string, price double, qty long",
            workdir=str(tmp_path / "keyed"))

    def test_keyed_path_and_plan_scans_only_dirty_keys(self, spark, tmp_path):
        c = self._mk(spark, tmp_path)
        try:
            c.add_bulk([
                {"cat": "a", "price": 5.0, "qty": 1},
                {"cat": "b", "price": 7.0, "qty": 2},
                {"cat": "c", "price": 9.0, "qty": 3},
            ])
            c.stream(self.PIPE, "r")
            reg = c._registered["r"]
            assert reg.keyed_field == "cat"
            assert reg.last_recompute_mode == "full"  # registration fold
            # mutate ONE key: only 'b' is dirty
            c.remove({"cat": "b", "price": 7.0, "qty": 2})
            assert reg.last_recompute_mode == "keyed"
            # the dirty-key restriction reached the scan: the executed plan
            # filters cat IN ('b') below the aggregation, and the untouched
            # keys do not appear in it
            assert "cat" in reg.last_recompute_plan
            assert "b" in reg.last_recompute_plan
            plan_filters = [ln for ln in reg.last_recompute_plan.splitlines()
                            if "Filter" in ln and "cat" in ln]
            assert plan_filters, reg.last_recompute_plan
            # result merged correctly: b fully retracted -> gone, a/c kept
            got = {r["_id"]: r for r in c.result("r")}
            assert set(got) == {"a", "c"}
            assert got["a"]["lo"] == 5.0 and got["c"]["lo"] == 9.0
            # mutate 'a' only: c's cached row must survive the merge
            c.add({"cat": "a", "price": 1.0, "qty": 9})
            got = {r["_id"]: r for r in c.result("r")}
            assert got["a"]["lo"] == 1.0
            assert sorted(got["a"]["vals"]) == [1, 9]
            assert got["c"]["lo"] == 9.0
        finally:
            c.stop()

    def test_group_reappears_after_full_retraction_and_readd(self, spark, tmp_path):
        c = self._mk(spark, tmp_path)
        try:
            c.stream(self.PIPE, "r")
            c.add({"cat": "x", "price": 2.0, "qty": 4})
            c.remove({"cat": "x", "price": 2.0, "qty": 4})
            assert c.result("r") == []
            c.add({"cat": "x", "price": 3.0, "qty": 5})
            got = {r["_id"]: r for r in c.result("r")}
            assert got["x"]["lo"] == 3.0
        finally:
            c.stop()

    def test_duplicate_docs_multiset_semantics(self, spark, tmp_path):
        c = self._mk(spark, tmp_path)
        try:
            c.stream(self.PIPE, "r")
            d = {"cat": "m", "price": 4.0, "qty": 7}
            c.add_bulk([d, dict(d)])  # multiplicity 2
            c.remove(dict(d))  # one copy retracted, one survives
            got = {r["_id"]: r for r in c.result("r")}
            assert got["m"]["lo"] == 4.0 and got["m"]["vals"] == [7]
        finally:
            c.stop()

    def test_failed_fold_retries_deltas(self, spark, tmp_path, monkeypatch):
        """file_pos advances only after a successful fold: a transient
        failure must not permanently skip the delta window."""
        c = self._mk(spark, tmp_path)
        try:
            c.stream(self.PIPE, "r")
            c.add({"cat": "a", "price": 5.0, "qty": 1})
            reg = c._registered["r"]
            orig = c.engine.aggregate
            calls = {"n": 0}

            def boom(*a, **kw):
                calls["n"] += 1
                raise RuntimeError("transient")

            monkeypatch.setattr(c.engine, "aggregate", boom)
            with pytest.raises(RuntimeError):
                c.add({"cat": "b", "price": 7.0, "qty": 2})
            monkeypatch.setattr(c.engine, "aggregate", orig)
            # the failed delta window is still pending -> a later flush
            # folds BOTH the failed and the new mutation
            c.add({"cat": "c", "price": 9.0, "qty": 3})
            got = {r["_id"]: r["lo"] for r in c.result("r")}
            assert got == {"a": 5.0, "b": 7.0, "c": 9.0}
        finally:
            c.stop()

    def test_qualification_rules(self):
        from aggo_spark.streaming.core import keyed_recompute_field

        g = {"$group": {"_id": "$k", "lo": {"$min": "$v"}}}
        assert keyed_recompute_field([g]) == "k"
        assert keyed_recompute_field([{"$match": {"v": 1}}, g]) == "k"
        # disqualified: computed/compound ids, non-match prefix, post stages
        assert keyed_recompute_field(
            [{"$group": {"_id": {"$toUpper": "$k"}, "n": {"$sum": 1}}}]) is None
        assert keyed_recompute_field(
            [{"$group": {"_id": {"a": "$k"}, "n": {"$sum": 1}}}]) is None
        assert keyed_recompute_field([{"$unwind": "$xs"}, g]) is None
        assert keyed_recompute_field([{"$sort": {"v": 1}}, g]) is None
        assert keyed_recompute_field([g, {"$sort": {"lo": 1}}]) is None
        assert keyed_recompute_field(
            [{"$group": {"_id": "$a.b", "n": {"$sum": 1}}}]) is None
        assert keyed_recompute_field([]) is None


class TestDecontaminationShuffleStrategy:
    """r6: strategy='shuffle' for benchmark sets too big to broadcast —
    identical results, no forced broadcast of the benchmark grams."""

    def _data(self, spark):
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l m n o p"),
             (2, "totally different words entirely here now ok yes " * 2),
             (3, None)],
            "doc_id long, text string")
        bench = spark.createDataFrame(
            [(100, "a b c d e f g h i j k l m extra tail")],
            "doc_id long, text string")
        return corpus, bench

    def test_strategies_agree(self, spark):
        from aggo_spark.operators.dedup import benchmark_ngram_overlap

        corpus, bench = self._data(spark)
        a = sorted(benchmark_ngram_overlap(
            corpus, bench, strategy="broadcast").collect())
        b = sorted(benchmark_ngram_overlap(
            corpus, bench, strategy="shuffle").collect())
        assert a == b
        by = {r["doc_id"]: r["contaminated"] for r in a}
        assert by[1] is True and by[2] is False and by[3] is False

    def test_shuffle_plan_has_no_forced_broadcast_hint(self, spark):
        from aggo_spark.operators.dedup import benchmark_ngram_overlap

        corpus, bench = self._data(spark)
        out = benchmark_ngram_overlap(corpus, bench, strategy="shuffle")
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        # the left join back onto corpus ids may still broadcast the tiny
        # counts; the BENCHMARK-side hint specifically must be absent from
        # the logical plan (Catalyst remains free to choose)
        assert "ResolvedHint" not in optimized

    def test_validation(self, spark):
        from aggo_spark.operators.dedup import benchmark_ngram_overlap

        corpus, bench = self._data(spark)
        with pytest.raises(ValueError, match="strategy"):
            benchmark_ngram_overlap(corpus, bench, strategy="bloom")

    def test_session_pins_runtime_bloom(self, spark):
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"


class TestBlocklistShuffleOption:
    """r6: broadcast=False for corpus-sized blocklists — exact-host
    shuffle join, and (late r6) subdomain matching via the dot-suffix
    explode equi-join instead of a rejection."""

    def test_shuffle_agrees_with_broadcast(self, spark):
        from aggo_spark.operators.text import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "see https://bad.example.com/x ok"),
             (2, "see https://good.example.org/y ok"),
             (3, "no urls at all")],
            "doc_id long, text string")
        bl = ["bad.example.com"]
        a = sorted(r["doc_id"] for r in filter_blocked_domains(
            df, bl, match_subdomains=False).collect())
        b = sorted(r["doc_id"] for r in filter_blocked_domains(
            df, bl, match_subdomains=False, broadcast=False).collect())
        assert a == b == [2, 3]

    def test_shuffle_subdomains_agrees_with_broadcast(self, spark):
        from aggo_spark.operators.text import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://a.b.spam.io/x"),       # subdomain of blocked
             (2, "https://spam.io/y"),           # exact blocked host
             (3, "https://notspam.io/z"),        # suffix NOT at a label dot
             (4, "https://spam.io.safe.org/w"),  # blocked string mid-host
             (5, "no urls")],
            "doc_id long, text string")
        bl = ["spam.io"]
        a = sorted(r["doc_id"] for r in filter_blocked_domains(
            df, bl).collect())
        b = sorted(r["doc_id"] for r in filter_blocked_domains(
            df, bl, broadcast=False).collect())
        assert a == b == [3, 4, 5]

    def test_shuffle_subdomain_plan_has_no_nested_loop(self, spark):
        from aggo_spark.operators.text import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://a.spam.io/x")], "doc_id long, text string")
        out = filter_blocked_domains(df, ["spam.io"], broadcast=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


def _tokens_hof(col):
    """The pre-r6 interpreted-HOF form of ``tokens``: the differential
    mirror for the codegen form the library ships."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


class TestTokensCodegenForm:
    """r6: tokens() moved from an interpreted HOF filter to codegen
    array_remove — differential mirror pins identical outputs."""

    def test_differential_vs_hof_mirror(self, spark):
        df = spark.createDataFrame(
            [(1, "  a  b  "), (2, ""), (3, None), (4, "!!!"), (5, "x"),
             (6, "   "), (7, "A-B c_d 9"), (8, "The quick brown fox")],
            "doc_id long, text string")
        a = df.select("doc_id", tokens(F.col("text")).alias("t")).collect()
        b = df.select("doc_id", _tokens_hof(F.col("text")).alias("t")).collect()
        assert [(r["doc_id"], r["t"]) for r in a] == \
               [(r["doc_id"], r["t"]) for r in b]

    def test_differential_on_real_docs(self, spark):
        from aggo_spark import load_tables

        docs = load_tables(
            spark, "/root/testdata/sf0.01", ["documents"])["documents"]
        a = docs.select(F.md5(F.concat_ws(
            "\x01", tokens(F.col("text")))).alias("h"))
        b = docs.select(F.md5(F.concat_ws(
            "\x01", _tokens_hof(F.col("text")))).alias("h"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestScalarMemoAutoInvalidation:
    """judge r5 #6: StreamingCollection mutations clear the scalar memo.
    r7 (advisor r6 #5) scoped the clear: entries whose plans read the
    mutated spool — or whose provenance is unknown (no listable input
    files, like this range() frame) — are dropped; entries pinned to
    unrelated file sources survive (TestScopedScalarMemoClear covers
    those)."""

    def test_mutation_clears_memo(self, spark, tmp_path):
        from aggo_spark.streaming.core import StreamingCollection

        df = spark.range(5)

        def key():
            return scalar_memo._key(df, "t6inv")

        scalar_memo.plan_scalar(df, "t6inv", lambda: 42)
        assert key() in scalar_memo._MEMO  # populated
        c = StreamingCollection(spark, "a long", workdir=str(tmp_path))
        try:
            c.add({"a": 1})
            # unknown-provenance entry dropped by the scoped clear
            assert key() not in scalar_memo._MEMO
            scalar_memo.plan_scalar(df, "t6inv", lambda: 43)
            c.remove({"a": 1})
            assert key() not in scalar_memo._MEMO
        finally:
            c.stop()


# marked slow (r14): excluded from the default driver gate, run with -m slow
@pytest.mark.slow
class TestProductQuantization:
    """late r6: PQ ANN (Jégou et al. 2011 / faiss storage path) — train/
    encode/ADC-topk; exactness vs hand-built codebooks, pinned recall."""

    def test_train_shapes_and_determinism(self, spark):
        from aggo_spark import load_tables
        from aggo_spark.operators.similarity import pq_train

        emb = load_tables(
            spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
        a = pq_train(emb, m=4, k_codes=8, iters=5)
        b = pq_train(emb, m=4, k_codes=8, iters=5)
        assert len(a) == 4 and len(a[0]) == 8 and len(a[0][0]) == 16
        assert a == b  # seed-deterministic

    def test_encode_is_argmin_and_narrow(self, spark):
        from aggo_spark.operators.similarity import pq_encode

        df = spark.createDataFrame(
            [(1, [0.9, 0.1, 10.0, 10.0]), (2, [0.0, 1.1, -9.0, -9.0]),
             (3, [1.0, 1.0, 0.0, 0.1])],
            "vec_id long, embedding array<double>")
        # m=2 subspaces of 2 dims; hand-built codebooks
        books = [
            [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
            [[10.0, 10.0], [-10.0, -10.0], [0.0, 0.0]],
        ]
        out = pq_encode(df, books)
        by = {r.vec_id: r.codes for r in out.collect()}
        assert by == {1: [0, 0], 2: [1, 1], 3: [2, 2]}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # narrow: encode never shuffles

    def test_topk_scores_equal_reconstruction_cosine(self, spark):
        import math

        from aggo_spark.operators.similarity import pq_encode, pq_topk

        df = spark.createDataFrame(
            [(1, [1.0, 0.0, 1.0, 0.0]), (2, [0.0, 1.0, 0.0, 1.0]),
             (3, [1.0, 1.0, 1.0, 1.0])],
            "vec_id long, embedding array<double>")
        books = [
            [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
            [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        ]
        codes = pq_encode(df, books)
        out = pq_topk(codes, df, books, k=2)
        got = {(r.query_id, r.neighbor_id): r.score for r in out.collect()}

        def cos(q, r):
            d = sum(a * b for a, b in zip(q, r))
            return d / (math.sqrt(sum(a * a for a in q))
                        * math.sqrt(sum(b * b for b in r)))

        vecs = {1: [1.0, 0.0, 1.0, 0.0], 2: [0.0, 1.0, 0.0, 1.0],
                3: [1.0, 1.0, 1.0, 1.0]}
        # codebooks contain every subvector exactly -> reconstruction is
        # the vector itself; ADC score == exact cosine
        for (q, n), s in got.items():
            assert s == pytest.approx(round(cos(vecs[q], vecs[n]), 6), abs=1e-6)
        # ranks: for query 3, both neighbors tie at cos=1/sqrt(2); id asc
        r3 = sorted((r.rank, r.neighbor_id) for r in out.collect()
                    if r.query_id == 3)
        assert r3 == [(1, 1), (2, 2)]

    def test_recall_pinned_sf0001(self, spark):
        from aggo_spark import load_tables
        from aggo_spark.operators.similarity import (
            brute_force_topk, pq_encode, pq_topk, pq_train)

        emb = load_tables(
            spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
        emb.cache()
        books = pq_train(emb, m=16, k_codes=256, iters=15)
        codes = pq_encode(emb, books)
        a = {(r.query_id, r.neighbor_id)
             for r in pq_topk(codes, emb, books, k=10).collect()}
        e = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, emb, k=10).collect()}
        recall = len(a & e) / len(e)
        # measured 0.819 (docstring table); pin below with headroom
        assert recall >= 0.78

    def test_validation(self, spark):
        from aggo_spark import load_tables
        from aggo_spark.operators.similarity import pq_topk, pq_train

        emb = load_tables(
            spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
        with pytest.raises(ValueError, match="divisible"):
            pq_train(emb, m=7, k_codes=4)
        with pytest.raises(ValueError, match="training rows"):
            pq_train(emb, m=4, k_codes=1024)
        books = [[[0.0, 0.0], [1.0, 1.0]]]  # dim 2, m=1
        df = spark.createDataFrame(
            [(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="dim"):
            pq_topk(df.limit(0), emb.limit(5), books)
        with pytest.raises(ValueError, match="empty"):
            pq_topk(df, emb.limit(0), books)


    def test_null_embedding_rows_dropped(self, spark):
        from aggo_spark.operators.similarity import pq_encode

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>")
        books = [[[1.0], [0.0]], [[1.0], [0.0]]]
        got = {r.vec_id for r in pq_encode(df, books).collect()}
        assert got == {1, 3}  # the NULL-vector row has no codes

# marked slow (r14): excluded from the default driver gate, run with -m slow
@pytest.mark.slow
class TestIvfPq:
    """late r6: IVF-PQ composition — coarse-cell probe (scanned rows) on
    top of PQ codes (bytes per row), per-query probe masking."""

    def test_cell_assignment_and_probe_masking(self, spark):
        from aggo_spark.operators.similarity import ivf_pq_topk, pq_encode

        # two obvious clusters; cells = the cluster centers themselves
        rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]),
                (3, [0.0, 1.0]), (4, [0.1, 0.9])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        books = [[[1.0], [0.0]], [[1.0], [0.0]]]  # m=2, sub=1
        cents = [[1.0, 0.0], [0.0, 1.0]]
        codes = pq_encode(df, books, centroids=cents)
        by = {r.vec_id: r.cell for r in codes.collect()}
        assert by == {1: 0, 2: 0, 3: 1, 4: 1}
        # nprobe=1: each query only sees its own cell's members
        out = ivf_pq_topk(codes, df, books, cents, k=3, nprobe=1).collect()
        got = {(r.query_id, r.neighbor_id) for r in out}
        assert got == {(1, 2), (2, 1), (3, 4), (4, 3)}
        # nprobe=2 scans everything -> 3 neighbors each
        out2 = ivf_pq_topk(codes, df, books, cents, k=3, nprobe=2).collect()
        assert len(out2) == 4 * 3

    def test_full_probe_matches_pq_topk(self, spark):
        from aggo_spark import load_tables
        from aggo_spark.operators.similarity import (
            ivf_pq_topk, pq_encode, pq_topk, pq_train)

        emb = load_tables(
            spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
        emb.cache()
        books = pq_train(emb, m=8, k_codes=32, iters=8)
        cents = [[0.0] * 64]  # one cell: IVF layer is a no-op
        codes = pq_encode(emb, books, centroids=cents)
        q = emb.limit(25)
        a = {(r.query_id, r.neighbor_id, r.score, r.rank)
             for r in ivf_pq_topk(codes, q, books, cents, k=5, nprobe=1).collect()}
        b = {(r.query_id, r.neighbor_id, r.score, r.rank)
             for r in pq_topk(codes.drop("cell"), q, books, k=5).collect()}
        assert a == b

    def test_recall_pinned_sf0001(self, spark):
        from aggo_spark import load_tables
        from aggo_spark.operators.similarity import (
            _resolve_centroids, brute_force_topk, ivf_pq_topk, pq_encode,
            pq_train)

        emb = load_tables(
            spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
        emb.cache()
        books = pq_train(emb, m=16, k_codes=256, iters=15)
        cents = _resolve_centroids(emb, "embedding", 8, 42, 100_000, "kmeans")
        codes = pq_encode(emb, books, centroids=cents)
        codes.cache()
        a = {(r.query_id, r.neighbor_id)
             for r in ivf_pq_topk(codes, emb, books, cents, k=10, nprobe=4).collect()}
        e = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, emb, k=10).collect()}
        recall = len(a & e) / len(e)
        # measured 0.773 at ~4/8 scan (docstring table); pin with headroom
        assert recall >= 0.73

    def test_cell_filter_in_plan(self, spark):
        from aggo_spark.operators.similarity import ivf_pq_topk, pq_encode

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>")
        books = [[[1.0], [0.0]], [[1.0], [0.0]]]
        cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
        codes = pq_encode(df, books, centroids=cents)
        out = ivf_pq_topk(codes, df.limit(1), books, cents, k=2, nprobe=1)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # the probed-cell restriction must sit BELOW the ADC kernel (plans
        # print top-down, so its Filter line comes after "MapInPandas score";
        # a single probed cell folds isin -> equality, hence "cell#" not IN)
        kernel_at = plan.index("MapInPandas score")
        cell_filter_at = max(
            (plan.find(s) for s in ("Filter (isnotnull(cell", "Filter (cell")),
        )
        assert cell_filter_at > kernel_at

    def test_adc_table_closure_guard(self):
        from aggo_spark.operators.similarity import _check_table_bytes

        _check_table_bytes(1000, 16, 256)  # 32 MB: fine
        with pytest.raises(ValueError, match="Batch the queries"):
            _check_table_bytes(20_000_000, 16, 256)  # would be ~610 GB


class TestMinhashDecontaminate:
    """late r6: fuzzy train/test decontamination — MinHash-estimated
    Jaccard vs any benchmark doc, banded equi-join candidates."""

    def _data(self, spark):
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog near "
                   "the river bank today")],
            "doc_id long, text string")
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog near "
                 "the river bank today"),      # exact copy
             (2, "a quick brown fox jumps over the lazy dog near "
                 "the river bank yesterday"),  # light edit
             (3, "completely unrelated text about spark query planning"),
             (4, "")],                         # no shingles
            "doc_id long, text string")
        return corpus, bench

    def test_flags_and_estimates(self, spark):
        from aggo_spark.operators.dedup import minhash_decontaminate

        corpus, bench = self._data(spark)
        out = {r.doc_id: r for r in minhash_decontaminate(
            corpus, bench, k=2, threshold=0.8).collect()}
        assert out[1].max_est_jaccard == 1.0 and out[1].contaminated
        # light edit: high estimate but under the 0.8 flag threshold
        assert 0.3 < out[2].max_est_jaccard < 0.8 and not out[2].contaminated
        assert out[3].max_est_jaccard == 0.0 and not out[3].contaminated
        assert out[4].max_est_jaccard == 0.0  # empty text -> no signature

    def test_broadcast_and_shuffle_agree(self, spark):
        from aggo_spark.operators.dedup import minhash_decontaminate

        corpus, bench = self._data(spark)
        a = sorted(map(tuple, minhash_decontaminate(
            corpus, bench, k=2).collect()))
        b = sorted(map(tuple, minhash_decontaminate(
            corpus, bench, k=2, broadcast=False).collect()))
        assert a == b
        plan = minhash_decontaminate(corpus, bench, k=2)._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # benchmark side broadcast

    def test_validation(self, spark):
        from aggo_spark.operators.dedup import minhash_decontaminate

        corpus, bench = self._data(spark)
        with pytest.raises(ValueError, match="divide"):
            minhash_decontaminate(corpus, bench, num_perm=64, bands=7)


class TestQuantileThresholdFilter:
    """late r6: per-group score-percentile cut via a mergeable sketch
    aggregate + broadcast join (never a percent_rank window)."""

    def test_global_and_grouped_cut(self, spark):
        from aggo_spark.operators.sampling import quantile_threshold_filter

        rows = [(i, "a" if i < 10 else "b", float(i)) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, src string, score double")
        # the contract is "score >= the group's q-quantile" with Spark's
        # (element-valued) percentile_approx as the quantile definition —
        # assert against the independently computed threshold, not a
        # hand-pinned small-data cut
        thr = df.agg(
            F.percentile_approx("score", 0.75, 1000).alias("t")).first()["t"]
        top = quantile_threshold_filter(df, "score", keep_top=0.25)
        got = sorted(r.doc_id for r in top.collect())
        assert got == [i for i in range(20) if float(i) >= thr]
        assert 19 in got and 0 not in got and len(got) <= 7
        # per-source: each group of ten gets its own cut
        by = quantile_threshold_filter(df, "score", keep_top=0.3, by="src")
        per = sorted(r.doc_id for r in by.collect())
        n_a = sum(1 for i in per if i < 10)
        n_b = sum(1 for i in per if i >= 10)
        assert n_a == n_b  # identical score shape -> identical cut per group
        assert 9 in per and 19 in per and 0 not in per and 10 not in per

    def test_null_scores_and_null_groups(self, spark):
        from aggo_spark.operators.sampling import quantile_threshold_filter

        rows = [(1, "a", 1.0), (2, "a", 2.0), (3, "a", None),
                (4, None, 5.0), (5, None, 6.0)]
        df = spark.createDataFrame(rows, "doc_id long, src string, score double")
        out = quantile_threshold_filter(df, "score", keep_top=0.5, by="src")
        got = sorted(r.doc_id for r in out.collect())
        assert 3 not in got          # NULL score never passes
        assert 2 in got and 5 in got  # group maxima always pass
        assert 4 in got or 5 in got  # NULL group forms its own group

    def test_broadcast_plan_and_validation(self, spark):
        from aggo_spark.operators.sampling import quantile_threshold_filter

        df = spark.createDataFrame(
            [(1, "a", 1.0)], "doc_id long, src string, score double")
        plan = quantile_threshold_filter(df, "score", by="src")._jdf \
            .queryExecution().executedPlan().toString()
        assert "Broadcast" in plan and "Window" not in plan
        with pytest.raises(ValueError, match="keep_top"):
            quantile_threshold_filter(df, "score", keep_top=0.0)
        with pytest.raises(ValueError, match="relative_error"):
            quantile_threshold_filter(df, "score", relative_error=-0.001)


class TestResizeImages:
    """late r6: the brief's multimodal resize op — real pure-Python
    nearest-neighbor for PNG/BMP, PIL plug-in point, mapInPandas plumbing."""

    def test_resize_nearest_png_roundtrip(self):
        from aggo_spark.operators.multimodal import (
            encode_png, png_decode, py_pixels, resize_nearest)

        # 4x4 gradient; nearest 2x2 picks pixels (0,0),(0,2),(2,0),(2,2)
        src = encode_png(4, 4, lambda x, y: (x * 10, y * 10, 100))
        out = resize_nearest(src, 2, 2)
        meta = png_decode(out)
        assert (meta["width"], meta["height"], meta["channels"]) == (2, 2, 3)
        _, _, _, rows = py_pixels(out)
        assert rows == [
            [(0, 0, 100), (20, 0, 100)],
            [(0, 20, 100), (20, 20, 100)],
        ]

    def test_resize_bmp_and_gray_and_corrupt(self):
        from aggo_spark.operators.multimodal import (
            encode_bmp, py_pixels, resize_nearest)

        bmp = encode_bmp(3, 3, lambda x, y: (x * 20, y * 20, 7))
        out = resize_nearest(bmp, 1, 1)
        _, _, _, rows = py_pixels(out)
        assert rows == [[(0, 0, 7)]]  # nearest picks (0,0)
        assert resize_nearest(b"not an image", 2, 2) is None

    def test_upscale(self):
        from aggo_spark.operators.multimodal import (
            encode_png, py_pixels, resize_nearest)

        src = encode_png(1, 1, (9, 8, 7))
        _, _, _, rows = py_pixels(resize_nearest(src, 3, 2))
        assert rows == [[(9, 8, 7)] * 3] * 2

    def test_resize_images_dataframe(self, spark):
        from aggo_spark.operators.multimodal import (
            encode_png, png_decode, resize_images)

        blobs = [(1, bytearray(encode_png(4, 4, (1, 2, 3)))),
                 (2, bytearray(b"junk")), (3, None)]
        df = spark.createDataFrame(blobs, "doc_id long, content binary")
        out = resize_images(df, 2, 2)
        by = {r.doc_id: r.resized for r in out.collect()}
        assert png_decode(bytes(by[1]))["width"] == 2
        assert by[2] is None and by[3] is None
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # narrow, no shuffle

    def test_resizer_plugin_point(self, spark):
        from aggo_spark.operators.multimodal import resize_images

        df = spark.createDataFrame(
            [(1, bytearray(b"xx"))], "doc_id long, content binary")
        out = resize_images(
            df, 5, 5, resizer=lambda b, w, h: bytes([w, h]) + b)
        assert bytes(out.first().resized) == b"\x05\x05xx"
        with pytest.raises(ValueError, match="width"):
            resize_images(df, 0, 5)


class TestAudioMetadata:
    """late r6: audio multimodal column — real stdlib WAV chunk-walk
    metadata (the audio analogue of the JPEG header parse)."""

    def test_wav_roundtrip(self):
        from aggo_spark.operators.multimodal import encode_wav, wav_decode

        b = encode_wav(sample_rate=16000, channels=2, bits=16, n_frames=8000)
        m = wav_decode(b)
        assert (m["format"], m["sample_rate"], m["channels"],
                m["bits_per_sample"], m["n_frames"]) == \
               ("wav-pcm", 16000, 2, 16, 8000)
        assert m["duration_s"] == pytest.approx(0.5)

    def test_corrupt_and_non_wav(self):
        from aggo_spark.operators.multimodal import encode_wav, wav_decode

        assert wav_decode(b"junk bytes") is None
        assert wav_decode(b"RIFF\x00\x00\x00\x00WAVE") is None  # no fmt/data
        good = encode_wav(n_frames=10)
        assert wav_decode(good[:20]) is None  # truncated before data

    def test_dataframe_plumbing(self, spark):
        from aggo_spark.operators.multimodal import (
            decode_audio_metadata, encode_wav)

        rows = [(1, bytearray(encode_wav(8000, 1, 16, 4000))),
                (2, bytearray(b"not audio")), (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, content binary")
        out = decode_audio_metadata(df)
        by = {r.doc_id: r.audio_meta for r in out.collect()}
        assert by[1].sample_rate == 8000 and by[1].duration_s == 0.5
        assert by[2] is None and by[3] is None
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestVideoMetadata:
    """late r6: video multimodal column — real ISO-BMFF (MP4) box walk
    for brand/duration/dimensions, completing the image/audio/video trio."""

    def test_mp4_roundtrip(self):
        from aggo_spark.operators.multimodal import (
            encode_mp4_header, mp4_decode)

        b = encode_mp4_header(duration_s=2.5, width=1280, height=720)
        m = mp4_decode(b)
        assert (m["format"], m["brand"], m["duration_s"],
                m["width"], m["height"], m["n_tracks"]) == \
               ("mp4", "isom", 2.5, 1280, 720, 1)

    def test_corrupt_and_non_mp4(self):
        from aggo_spark.operators.multimodal import (
            encode_mp4_header, mp4_decode)

        assert mp4_decode(b"not a video at all") is None
        good = encode_mp4_header()
        assert mp4_decode(good[:16]) is None  # truncated before moov
        # malformed inner box size must terminate, not loop or crash
        bad = bytearray(good)
        bad[40] = 0xFF
        mp4_decode(bytes(bad))  # any result, but no hang/exception

    def test_dataframe_plumbing(self, spark):
        from aggo_spark.operators.multimodal import (
            decode_video_metadata, encode_mp4_header)

        rows = [(1, bytearray(encode_mp4_header(duration_s=1.25))),
                (2, bytearray(b"junk")), (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, content binary")
        out = decode_video_metadata(df)
        by = {r.doc_id: r.video_meta for r in out.collect()}
        assert by[1].duration_s == 1.25 and by[1].brand == "isom"
        assert by[2] is None and by[3] is None
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestContainerCodecFuzz:
    """Property-based round-trips for the pure-Python container codecs:
    whatever the synthesizers write, the parsers must read back exactly."""

    def test_wav_roundtrip_fuzz(self):
        from hypothesis import given, settings, strategies as st

        from aggo_spark.operators.multimodal import encode_wav, wav_decode

        @settings(max_examples=60, deadline=None)
        @given(rate=st.integers(8000, 192000),
               channels=st.integers(1, 8),
               bits=st.sampled_from([8, 16, 24, 32]),
               frames=st.integers(0, 2000))
        def check(rate, channels, bits, frames):
            m = wav_decode(encode_wav(rate, channels, bits, frames))
            assert (m["sample_rate"], m["channels"], m["bits_per_sample"],
                    m["n_frames"]) == (rate, channels, bits, frames)
            assert m["duration_s"] == pytest.approx(frames / rate, abs=1e-6)

        check()

    def test_mp4_roundtrip_fuzz(self):
        from hypothesis import given, settings, strategies as st

        from aggo_spark.operators.multimodal import (
            encode_mp4_header, mp4_decode)

        @settings(max_examples=60, deadline=None)
        @given(ts=st.integers(1, 90000),
               dur_ticks=st.integers(0, 10**7),
               w=st.integers(0, 8192), h=st.integers(0, 8192))
        def check(ts, dur_ticks, w, h):
            m = mp4_decode(encode_mp4_header(
                duration_s=dur_ticks / ts, width=w, height=h, timescale=ts))
            assert m["width"] == w and m["height"] == h
            assert m["duration_s"] == pytest.approx(dur_ticks / ts, abs=1e-5)

        check()

    def test_png_pixels_roundtrip_fuzz(self):
        from hypothesis import given, settings, strategies as st

        from aggo_spark.operators.multimodal import encode_png, py_pixels

        @settings(max_examples=25, deadline=None)
        @given(w=st.integers(1, 9), h=st.integers(1, 9),
               seed=st.integers(0, 2**31))
        def check(w, h, seed):
            def px(x, y):
                v = (seed + 31 * x + 97 * y) & 0xFFFFFF
                return (v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF)

            gw, gh, ch, rows = py_pixels(encode_png(w, h, px))
            assert (gw, gh, ch) == (w, h, 3)
            assert rows == [[px(x, y) for x in range(w)] for y in range(h)]

        check()


class TestRealBpe:
    """late r6: real learned BPE (Sennrich 2016) — distributed word-count
    training, hand-computed merges, Arrow-batched encode."""

    def test_hand_computed_merges(self, spark):
        from aggo_spark.operators.tokenize import train_bpe

        df = spark.createDataFrame(
            [(1, "aa aa ab")], "doc_id long, text string")
        # words: aa x2, ab x1. round 1: (a,</w>) and (a,a) both count 2,
        # lexicographic tie-break -> ['a', '</w>']; round 2: (a, 'a</w>')
        # count 2 -> merged; remaining pairs are singletons -> stop
        assert train_bpe(df, num_merges=10) == [
            ["a", "</w>"], ["a", "a</w>"]]

    def test_encode_and_stats(self, spark):
        from aggo_spark.operators.tokenize import (
            bpe_encode, bpe_token_stats, train_bpe)

        df = spark.createDataFrame(
            [(1, "aa aa ab"), (2, None)], "doc_id long, text string")
        merges = train_bpe(df, num_merges=10)
        enc = {r.doc_id: r.bpe_tokens
               for r in bpe_encode(df, merges).collect()}
        assert enc[1] == ["aa</w>", "aa</w>", "a", "b", "</w>"]
        assert enc[2] is None  # NULL text propagates
        st = {r.doc_id: r.n_bpe_real
              for r in bpe_token_stats(df, merges).collect()}
        assert st == {1: 5, 2: 0}

    def test_classic_lowest_example(self, spark):
        from aggo_spark.operators.tokenize import bpe_encode, train_bpe

        df = spark.createDataFrame(
            [(1, "low low low low low"), (2, "lower lower"),
             (3, "newest newest newest newest newest newest"),
             (4, "widest widest widest")],
            "doc_id long, text string")
        merges = train_bpe(df, num_merges=10)
        enc = {r.doc_id: r.bpe_tokens
               for r in bpe_encode(df, merges).collect()}
        # the dominant word fuses to a single token; rarer words stay
        # partially segmented (the Sennrich running example)
        assert enc[3] == ["newest</w>"] * 6
        assert all(t in ("low", "e", "r", "</w>", "lower</w>")
                   for t in enc[2])

    def test_deterministic_and_narrow(self, spark):
        from aggo_spark import load_tables
        from aggo_spark.operators.tokenize import bpe_encode, train_bpe

        docs = load_tables(
            spark, "/root/testdata/sf0.001", ["documents"])["documents"]
        a = train_bpe(docs, num_merges=40)
        b = train_bpe(docs, num_merges=40)
        assert a == b  # exact counts + lexicographic ties -> reproducible
        plan = bpe_encode(docs, a)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan  # encode never shuffles

    def test_empty_corpus_raises(self, spark):
        from aggo_spark.operators.tokenize import train_bpe

        df = spark.createDataFrame([], "doc_id long, text string")
        with pytest.raises(ValueError, match="no tokens"):
            train_bpe(df)
