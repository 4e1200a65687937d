"""Incremental connected-components / cluster maintenance (r9-verdict
#3): `maintain_clusters` keeps near-dup cluster membership for a live
StreamingCollection without re-running batch CC over the corpus.

Pinned here:
- equality with batch CC (minhash_lsh_pairs → connected_components over
  the live rows) after every kind of mutation;
- merge: a new doc bridging two existing clusters collapses them;
- split (retraction): removing a bridge doc splits its component;
- cluster_probe answers "which cluster would this doc join" without
  mutating, and the corpus is never re-signatured (band-table probe);
- delta-bounded maintenance (streaming input rows = the delta).
"""
import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)

from aggo_spark.streaming.core import StreamingCollection

# marked slow (r14): excluded from the default driver gate, run with -m slow
pytestmark = pytest.mark.slow


# word-3-gram minhash params shared by state + batch oracle; threshold
# 0.2 sits 4σ under the designed ~0.45 true Jaccard of adjacent fixture
# docs and far above the ~0 of non-adjacent ones
PARAMS = dict(num_perm=64, bands=16, shingle_k=3, unit="word",
              hash_fn="xxhash64", threshold=0.2)

S1 = "alpha beta gamma delta epsilon zeta eta theta " * 3
S2 = "one two three four five six seven eight " * 3
S3 = "red orange yellow green blue indigo violet umber " * 3


def _doc(i, text):
    return {"doc_id": i, "text": text}


def _batch_cc(spark, live_rows):
    """Oracle: batch LSH pairs + connected components over the live
    docs, with the same parameters the maintained state uses."""
    from aggo_spark.operators import dedup

    if not live_rows:
        return {}
    df = spark.createDataFrame(live_rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df, num_perm=PARAMS["num_perm"], bands=PARAMS["bands"],
        k=PARAMS["shingle_k"], threshold=PARAMS["threshold"],
        unit=PARAMS["unit"], hash_fn=PARAMS["hash_fn"])
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    return {r["id"]: r["component"] for r in cc.collect()}


def _state(coll, rid):
    return {r["id"]: r["label"]
            for r in coll.clusters_df(rid).collect()}


def _assert_matches_batch(spark, coll, rid, live_rows):
    """Maintained labels == batch CC labels; maintained singletons
    (docs with shingles but no edges) label themselves."""
    got = _state(coll, rid)
    oracle = _batch_cc(spark, live_rows)
    live_ids = {r[0] for r in live_rows if r[1]}
    assert {i: l for i, l in got.items() if i in oracle} == oracle
    for i in live_ids - set(oracle):
        assert got.get(i, i) == i  # singleton: self (row optional)


class TestIncrementalClusters:
    def test_add_merge_remove_split_equals_batch(self, spark, tmp_path):
        coll = StreamingCollection(
            spark, "doc_id long, text string", workdir=str(tmp_path))
        try:
            rid = coll.maintain_clusters(
                str(tmp_path / "clu"), compact_every=100, **PARAMS)
            live = []

            def add(i, t):
                coll.add(_doc(i, t))
                live.append((i, t))

            def rm(i):
                t = dict(live)[i]
                coll.remove(_doc(i, t))
                live.remove((i, t))

            # two independent near-dup pairs + a singleton
            add(1, S1)
            add(2, S1 + "tail word here")
            add(5, S2)
            add(6, S2 + "extra trailing words")
            add(9, S3)
            _assert_matches_batch(spark, coll, rid, live)
            st = _state(coll, rid)
            assert st[1] == st[2] == 1 and st[5] == st[6] == 5
            assert st.get(9, 9) == 9

            # MERGE: a bridge doc spanning S1 and S2 unifies clusters
            add(3, S1 + " " + S2)
            _assert_matches_batch(spark, coll, rid, live)
            st = _state(coll, rid)
            assert st[1] == st[2] == st[3] == st[5] == st[6] == 1

            # SPLIT: retracting the bridge separates them again
            rm(3)
            _assert_matches_batch(spark, coll, rid, live)
            st = _state(coll, rid)
            assert st[1] == st[2] == 1
            assert st[5] == st[6] == 5
            assert 3 not in st  # retraction netted the rows out

            # removing a member entirely drops it from the state
            rm(2)
            _assert_matches_batch(spark, coll, rid, live)
            assert 2 not in _state(coll, rid)
        finally:
            coll.stop()

    def test_edit_moves_doc_between_clusters(self, spark, tmp_path):
        """remove+add of the SAME id with new content must re-home it —
        the old component loses its edges, the new one gains them."""
        coll = StreamingCollection(
            spark, "doc_id long, text string", workdir=str(tmp_path))
        try:
            rid = coll.maintain_clusters(
                str(tmp_path / "clu2"), compact_every=100, **PARAMS)
            coll.add(_doc(1, S1))
            coll.add(_doc(2, S1 + "small suffix"))
            coll.add(_doc(5, S2))
            coll.remove(_doc(2, S1 + "small suffix"))
            coll.add(_doc(2, S2 + "other suffix"))
            st = _state(coll, rid)
            assert st.get(1, 1) == 1          # now alone
            assert st[2] == st[5] == 2        # min id of the new pair
            live = [(1, S1), (5, S2), (2, S2 + "other suffix")]
            _assert_matches_batch(spark, coll, rid, live)
        finally:
            coll.stop()

    def test_cluster_probe_is_readonly_and_correct(self, spark, tmp_path):
        coll = StreamingCollection(
            spark, "doc_id long, text string", workdir=str(tmp_path))
        try:
            rid = coll.maintain_clusters(
                str(tmp_path / "clu3"), compact_every=100, **PARAMS)
            coll.add(_doc(1, S1))
            coll.add(_doc(2, S1 + "tail"))
            coll.add(_doc(7, S3))
            before = _state(coll, rid)
            q = spark.createDataFrame(
                [(100, S1 + "another tail"), (101, S2)],
                "doc_id long, text string")
            got = {r["query_id"]: r["cluster"]
                   for r in coll.cluster_probe(rid, q).collect()}
            assert got == {100: 1}   # 101 would be a new singleton
            assert _state(coll, rid) == before  # probe mutated nothing
        finally:
            coll.stop()

    def test_maintenance_is_delta_bounded(self, spark, tmp_path):
        """The maintenance query consumes ONLY the delta (streaming
        input metrics), and label updates append rather than rewrite:
        an add touching nothing leaves other clusters' rows alone."""
        coll = StreamingCollection(
            spark, "doc_id long, text string", workdir=str(tmp_path))
        try:
            rid = coll.maintain_clusters(
                str(tmp_path / "clu4"), compact_every=100, **PARAMS)
            for i in range(1, 5):
                coll.add(_doc(i, f"{S1} unique suffix {i}"))
            lpath = coll._clusters[rid]["labels"].path
            n_rows_before = spark.read.parquet(lpath).count()
            coll.add(_doc(50, S3))
            prog = coll._queries[rid].lastProgress
            # file-source numInputRows is approximate (spool coalescing
            # can fold an adjacent delta in); a full reprocess would
            # report >= the 5-doc corpus
            assert prog is not None and prog["numInputRows"] <= 2
            # the unrelated singleton appended exactly one label row
            assert spark.read.parquet(lpath).count() == n_rows_before + 1
        finally:
            coll.stop()

    def test_label_compaction_nets_changelog(self, spark, tmp_path):
        """Label rewrites net out at compaction like every signed
        changelog (generation swap, bounded retired dirs)."""
        coll = StreamingCollection(
            spark, "doc_id long, text string", workdir=str(tmp_path))
        try:
            rid = coll.maintain_clusters(
                str(tmp_path / "clu5"), compact_every=2, **PARAMS)
            coll.add(_doc(3, S1))
            coll.add(_doc(1, S1 + "tail"))   # merges, relabels 3 -> 1
            coll.add(_doc(8, S2))
            labels = coll._clusters[rid]["labels"]
            comp_path = labels.path
            assert comp_path != labels.base  # compaction repointed
            raw = spark.read.parquet(comp_path)
            # compacted: net-positive rows only, one per live doc
            assert raw.filter(F.col("sign") <= 0).count() == 0
            assert raw.count() == 3
            st = _state(coll, rid)
            assert st == {1: 1, 3: 1, 8: 8}
        finally:
            coll.stop()

    def test_bulk_backfill_no_literal_id_lists(self, spark, tmp_path,
                                               monkeypatch):
        """r11 (verdict next #5): an add_bulk backfill must not push
        collected delta-id lists into isin literals — the id sets travel
        as semi-/anti-joins, and union-find remaps above
        _REMAP_LITERAL_MAX ship as a joined local relation. Guard: any
        Column.isin call with > 64 literal values during maintenance
        fails the test (the old code built b_neg/b_pos/aff lists, 300
        ids here; the first r11 cut pushed ~150 remap keys). The guard
        patches the CLASSIC Column class (r11 review: patching
        pyspark.sql.column.Column was inert on 4.x, where real columns
        are pyspark.sql.classic.column.Column) and self-checks that it
        actually intercepts before anything runs. Equality with batch CC
        must hold after the bulk add AND after a bulk retraction (split
        path)."""
        try:
            import pyspark.sql.classic.column as _col_mod
        except ImportError:  # pre-4.x layout
            import pyspark.sql.column as _col_mod
        from pyspark.sql import functions as F_

        from aggo_spark.streaming.core import _REMAP_LITERAL_MAX

        orig = _col_mod.Column.isin
        seen = []

        def guarded(self, *args):
            vals = (args[0] if len(args) == 1
                    and isinstance(args[0], (list, tuple, set))
                    else args)
            seen.append(len(vals))
            # pin to the implementation's own literal bound so raising
            # or lowering _REMAP_LITERAL_MAX cannot desynchronize the
            # guard (r11 review)
            assert len(vals) <= _REMAP_LITERAL_MAX, (
                f"literal isin with {len(vals)} values on the backfill "
                "path — delta id sets must semi-join")
            return orig(self, *args)

        monkeypatch.setattr(_col_mod.Column, "isin", guarded)
        # the guard must actually intercept real Column.isin calls —
        # an inert patch would make every assertion below vacuous
        F_.col("x").isin([1, 2, 3])
        assert seen == [3], "isin guard is not intercepting"
        coll = StreamingCollection(
            spark, "doc_id long, text string", workdir=str(tmp_path))
        try:
            rid = coll.maintain_clusters(
                str(tmp_path / "clu6"), compact_every=1000, **PARAMS)
            live = []
            docs = []
            for i in range(1, 301):
                # pairs (2k-1, 2k) share a per-pair-unique vocabulary:
                # each pair clusters, different pairs never match
                j = (i + 1) // 2
                t = " ".join(f"tok{j}x{k}" for k in range(12)) * 2
                docs.append(_doc(i, t))
                live.append((i, t))
            coll.add_bulk(docs)
            _assert_matches_batch(spark, coll, rid, live)
            st = _state(coll, rid)
            assert st[1] == st[2] == 1 and st[299] == st[300] == 299

            # bulk retraction of one member of the first 40 pairs: the
            # partner re-singletons (split path at bulk size)
            gone = [i for i in range(1, 81) if i % 2 == 0]
            by_id = dict(live)
            coll.remove([_doc(i, by_id[i]) for i in gone])
            live = [(i, t) for i, t in live if i not in set(gone)]
            _assert_matches_batch(spark, coll, rid, live)
        finally:
            coll.stop()
