"""``curation``: registry curation queries over fresh document shards.

Each operation builds one registry query (``__spark_entry__.queries()``)
over a shard directory the process has never seen and writes the result to
parquet, as a curation job would: the query's own ``load_tables`` call,
its build-time Spark jobs and an uncached parquet scan are all paid again.
After the timed phase every written result is read back and compared with
DuckDB over the same shard file.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen
from common import EmptyResult, Op, compare_rows, duck_rows, duckdb_over

# q30: exact dedup; q31: near-duplicate pairs by exact char-5 Jaccard
# under a df cap, the largest execution cost of the registry at scale; q71:
# selection + DSIR + classifier, whose build fires Spark jobs of its own
QUERIES = ["q30_dedup_exact", "q31_dedup_jaccard", "q71_token_budget"]
MUST_FIND = {"q30_dedup_exact", "q31_dedup_jaccard"}
SHARD_DOCS = 1_000
WARMUP_DOCS = 200

_NORM = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', "
         "'g'), ' +', ' ', 'g'))")
# q31's registry oracle builds its shingle lists with a per-element lambda,
# which DuckDB runs ~15x slower than this unnest form of the same algorithm
# (distinct char 5-grams, df <= 100 cap, Jaccard over the full set sizes);
# both return identical rows on the shards this file generates
Q31_SQL = f"""
WITH d AS (SELECT doc_id AS id, {_NORM} AS n FROM documents),
p AS (SELECT id, n, unnest(range(1, greatest(len(n) - 4, 0) + 1)) AS i FROM d),
ex AS (SELECT DISTINCT id, substr(n, i, 5) AS s FROM p),
nsh AS (SELECT id, count(*) AS n_sh FROM ex GROUP BY id),
rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100),
f AS (SELECT ex.id, ex.s, nsh.n_sh FROM ex JOIN rare USING (s) JOIN nsh USING (id)),
pairs AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
                 count(*) AS common
          FROM f a JOIN f b USING (s) WHERE a.id < b.id GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) AS jaccard
FROM pairs WHERE round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) >= 0.5
"""


class Curation:
    name = "curation"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.done: list[tuple[str, str]] = []  # (query, shard dir)
        self._n = 0

    def setup(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracle = __spark_entry__.oracle_sql()
        self.stub = self.ctx.path("stub")

    @staticmethod
    def generate(seed: int, work: str) -> None:
        """The nine other tables every registry query's load_tables opens:
        tiny, written once and hard-linked into every shard."""
        stub = os.path.join(work, "stub")
        gen.write_tables(stub, seed, scale=0.001)

    def _shard(self, n_docs: int) -> str:
        self._n += 1
        path = self.ctx.path(f"shard-{self._n:04d}")
        gen.write_shard(path, self.ctx.seed, n_docs, id_base=self._n * 10_000_000)
        for f in os.listdir(self.stub):
            os.link(os.path.join(self.stub, f), os.path.join(path, f))
        return path

    def warmup_ops(self) -> list[Op]:
        return [self._op(q, self._shard(WARMUP_DOCS), keep=False) for q in QUERIES]

    def round_ops(self, r: int) -> list[Op]:
        # each query twice, every operation on a shard of its own
        return [self._op(q, self._shard(SHARD_DOCS), keep=True)
                for q in QUERIES + QUERIES]

    def _op(self, query: str, shard: str, keep: bool) -> Op:
        ctx = self.ctx
        n_docs = pq.read_metadata(os.path.join(shard, "documents.parquet")).num_rows

        def run(op_id: int) -> int:
            with ctx.tracer.span("operators.build", op=op_id):
                df = self.queries[query](ctx.spark, shard)
            with ctx.tracer.span("spark.exec", op=op_id):
                df.write.parquet(os.path.join(shard, "out"))
            if keep:
                self.done.append((query, shard))
            if query in MUST_FIND and _rows_written(shard) == 0:
                raise EmptyResult(f"{query} found nothing in {shard}")
            return n_docs

        return Op(query, run)

    def check(self) -> list[str]:
        errors = []
        for query, shard in self.done:
            con = duckdb_over(shard, ["documents"])
            expected = duck_rows(con, Q31_SQL if query == "q31_dedup_jaccard"
                                 else self.oracle[query])
            got = duck_rows(con, "SELECT * FROM read_parquet("
                                 f"'{os.path.join(shard, 'out')}/*.parquet')")
            con.close()
            err = compare_rows(expected, got, ordered=False)
            if err:
                errors.append(f"{query} on {os.path.basename(shard)}: {err}")
        return errors


def _rows_written(shard: str) -> int:
    out = os.path.join(shard, "out")
    return sum(pq.read_metadata(os.path.join(out, f)).num_rows
               for f in os.listdir(out) if f.endswith(".parquet"))
