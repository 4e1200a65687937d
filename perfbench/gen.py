"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from ``--seed``, so
a change under ``tools/`` or in the program's own fixtures cannot move the
inputs. Two kinds of input:

- ``write_tables``: a TPC-H-shaped world (region, nation, customer,
  supplier, part, orders, lineitem, events, embeddings) at the sf0.1 row
  counts, for the ``interactive`` workload.
- ``write_shard``: one documents shard for the ``curation`` workload, with
  seeded exact duplicates and near-duplicate families so every dedup query
  (q30/q31/q32/q33) has pairs to find.

The vocabulary is a constant of this file, not of the program: the seed
picks which words a document gets, never which words exist.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.1 world the queries were written against
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "search", "share", "logout"]
SOURCES = [f"src{i}" for i in range(20)]

LANGS = ["en", "fr", "es", "de", "zh"]
LANG_WEIGHTS = [0.45, 0.15, 0.15, 0.15, 0.10]

# the sf0.1 make-up the registry queries were written against: texts over
# a 32-word vocabulary. Each word has only two possible successors, so
# nearly every char 5-gram of ordinary text, within a word or across a
# space, sits above the dedup queries' document-frequency cap of 100 even
# in a 1000-document shard, and q31's pairs come from the seeded families
# and exact duplicates
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch", "index", "shard", "the", "a",
]
_NEXT = np.random.default_rng(2024).integers(0, len(VOCAB), (len(VOCAB), 2))


def _rand_word(rng: np.random.Generator) -> str:
    """A word no other document has: keeps a family's char 5-grams under
    the dedup queries' document-frequency cap."""
    return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 9))


_VOCAB_ARR = np.array(VOCAB, dtype=object)
_LANG_ARR = np.array(LANGS, dtype=object)


def documents(seed: int, n: int, id_base: int = 0) -> pa.Table:
    """``n`` documents with (doc_id, text, lang, source, n_chars).

    Make-up: 8 to 112 words a document, walked along the two-successor
    chain over ``VOCAB``; ``lang`` is a label drawn with ``LANG_WEIGHTS``
    (the text does not depend on it, as in sf0.1). On top of that, 1% of
    documents are exact duplicates (an earlier text, upper-cased or with
    trailing spaces) and 9% sit in near-duplicate families of 3. A
    family shares a base text of at least 40 words, 70% of them 9-letter
    words found in no other document; members differ from the base by 1
    or 2 substituted words, close enough for char-5 Jaccard >= 0.5,
    MinHash banding and SimHash hamming <= 3.
    """
    rng = np.random.default_rng([seed, n, id_base])
    langs = rng.choice(len(LANGS), n, p=LANG_WEIGHTS)
    lengths = rng.integers(8, 113, n)
    # exact counts, so every shard of a size carries the same amount of
    # duplicate work: families start at distinct multiples of 3, exact
    # duplicates sit at distinct other positions after the first 51
    family = np.zeros(n, dtype=bool)
    n_fam = n * 3 // 100
    family[3 * rng.choice(n // 3, n_fam, replace=False)] = True
    covered = family | np.roll(family, 1) | np.roll(family, 2)
    dup = np.zeros(n, dtype=bool)
    free = np.flatnonzero(~covered[51:]) + 51
    dup[rng.choice(free, n // 100, replace=False)] = True
    upper = rng.random(n) < 0.5
    lengths[family] = np.maximum(lengths[family], 40)
    steps = rng.integers(0, 2, int(lengths.sum()))
    starts = rng.integers(0, len(VOCAB), n)
    texts: list[str] = [""] * n
    pos = 0
    i = 0
    while i < n:
        idx = np.empty(lengths[i], dtype=np.int64)
        idx[0] = starts[i]
        for j in range(1, lengths[i]):
            idx[j] = _NEXT[idx[j - 1], steps[pos + j]]
        pos += lengths[i]
        w = list(_VOCAB_ARR[idx])
        if family[i]:
            for k in np.flatnonzero(rng.random(len(w)) < 0.7):
                w[k] = _rand_word(rng)
            for k in range(3):
                member = list(w)
                if k:
                    for m in rng.choice(len(member), int(rng.integers(1, 3)),
                                        replace=False):
                        member[m] = VOCAB[int(rng.integers(len(VOCAB)))]
                texts[i + k] = " ".join(member)
                langs[i + k] = langs[i]
            i += 3
            continue
        if dup[i]:
            src = texts[int(rng.integers(i))]
            texts[i] = src.upper() if upper[i] else src + "  "
        else:
            texts[i] = " ".join(w)
        i += 1
    return pa.table({
        "doc_id": np.arange(id_base, id_base + n, dtype=np.int64),
        "text": texts,
        "lang": _LANG_ARR[langs].tolist(),
        "source": [SOURCES[j % len(SOURCES)] for j in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_shard(path: str, seed: int, n_docs: int, id_base: int = 0) -> None:
    """One curation shard: ``<path>/documents.parquet``, 4 row groups so a
    plain parquet scan splits across 4 tasks."""
    os.makedirs(path, exist_ok=True)
    t = documents(seed, n_docs, id_base)
    pq.write_table(t, os.path.join(path, "documents.parquet"),
                   row_group_size=max(1, -(-n_docs // 4)))


def _dates(rng, n, start=dt.date(1992, 1, 1), days=2400) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def write_tables(path: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """The interactive workload's world under ``path``; returns row counts.
    ``scale`` multiplies the sf0.1 row counts (1.0 = sf0.1)."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    rows = {k: max(1, int(v * scale)) for k, v in SF01_ROWS.items()}
    n_c, n_o, n_l, n_e = (rows["customer"], rows["orders"], rows["lineitem"],
                          rows["events"])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int64), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int64), "n_name": NATIONS,
        "n_regionkey": np.arange(25, dtype=np.int64) % 5})
    out["customer"] = pa.table({
        "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(1, n_c + 1)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int64),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_c)],
    })
    n_s, n_p, n_v = rows["supplier"], rows["part"], rows["embeddings"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(1, n_s + 1, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(1, n_s + 1)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int64),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(1, n_p + 1, dtype=np.int64),
        "p_name": [f"part {VOCAB[k % len(VOCAB)]} {k}" for k in range(1, n_p + 1)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(11, 56, n_p)],
        "p_type": [f"TYPE{j}" for j in rng.integers(0, 150, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int64),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n_p), 2),
    })
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0.0, 0.09, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.09, (n_v, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    o_dates = _dates(rng, n_o)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_c + 1, n_o).astype(np.int64),
        "o_orderstatus": [ORDER_STATUS[j] for j in rng.choice(3, n_o, p=[.49, .49, .02])],
        "o_totalprice": np.round(rng.gamma(2.0, 75_000.0, n_o) + 850.0, 2),
        "o_orderdate": o_dates,
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_o)],
    })
    l_order = np.sort(rng.integers(1, n_o + 1, n_l)).astype(np.int64)
    line_no = np.ones(n_l, dtype=np.int64)
    same = np.r_[False, l_order[1:] == l_order[:-1]]
    run = np.cumsum(~same)
    starts = np.flatnonzero(~same)
    line_no = np.arange(n_l) - starts[run - 1] + 1
    ship = o_dates[l_order - 1] + rng.integers(1, 122, n_l).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, 20_001, n_l).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_l).astype(np.int64),
        "l_linenumber": line_no.astype(np.int64),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
        "l_shipdate": ship,
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "ms")
    users = rng.integers(0, max(1, n_e // 60), n_e)
    out["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts0 + np.sort(rng.integers(0, 30 * 86_400_000, n_e)).astype("timedelta64[ms]"),
        "user_id": users.astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n_e)],
        "value": np.round(rng.exponential(20.0, n_e), 2),
    })
    for name, t in out.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"),
                       row_group_size=max(1, -(-t.num_rows // 4)))
    return {k: t.num_rows for k, t in out.items()}
