"""Seeded input generation for the benchmark.

Everything the engine reads during a run is written here from ``--seed``
alone: the same seed gives byte-identical files.

- ``write_tables`` writes the ten-table star schema (TPC-H-ish tables plus
  ``documents``, ``embeddings`` and ``events``) that the registry queries
  read, one single-row-group parquet file per table, with the column
  names, types and value domains of the engine's sf fixtures.
- ``zipf_corpus`` / ``write_corpus`` build the MapReduce text corpus: lines
  of words drawn from a Zipf(1.1) law over a fixed vocabulary. The token
  ids are kept so the compat jobs can be checked without re-tokenising.
- ``write_lineitem_csv`` exports ``lineitem`` as the headerless CSV the
  reference's ``table`` mode reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["hot", "large", "cold", "blue", "old", "red", "small", "new"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table), so adding a table
    never shifts another table's draws."""
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx].tolist(), pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 100, n)
    ]
    # ~5% near-duplicates: another document's text plus a marker token.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * _US_PER_DAY / n, n).astype(np.int64) + 1
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def lineitem_table(seed: int, sf: float) -> pa.Table:
    """Line items with uniform keys into orders, part and supplier at
    ``sf``; (l_orderkey, l_linenumber) is not unique, as in the fixtures."""
    n_supp, n_part = int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    r = _rng(seed, "lineitem")
    return pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(r, ["R", "A", "N"], n_li),
            "l_linestatus": _pick(r, ["F", "O"], n_li),
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_li),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (row counts as the engine's
    fixtures: lineitem = 6M x sf, documents and embeddings floored at 500)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = _rng(seed, "part")
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = lineitem_table(seed, sf)
    t["documents"] = _documents(_rng(seed, "documents"), max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(
        _rng(seed, "embeddings"), max(500, int(20_000 * sf))
    )
    t["events"] = _events(
        _rng(seed, "events"), int(1_000_000 * sf), max(15, int(15_000 * sf))
    )
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total


@dataclass
class Corpus:
    """A Zipf text corpus: ``words[tokens[i]]`` is the i-th token and
    ``line_of[i]`` the line it sits on."""

    words: list[str]
    tokens: np.ndarray
    line_of: np.ndarray
    n_lines: int


def zipf_corpus(
    seed: int, n_tokens: int, vocab: int = 100_000, s: float = 1.1
) -> Corpus:
    rng = _rng(seed, "corpus")
    # Distinct pseudo-words: a seeded base-26 spelling of each rank.
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    perm = rng.permutation(26)
    words = []
    for i in range(vocab):
        w, n = [], i + 26
        while n:
            n, d = divmod(n, 26)
            w.append(letters[perm[d]])
        words.append(bytes(w).decode())
    p = np.arange(1, vocab + 1, dtype=np.float64) ** -s
    tokens = rng.choice(vocab, n_tokens, p=p / p.sum()).astype(np.int32)
    lengths = rng.integers(4, 25, n_tokens // 4 + 1)
    ends = np.cumsum(lengths)
    n_lines = int(np.searchsorted(ends, n_tokens)) + 1
    line_of = np.repeat(np.arange(n_lines), lengths[:n_lines])[:n_tokens]
    return Corpus(words, tokens, line_of, n_lines)


def write_corpus(corpus: Corpus, path: str) -> int:
    """One line per document, words separated by single spaces."""
    w = np.asarray(corpus.words, dtype=object)[corpus.tokens]
    bounds = np.flatnonzero(np.diff(corpus.line_of)) + 1
    with open(path, "w") as f:
        for line in np.split(w, bounds):
            f.write(" ".join(line))
            f.write("\n")
    return os.path.getsize(path)


def write_lineitem_csv(lineitem: pa.Table, path: str) -> int:
    """Headerless CSV of (l_orderkey, l_partkey, l_suppkey, l_quantity)."""
    cols = [lineitem.column(c).to_numpy() for c in
            ("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")]
    cols[3] = cols[3].astype(np.int64)
    np.savetxt(path, np.column_stack(cols), fmt="%d", delimiter=",")
    return os.path.getsize(path)
