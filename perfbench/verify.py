"""Expected outputs, computed independently of the engine.

Registry queries are checked against their DuckDB oracle
(``registry.ORACLES``) over the same generated files, with the engine's
own order-insensitive row fingerprint. Compat jobs are checked against
NumPy computations over the generated token ids and CSV columns.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Expected:
    cols: tuple[str, ...]
    n_rows: int
    digest: str


def digest(rows: list[dict], cols: list[str]) -> Expected:
    from simplemapreduceframework_spark.testing import fingerprint

    cols = sorted(cols)
    h = hashlib.sha256()
    for line in fingerprint(rows, cols):
        h.update(line.encode())
        h.update(b"\n")
    return Expected(tuple(cols), len(rows), h.hexdigest())


def mismatch(expected: Expected, rows: list[dict], cols: list[str]) -> str | None:
    """None when the rows hash like the oracle's, else what differs."""
    got = digest(rows, cols)
    if got.cols != expected.cols:
        return f"columns {got.cols} != {expected.cols}"
    if got.n_rows != expected.n_rows:
        return f"{got.n_rows} rows != {expected.n_rows}"
    if got.digest != expected.digest:
        return "row values differ"
    return None


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, Expected]:
    """Run each query's DuckDB oracle over ``data_dir``."""
    from simplemapreduceframework_spark import registry
    from simplemapreduceframework_spark.testing import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        out = {}
        for name in names:
            cur = con.execute(registry.ORACLES[name])
            cols = [d[0] for d in cur.description]
            out[name] = digest([dict(zip(cols, r)) for r in cur.fetchall()], cols)
        return out
    finally:
        con.close()


def wordcount_expected(words: list[str], tokens: np.ndarray) -> dict[str, int]:
    counts = np.bincount(tokens, minlength=len(words))
    return {words[i]: int(counts[i]) for i in np.flatnonzero(counts)}


def docfreq_expected(
    words: list[str], tokens: np.ndarray, line_of: np.ndarray
) -> dict[str, tuple[int, int]]:
    """Per word: (documents containing it, upper-median in-document
    count), a documents = lines."""
    pair = line_of.astype(np.int64) * len(words) + tokens
    uniq, tf = np.unique(pair, return_counts=True)
    word = uniq % len(words)
    order = np.lexsort((tf, word))
    word, tf = word[order], tf[order]
    ids, start, df = np.unique(word, return_index=True, return_counts=True)
    med = tf[start + df // 2]
    return {words[w]: (int(d), int(m)) for w, d, m in zip(ids, df, med)}


def grouped_avg_expected(keys: np.ndarray, values: np.ndarray) -> dict[str, float]:
    """AVG(value) GROUP BY key, as the job's reducer divides: exact
    integer sum over integer count."""
    counts = np.bincount(keys)
    totals = np.bincount(keys, weights=values)
    return {str(k): int(totals[k]) / int(counts[k]) for k in np.flatnonzero(counts)}


def pairs_mismatch(expected: dict, result: list[tuple]) -> str | None:
    got = dict(result)
    if len(got) != len(result):
        return "duplicate keys in result"
    if len(got) != len(expected):
        return f"{len(got)} keys != {len(expected)}"
    bad = [k for k, v in expected.items() if got.get(k) != v]
    if bad:
        return f"{len(bad)} keys differ, e.g. {bad[0]!r}: {got.get(bad[0])!r} != {expected[bad[0]]!r}"
    return None
