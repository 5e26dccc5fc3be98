from collections import Counter

import numpy as np

import datagen
import verify


ROWS = [
    {"grp": "a", "n": 3, "avg": 1.5},
    {"grp": "b", "n": 1, "avg": None},
    {"grp": "c", "n": 7, "avg": 0.1 + 0.2},
]


def test_digest_matches_any_row_and_column_order():
    exp = verify.digest(ROWS, ["grp", "n", "avg"])
    shuffled = [dict(reversed(list(r.items()))) for r in reversed(ROWS)]
    assert verify.mismatch(exp, shuffled, ["avg", "n", "grp"]) is None


def test_digest_catches_a_wrong_row():
    exp = verify.digest(ROWS, ["grp", "n", "avg"])
    wrong = [dict(r) for r in ROWS]
    wrong[2]["avg"] = 0.3  # off in the last bit only
    assert verify.mismatch(exp, wrong, ["grp", "n", "avg"]) == "row values differ"
    assert verify.mismatch(exp, ROWS[:2], ["grp", "n", "avg"]).startswith("2 rows")
    assert verify.mismatch(exp, ROWS, ["grp", "n"]).startswith("columns")


def _lines(c):
    return [
        [c.words[t] for t in c.tokens[c.line_of == i]] for i in range(c.n_lines)
    ]


def test_compat_oracles_agree_with_plain_python():
    c = datagen.zipf_corpus(4, 3_000, vocab=200)
    lines = _lines(c)
    wc = Counter(w for line in lines for w in line)
    assert verify.wordcount_expected(c.words, c.tokens) == dict(wc)
    tfs: dict[str, list[int]] = {}
    for line in lines:
        for w, n in Counter(line).items():
            tfs.setdefault(w, []).append(n)
    ref = {w: (len(v), sorted(v)[len(v) // 2]) for w, v in tfs.items()}
    assert verify.docfreq_expected(c.words, c.tokens, c.line_of) == ref
    keys, vals = np.array([3, 1, 3, 3]), np.array([1, 4, 2, 2])
    assert verify.grouped_avg_expected(keys, vals) == {"1": 4.0, "3": 5 / 3}


def test_pairs_mismatch():
    assert verify.pairs_mismatch({"a": 1}, [("a", 1)]) is None
    assert verify.pairs_mismatch({"a": 1}, [("a", 2)]).startswith("1 keys differ")
    assert verify.pairs_mismatch({"a": 1}, [("a", 1), ("a", 1)]) == "duplicate keys in result"
    assert verify.pairs_mismatch({"a": 1, "b": 2}, [("a", 1)]) == "1 keys != 2"
