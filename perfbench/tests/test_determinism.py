import filecmp
import os

import numpy as np

import datagen
from workloads import COLD_FAMILIES, cold_queries, pass_order


def test_zipf_corpus_is_a_function_of_the_seed():
    a, b = datagen.zipf_corpus(7, 20_000), datagen.zipf_corpus(7, 20_000)
    assert a.words == b.words
    assert np.array_equal(a.tokens, b.tokens)
    assert np.array_equal(a.line_of, b.line_of)
    c = datagen.zipf_corpus(8, 20_000)
    assert not np.array_equal(a.tokens, c.tokens)


def test_zipf_corpus_shape():
    c = datagen.zipf_corpus(1, 50_000, vocab=1_000)
    assert len(set(c.words)) == 1_000
    counts = np.bincount(c.tokens, minlength=1_000)
    assert counts[0] > counts[10] > counts[500]  # rank order of a Zipf law
    assert c.line_of[0] == 0 and np.all(np.diff(c.line_of) >= 0)
    assert c.n_lines == c.line_of[-1] + 1


def test_written_corpus_round_trips(tmp_path):
    c = datagen.zipf_corpus(3, 5_000, vocab=500)
    path = tmp_path / "corpus.txt"
    datagen.write_corpus(c, str(path))
    lines = path.read_text().splitlines()
    assert len(lines) == c.n_lines
    assert [w for line in lines for w in line.split()] == [c.words[t] for t in c.tokens]


def test_tables_are_byte_identical_per_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(5, 0.001, str(a))
    datagen.write_tables(5, 0.001, str(b))
    names = sorted(os.listdir(a))
    assert len(names) == 10
    assert all(filecmp.cmp(a / n, b / n, shallow=False) for n in names)


def test_pass_order_is_a_seeded_permutation():
    for seed in (1, 2):
        for p in range(4):
            order = pass_order("cold_pipeline", seed, p)
            assert sorted(order) == sorted(cold_queries())
            assert order == pass_order("cold_pipeline", seed, p)
    orders = {tuple(pass_order("cold_pipeline", 1, p)) for p in range(8)}
    assert len(orders) > 1
    assert pass_order("mapreduce_jobs", 1, 0) == ["wordcount", "docfreq", "grouped_avg"]


def test_cold_order_keeps_families_whole():
    for p in range(5):
        order = pass_order("cold_pipeline", 3, p)
        for qs in COLD_FAMILIES.values():
            i = order.index(qs[0])
            assert order[i : i + len(qs)] == qs


def test_consecutive_cold_passes_put_each_family_in_each_position_once():
    n = len(COLD_FAMILIES)
    for seed in (1, 2, 3):
        for start in (0, 1, 5):
            ranks = {f: set() for f in COLD_FAMILIES}
            for p in range(start, start + n):
                order = pass_order("cold_pipeline", seed, p)
                by_start = sorted(COLD_FAMILIES, key=lambda f: order.index(COLD_FAMILIES[f][0]))
                for rank, f in enumerate(by_start):
                    ranks[f].add(rank)
            assert all(r == set(range(n)) for r in ranks.values())
