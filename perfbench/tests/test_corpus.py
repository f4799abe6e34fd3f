import collections
import filecmp
import os
import re

from perfbench.corpus import corpus_bytes, generate_corpus

SMALL = dict(n_files=3, words_per_file=3_000, vocab_size=400)


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    counts_a = generate_corpus(a, 7, **SMALL)
    counts_b = generate_corpus(b, 7, **SMALL)
    assert _files(a) == _files(b) == ["part-0000.txt", "part-0001.txt", "part-0002.txt"]
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == [] and len(match) == 3
    assert counts_a == counts_b
    assert corpus_bytes(a) == corpus_bytes(b) > 0


def test_different_seeds_give_different_files(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    generate_corpus(a, 7, **SMALL)
    generate_corpus(b, 8, **SMALL)
    _, mismatch, _ = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == _files(a)


def test_expected_counts_match_a_recount(tmp_path):
    d = str(tmp_path / "c")
    expected = generate_corpus(d, 3, **SMALL)
    recount = collections.Counter()
    for name in _files(d):
        with open(os.path.join(d, name), encoding="utf-8") as f:
            # The engine's tokenizer: lowercase, split on non-letters/digits.
            recount.update(w for w in re.split(r"[\W_]+", f.read().lower()) if w)
    assert recount == expected
    assert sum(expected.values()) == SMALL["n_files"] * SMALL["words_per_file"]


def test_regenerating_replaces_the_directory(tmp_path):
    d = str(tmp_path / "c")
    generate_corpus(d, 1, n_files=4, words_per_file=100, vocab_size=50)
    generate_corpus(d, 1, n_files=2, words_per_file=100, vocab_size=50)
    assert _files(d) == ["part-0000.txt", "part-0001.txt"]
