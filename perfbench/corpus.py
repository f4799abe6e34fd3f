"""Seeded plain-text corpus for the ``wordcount_corpus`` workload.

The reference job reads every regular file of a directory of text
files, so the input here is that shape: ``n_files`` files of lines of
words whose frequencies follow a Zipf law over a seeded vocabulary.
Words are lowercase letters (a few accented), and the generator adds
what the tokenizer must undo — a capitalised first word per line and
punctuation glued to words — while keeping the exact expected count of
every lowercase token, so the job's output can be checked exactly.

The same seed gives byte-identical files (numpy's PCG64 stream); a
different seed gives a different vocabulary and different text.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

ASCII = np.array(list("abcdefghijklmnopqrstuvwxyz"))
ACCENTED = np.array(["é", "ü", "ñ"])  # two bytes each in UTF-8
PUNCT = np.array(["", "", "", "", "", ",", ".", ";", "!", "?"])
ZIPF_S = 1.07  # exponent of the word-frequency law
WORDS_PER_LINE = 12


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct words.  Which frequency rank gets how many
    letters, and which of them are accented, is the same for every seed,
    so the corpus size and the work per token do not depend on the seed;
    the letters themselves do."""
    fixed = np.random.Generator(np.random.PCG64(0))
    lengths = fixed.integers(3, 11, size=size)
    accented = fixed.random((size, 10)) < 0.05
    # Letter weights fall off so common letters dominate, as in text.
    weights = 1.0 / np.arange(1, len(ASCII) + 1) ** 0.6
    weights /= weights.sum()
    seen: set[str] = set()
    out: list[str] = []
    for rank, length in enumerate(lengths):
        mask = accented[rank, :length]
        while True:
            letters = rng.choice(ASCII, size=length, p=weights)
            letters[mask] = rng.choice(ACCENTED, size=int(mask.sum()))
            w = "".join(letters)
            if w not in seen:
                break
        seen.add(w)
        out.append(w)
    return out


def generate_corpus(
    out_dir: str,
    seed: int,
    n_files: int = 16,
    words_per_file: int = 100_000,
    vocab_size: int = 20_000,
) -> dict[str, int]:
    """Write the corpus into ``out_dir`` (replaced if present) and
    return the exact count of every lowercase token in it."""
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array(_vocabulary(rng, vocab_size), dtype=object)
    probs = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S
    probs /= probs.sum()
    counts = np.zeros(vocab_size, dtype=np.int64)

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for f in range(n_files):
        idx = rng.choice(vocab_size, size=words_per_file, p=probs)
        counts += np.bincount(idx, minlength=vocab_size)
        tokens = vocab[idx] + PUNCT[rng.integers(0, len(PUNCT), size=words_per_file)]
        lines = []
        for start in range(0, words_per_file, WORDS_PER_LINE):
            line = tokens[start : start + WORDS_PER_LINE]
            lines.append(line[0].capitalize() + " " + " ".join(line[1:]))
        with open(os.path.join(out_dir, f"part-{f:04d}.txt"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
    return {str(vocab[i]): int(c) for i, c in enumerate(counts) if c}


def corpus_bytes(out_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(out_dir, n)) for n in sorted(os.listdir(out_dir))
    )
