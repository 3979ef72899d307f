"""Seeded text corpus for the MapReduce workloads, with its exact answers.

The corpus is three text files of Zipf-distributed words. It includes a
hot key, words that differ only by case, runs of all five strtok
delimiters, non-ASCII words, empty lines and long lines that straddle
the input split boundaries. Tokens never contain a delimiter and every
pair of adjacent tokens is separated by a non-empty delimiter run, so the
tokens the generator placed are exactly the tokens strtok returns, and
the expected word counts come from the generator rather than from a
second tokenizer.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

DELIMS = " ,.\"'"
# Separator runs between tokens; every one is non-empty and made only
# of delimiter characters.
SEPARATORS = (
    " ", " ", " ", " ", ", ", ". ", "  ", " '", "' ", ' "', '" ',
    ",", ".", "'", '"', ",,", "...", " , . ", "\"'", " .\"' ,",
)
N_FILES = 3
LONG_LINE_EVERY = 1500  # every Nth line is long enough to span splits
LONG_LINE_TOKENS = 2500


@dataclass(frozen=True)
class Corpus:
    paths: list[str]
    n_bytes: int
    emits: int  # wordcount mapper emits: one per token occurrence
    lines: int
    word_counts: dict[str, int]

    @property
    def distinct_keys(self) -> int:
        return len(self.word_counts)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    syllables = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]
    words: set[str] = set()
    ordered: list[str] = []

    def add(w: str) -> None:
        if w not in words:
            words.add(w)
            ordered.append(w)

    # Rank 0 is the hot key; ranks 1.. cover case variants and
    # non-ASCII words near the head so they carry real counts.
    for w in ("the", "Spark", "spark", "SPARK", "Map", "map", "MAP",
              "naïve", "straße", "café", "日本語", "данные", "ελληνικά",
              "résumé", "Ünïcödé", "데이터", "🙂ok"):
        add(w)
    while len(ordered) < size:
        n = int(rng.integers(1, 5))
        w = "".join(syllables[i] for i in rng.integers(0, len(syllables), n))
        if rng.random() < 0.15:
            w += letters[int(rng.integers(0, 26))]
        if rng.random() < 0.05:
            w = w.capitalize()
        add(w)
    return ordered


def generate(out_dir: str, seed: int, target_mb: float) -> Corpus:
    """Write the corpus under ``out_dir`` and return its exact answers."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 40000)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = 1.0 / ranks**1.05
    probs[0] *= 1.5  # the hot key: about an eighth of all tokens
    probs /= probs.sum()

    os.makedirs(out_dir, exist_ok=True)
    per_file = int(target_mb * 1e6 / N_FILES)
    counts = np.zeros(len(vocab), dtype=np.int64)
    paths, total_bytes, total_lines = [], 0, 0
    for f in range(N_FILES):
        parts: list[str] = []
        size = 0
        line_no = 0
        while size < per_file:
            n_lines = 2000
            lengths = rng.poisson(9, n_lines)
            lengths[rng.random(n_lines) < 0.02] = 0  # empty lines
            for i in range(n_lines):
                if (line_no + i) % LONG_LINE_EVERY == LONG_LINE_EVERY - 1:
                    lengths[i] = LONG_LINE_TOKENS
            n_tok = int(lengths.sum())
            toks = rng.choice(len(vocab), size=n_tok, p=probs)
            np.add.at(counts, toks, 1)
            seps = rng.integers(0, len(SEPARATORS), n_tok + n_lines)
            lead = rng.random(n_lines) < 0.1
            pos = 0
            for i in range(n_lines):
                k = int(lengths[i])
                line_toks = toks[pos:pos + k]
                line_seps = seps[pos + i:pos + i + k]
                pos += k
                pieces = [SEPARATORS[line_seps[0]]] if lead[i] and k else []
                for j, t in enumerate(line_toks):
                    if j:
                        pieces.append(SEPARATORS[line_seps[j]])
                    pieces.append(vocab[t])
                line = "".join(pieces) + "\n"
                parts.append(line)
                size += len(line.encode("utf-8"))
            line_no += n_lines
        path = os.path.join(out_dir, f"part{f}.txt")
        data = "".join(parts).encode("utf-8")
        with open(path, "wb") as fh:
            fh.write(data)
        paths.append(path)
        total_bytes += len(data)
        total_lines += line_no
    word_counts = {vocab[i]: int(c) for i, c in enumerate(counts) if c}
    return Corpus(
        paths=paths,
        n_bytes=total_bytes,
        emits=int(counts.sum()),
        lines=total_lines,
        word_counts=word_counts,
    )


def corpus_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# --- output verification ---------------------------------------------------


class OutputMismatch(AssertionError):
    pass


def read_job_output(out_dir: str, n_outputs: int) -> list[list[tuple[str, str]]]:
    """Parse the ``key value`` text files of one job, one list per part.

    Raises OutputMismatch unless there are exactly ``n_outputs`` part
    files and each one is sorted by key."""
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    if len(parts) != n_outputs:
        raise OutputMismatch(f"{len(parts)} part files, expected {n_outputs}")
    out = []
    for name in parts:
        rows = []
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            for line in fh:
                key, _, value = line.rstrip("\n").partition(" ")
                rows.append((key, value))
        keys = [k for k, _ in rows]
        if any(a > b for a, b in zip(keys, keys[1:])):
            raise OutputMismatch(f"{name} is not sorted by key")
        out.append(rows)
    return out


def check_job(out_dir: str, n_outputs: int, expected: dict[str, str]) -> None:
    """The job's ``(key, value)`` multiset must equal ``expected``."""
    rows = [r for part in read_job_output(out_dir, n_outputs) for r in part]
    got = Counter(rows)
    want = Counter(expected.items())
    if got != want:
        diff = list((got - want).items())[:3] + list((want - got).items())[:3]
        raise OutputMismatch(f"output differs, e.g. {diff}")

