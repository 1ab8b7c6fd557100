"""Seeded MapleJuice inputs and their independently computed answers.

Ballots: one ranked ballot per line, a permutation of candidates 0-9, the
reference's votes.txt format. Each voter ranks candidates by a seeded
per-candidate strength plus personal noise, so the election has a real
(seed-dependent) structure instead of 45 coin-flip pairs.

Text: lines of words drawn from a Zipf-like vocabulary, for word count.
"""
import collections
import json
import os
import time

import numpy as np

VERSION = 1
CANDIDATES = 10


def ballots(rng, n):
    strength = rng.normal(0.0, 0.35, CANDIDATES)
    scores = strength + rng.normal(0.0, 1.0, (n, CANDIDATES))
    return np.argsort(-scores, axis=1)  # row: candidates, most preferred first


def condorcet_expected(ranked):
    """Phase-1 lines (pair winners) and the phase-2 line of the
    reference-compatible Condorcet chain, from a pairwise count."""
    n = ranked.shape[0]
    pos = np.argsort(ranked, axis=1)  # pos[v, c] = rank of candidate c
    p1 = []
    wins = [0] * CANDIDATES
    for a in range(CANDIDATES):
        for b in range(a + 1, CANDIDATES):
            a_first = int(np.sum(pos[:, a] < pos[:, b]))
            # ties go to the string-smaller candidate, as in the reference
            w, l = (a, b) if a_first >= n - a_first else (b, a)
            p1.append("(%d %d)" % (w, l))
            wins[w] += 1
    if CANDIDATES - 1 in wins:
        p2 = "%d\t is the condorcet winner!" % wins.index(CANDIDATES - 1)
    else:
        top = max(wins)
        p2 = "%s\t have the highest condorcet counts, no winner." % "".join(
            "%d," % i for i, v in enumerate(wins) if v == top)
    return sorted(p1), [p2]


def vocabulary(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, size)
    words = set()
    for ln in lengths:
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words)


def text_lines(rng, lines, words_per_line, vocab):
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    idx = rng.choice(len(vocab), size=(lines, words_per_line), p=p)
    vocab = np.array(vocab)
    return [" ".join(row) for row in vocab[idx]]


def maplejuice(directory, seed, n_ballots, n_lines, words_per_line, vocab_size):
    """Write ballots.txt, text.txt and expected.json under `directory`
    unless a complete copy for these parameters is already there.
    Returns the seconds the generation took (cached on first write)."""
    meta_path = os.path.join(directory, "meta.json")
    params = {"version": VERSION, "seed": seed, "ballots": n_ballots,
              "lines": n_lines, "words_per_line": words_per_line,
              "vocab": vocab_size}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("params") == params:
            return meta["generate_s"]
    t0 = time.monotonic()
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    ranked = ballots(rng, n_ballots)
    with open(os.path.join(directory, "ballots.txt"), "w") as f:
        f.write("\n".join(",".join(map(str, row)) for row in ranked.tolist()))
        f.write("\n")
    p1, p2 = condorcet_expected(ranked)
    lines = text_lines(rng, n_lines, words_per_line, vocabulary(rng, vocab_size))
    with open(os.path.join(directory, "text.txt"), "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    counts = collections.Counter(w for line in lines for w in line.split())
    expected = {"condorcet_p1": p1, "condorcet_p2": p2,
                "wordcount": sorted("%s\t%d" % kv for kv in counts.items())}
    with open(os.path.join(directory, "expected.json"), "w") as f:
        json.dump(expected, f)
    generate_s = time.monotonic() - t0
    with open(meta_path, "w") as f:
        json.dump({"params": params, "generate_s": generate_s}, f)
    return generate_s
