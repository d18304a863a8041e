"""Seeded document generator for the near-duplicate workload, and the
benchmark's own shingle-Jaccard reference.

Every document is a string of words drawn from a seeded vocabulary. Three
kinds of structure are planted:

- clusters: a base document plus 1-3 variants, each the base with one
  extra word appended. Every pair inside a cluster has word-3-shingle
  Jaccard >= 0.9 at the 30-40 word lengths used, far enough above the
  0.7 threshold that banded MinHash (16 bands x 4 rows) misses such a
  pair with probability below 1e-9;
- decoys: a base document with a contiguous run of 6-8 words replaced,
  Jaccard 0.45-0.65 to its base. Most become LSH candidates and must
  be rejected by the exact verification;
- everything else is unrelated (Jaccard about 0).

The Jaccard reference below is written from the definition (lower-case,
collapse whitespace, split on non-word characters, distinct word
3-grams; fewer than three words make one shingle of the joined words),
not from the engine's code.
"""

from __future__ import annotations

import hashlib
import itertools
import random
import re
import string
from dataclasses import dataclass, field

_WS = re.compile(r"\s+")
_NONWORD = re.compile(r"[^\w]+", re.ASCII)


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    toks = [t for t in _NONWORD.split(_WS.sub(" ", text.strip().lower())) if t]
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    return len(a & b) / len(a | b)


@dataclass
class Corpus:
    texts: dict[int, str]
    scores: dict[int, float]
    clusters: list[list[int]]  # planted near-duplicate groups (ids)
    decoys: list[tuple[int, int]]  # (base id, decoy id)
    shingles: dict[int, frozenset[str]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.shingles = {i: shingle_set(t) for i, t in self.texts.items()}

    def planted_pairs(self) -> list[tuple[int, int, float]]:
        out = []
        for members in self.clusters:
            for a, b in itertools.combinations(sorted(members), 2):
                out.append((a, b, jaccard(self.shingles[a], self.shingles[b])))
        return out

    def fingerprint(self) -> dict:
        h = hashlib.sha256()
        for i in sorted(self.texts):
            h.update(f"{i}\t{self.texts[i]}\t{self.scores[i]!r}\n".encode())
        n_dup = sum(len(c) - 1 for c in self.clusters)
        return {
            "rows": len(self.texts),
            "text_bytes": sum(len(t) for t in self.texts.values()),
            "sha256": h.hexdigest()[:16],
            "near_dup_share": n_dup / len(self.texts),
            "decoy_share": len(self.decoys) / len(self.texts),
            "planted_pairs": len(self.planted_pairs()),
            "clusters": len(self.clusters),
        }


def generate(
    n_docs: int,
    seed: int,
    vocab_size: int = 5000,
    cluster_p: float = 0.12,
    decoy_p: float = 0.06,
) -> Corpus:
    """``n_docs`` documents; a base opens a cluster with probability
    ``cluster_p`` and gets a decoy with probability ``decoy_p``."""
    rng = random.Random(seed)
    vocab = sorted(
        {"".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9))) for _ in range(vocab_size)}
    )
    rows: list[str] = []
    groups: list[list[int]] = []
    decoy_rows: list[tuple[int, int]] = []
    while len(rows) < n_docs:
        base = [rng.choice(vocab) for _ in range(rng.randint(30, 40))]
        base_idx = len(rows)
        rows.append(" ".join(base))
        r = rng.random()
        if r < cluster_p:
            members = [base_idx]
            for extra in rng.sample(vocab, rng.randint(1, 3)):
                members.append(len(rows))
                rows.append(" ".join(base + [extra]))
            groups.append(members)
        elif r < cluster_p + decoy_p:
            run = rng.randint(6, 8)
            at = rng.randrange(3, len(base) - run - 3)
            variant = base[:at] + [rng.choice(vocab) for _ in range(run)] + base[at + run :]
            decoy_rows.append((base_idx, len(rows)))
            rows.append(" ".join(variant))
    rows = rows[:n_docs]
    # ids are a seeded permutation, so near-duplicates are neither
    # adjacent in id order nor in the same input partition
    ids = list(range(n_docs))
    rng.shuffle(ids)
    texts = {ids[k]: t for k, t in enumerate(rows)}
    scores = {ids[k]: rng.random() for k in range(n_docs)}
    clusters = [[ids[k] for k in g if k < n_docs] for g in groups]
    clusters = [c for c in clusters if len(c) > 1]
    decoys = [(ids[a], ids[b]) for a, b in decoy_rows if b < n_docs]
    return Corpus(texts, scores, clusters, decoys)
