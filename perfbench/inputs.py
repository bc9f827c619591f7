"""Seeded inputs. Every workload derives its inputs from ``--seed`` here (the
ER corpus through ``generate_corpus(seed=...)``); the program sees only the
strings and tables these produce, never the planted answers."""

from __future__ import annotations

import random

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr kr pl sh st tr".split()
_VOWELS = "a e i o u ai ea ou io".split()
_CODAS = ["", "", "n", "r", "s", "t", "l", "x", "nd", "rk"]
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
        for _ in range(rng.randint(2, 3))
    )


def reference_strings(seed: int, n: int) -> list[str]:
    """``n`` distinct short names of two or three pseudo-words."""
    rng = random.Random(f"refs:{seed}")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        s = " ".join(_word(rng) for _ in range(rng.randint(2, 3)))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def variant(rng: random.Random, s: str) -> str:
    """A planted near-duplicate: one character edit or a token swap."""
    kind = rng.randrange(4)
    toks = s.split(" ")
    if kind == 3 and len(toks) > 1:
        i = rng.randrange(len(toks) - 1)
        toks[i], toks[i + 1] = toks[i + 1], toks[i]
        return " ".join(toks)
    i = rng.randrange(len(s))
    c = rng.choice(_ALPHA)
    if kind == 0:
        return s[:i] + c + s[i + 1:]  # substitution
    if kind == 1 and len(s) > 4:
        return s[:i] + s[i + 1:]  # deletion
    return s[:i] + c + s[i:]  # insertion


def request_pool(seed: int, refs: list[str], n_requests: int,
                 batch: int) -> list[tuple[list[str], list[int]]]:
    """``n_requests`` batches of ``batch`` variants, each with the index of
    the reference string it was planted from."""
    rng = random.Random(f"requests:{seed}")
    pool = []
    for _ in range(n_requests):
        src = [rng.randrange(len(refs)) for _ in range(batch)]
        pool.append(([variant(rng, refs[i]) for i in src], src))
    return pool


def match_lists(seed: int, n_to: int, n_from: int
                ) -> tuple[list[str], list[str], list[int]]:
    """(from_list, to_list, truth): each from string is a variant of
    ``to_list[truth[i]]``."""
    to = reference_strings(seed, n_to)
    rng = random.Random(f"from:{seed}")
    truth = [rng.randrange(n_to) for _ in range(n_from)]
    return [variant(rng, to[i]) for i in truth], to, truth
