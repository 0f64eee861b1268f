"""Golden Top-K phase-1 partials: the bytes ``sketches.TopK`` writes for
fixed seeded inputs, pinned by a committed file
(``topk_partial_goldens.json``). No JVM is needed.

Each case folds its batches through ``init`` / ``update`` / ``finalize``
exactly as a phase-1 task does. The cases cover count ties among
strings (the order of equal counts), binary values, a capped string
build that compacts several times (one batch pushes the cheap
distinct bound past the cap while the exact count stays under it),
token counts folded distinct-first, and int64 values raw and capped.
For capped builds the file also pins the number of compactions after
every update, so a compaction that fires one update early or late
fails here even when the final bytes happen to agree.

The goldens were written once and are never regenerated: a change to
phase-1 counting that moves a single byte of a partial fails here."""

import json
import pathlib

import numpy as np
import pyarrow as pa
import pytest

from gostatix_spark import sketches

GOLD_PATH = pathlib.Path(__file__).parent / "topk_partial_goldens.json"

# eps=0.05, fail_prob=0.01: a 5 × 55 CMS keeps every frame small
PARAMS = {"k": 5, "eps": 0.05, "fail_prob": 0.01, "slack": 4}


def _words(rng, n, vocab, prefix):
    return [f"{prefix}{i:03d}" for i in rng.integers(0, vocab, n)]


def _string_ties(rng):
    # 2,400 draws over 120 words: ~20 each, so many counts tie
    return [pa.array(_words(rng, 300, 120, "w")) for _ in range(8)]


def _binary(rng):
    out = []
    for _ in range(5):
        lens = rng.integers(0, 4, 400)  # includes the empty value
        out.append(pa.array([bytes(rng.integers(0, 3, n).astype(np.uint8))
                             for n in lens], pa.binary()))
    return out


def _string_capped(rng):
    first = [f"a{i:02d}" for i in range(40) for _ in range(1 + i % 3)]
    again = list(rng.permutation(first))
    # cap 64: 40 distinct, then the same 40 again (bound 80 > 64, exact
    # 40 ≤ 64), then fresh tails beside a few hot values
    batches = [first, again]
    for b in range(6):
        tail = [f"t{b}_{i:02d}" for i in range(50) for _ in range(1 + i % 2)]
        hot = _words(rng, 30, 5, "hot")
        batches.append(list(rng.permutation(tail + hot)))
    return [pa.array(b) for b in batches]


def _token_counts(rng):
    out = []
    for _ in range(4):
        vals, counts = np.unique(rng.integers(0, 500, 2000),
                                 return_counts=True)
        out.append((vals.astype(np.int64), counts.astype(np.int64)))
    return out


def _int64(rng):
    pool = rng.integers(-(1 << 40), 1 << 40, 300)  # wide span: np.unique
    out = [pool[rng.integers(0, 300, 1000)].astype(np.int64)
           for _ in range(4)]
    out.append(rng.integers(-50, 50, 800).astype(np.int64))  # bincount
    return out


# name → (element, extra params, seed, batch maker, folds counts)
CASES = {
    "string_ties": ("string", {}, 1, _string_ties, False),
    "binary": ("binary", {}, 2, _binary, False),
    "string_capped": ("string", {"max_distinct": 64}, 3, _string_capped,
                      False),
    "tokens_counts": ("tokens", {}, 4, _token_counts, True),
    "tokens_counts_capped": ("tokens", {"max_distinct": 100}, 4,
                             _token_counts, True),
    "int64": ("int64", {}, 5, _int64, False),
    "int64_capped": ("int64", {"max_distinct": 128}, 5, _int64, False),
}


def build(name: str) -> dict:
    """One case's partial frame (hex), item count and, when capped, the
    compaction count after each update."""
    element, extra, seed, make, counts_fold = CASES[name]
    sk = sketches.Sketch.make("topk", **PARAMS, **extra)
    sk.element = element
    acc = sk.init()
    compactions = []
    for batch in make(np.random.default_rng(seed)):
        if counts_fold:
            sk.update(acc, None, None, *batch)
        else:
            sk.update(acc, None, None, batch, None)
        if "max_distinct" in extra:
            compactions.append(acc[0].compactions)
    blob, n = sk.finalize(acc)
    out = {"frame": blob.hex(), "n": n}
    if compactions:
        out["compactions"] = compactions
    return out


@pytest.mark.parametrize("name", sorted(CASES))
def test_topk_partial_matches_golden(name):
    want = json.loads(GOLD_PATH.read_text())[name]
    got = build(name)
    assert got["n"] == want["n"]
    assert got.get("compactions") == want.get("compactions")
    assert got["frame"] == want["frame"], f"{name}: partial bytes differ"


def test_goldens_cover_what_they_claim():
    gold = json.loads(GOLD_PATH.read_text())
    assert set(gold) == set(CASES)
    comp = gold["string_capped"]["compactions"]
    assert comp[:2] == [0, 0] and comp[-1] >= 3
    assert gold["int64_capped"]["compactions"][-1] >= 1
