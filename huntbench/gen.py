"""Seeded input generators for the benchmark.

Everything here is pure Python + numpy and depends only on ``seed``:
the same seed gives byte-identical corpora, query strings and planted
near-duplicate clusters. The program under test only ever sees the
generated inputs.

- ``corpus(seed, n)``: the FIXTURES §1 corpus shape (Zipf V=5000,
  s=1.07 body tokens, lognormal lengths, the planted pinky/brain docs
  at ids 0..7), keyed by ``seed`` instead of the fixed test seed.
- ``cold_requests(seed, docs, n)``: search/completion strings that
  each miss the engine's plan cache. The shape x df-band cell of the
  i-th request is ``CELLS[i % len(CELLS)]`` for every seed, so the
  request mix never depends on the seed or on how far a run gets
  through the sequence beyond the last partial cycle.
- ``warm_requests(seed, docs)``: one string per cold shape plus one
  completion prefix, used to warm the JIT and Python workers before
  timing; disjoint from the cold strings.
- ``dedup_corpus(seed, n)``: background docs plus planted
  near-duplicate clusters with heavy-tailed sizes.
"""

from __future__ import annotations

import numpy as np

from hunt_spark.functions.analysis import tokenize_py
from hunt_spark.sources.corpus import (
    LEN_MAX,
    LEN_MIN,
    LEN_MU,
    LEN_SIGMA,
    PLANTED,
    VOCAB_SIZE,
    ZIPF_S,
    build_vocab,
)

VOCAB = build_vocab()
_ZW = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
ZIPF_CDF = np.cumsum(_ZW / _ZW.sum())

# shapes of the cold sequence: each names one path through the engine
#   word        prefix word       -> compiler prefix scan
#   exact       'w'               -> WAND, one leg
#   and         'a' 'b'           -> WAND AND
#   or          'a' OR 'b'        -> WAND OR
#   andnot      a AND NOT b       -> compiler anti-join
#   phrase      "a b"             -> compiler positional intersection
#   near        a NEAR 3 b        -> compiler interval intersection
SHAPES = ("word", "exact", "and", "or", "andnot", "phrase", "near")
# the warm-up also sends a /completion prefix; it is not in the timed
# sequence because its 1-2 Spark jobs form a latency mode of their own
# (~0.25 s against 1-2.5 s), and a second mode would make the median
# jump with the number of requests a run completes
WARM_SHAPES = SHAPES + ("completion",)
BANDS = ("head", "torso", "tail")
# 7 shapes and 3 bands are coprime, so cell i = (shape i mod 7, band
# i mod 3) visits all 21 cells once per cycle while shape and band both
# change on every step: any prefix of the sequence is close to balanced
CELLS = tuple(
    (SHAPES[i % len(SHAPES)], BANDS[i % len(BANDS)])
    for i in range(len(SHAPES) * len(BANDS))
)


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(np.random.SeedSequence([seed, *key])))


def _doc(seed: int, i: int) -> tuple[str, str]:
    lang = "de" if i % 10 == 7 else "en"
    url = f"https://example.org/{lang}/doc{i:08d}"
    if i < len(PLANTED):
        title, body = PLANTED[i]
        return url, f"{title} {body}"
    rng = _rng(seed, 1, i)
    length = int(np.clip(np.exp(rng.normal(LEN_MU, LEN_SIGMA)), LEN_MIN, LEN_MAX))
    title_len = int(rng.integers(2, 6))
    idx = np.searchsorted(ZIPF_CDF, rng.random(length + title_len), side="left")
    return url, " ".join(VOCAB[j] for j in idx)


def corpus(seed: int, n: int) -> list[tuple[str, str]]:
    """[(url, text)] for docs 0..n-1."""
    return [_doc(seed, i) for i in range(n)]


def df_bands(docs: list[tuple[str, str]]) -> dict[str, list[str]]:
    """Vocabulary terms present in ``docs``, split by document
    frequency rank: head = ranks 10-49, torso = ranks 300-699, tail =
    terms in 3-4 docs. Narrow bands keep a cell's cost close to the
    same for every seed. Ties break by term, so the bands are a
    function of the corpus alone."""
    df: dict[str, int] = {}
    for _url, text in docs:
        for t in set(tokenize_py(text, lowercase=True)):
            df[t] = df.get(t, 0) + 1
    ranked = sorted(df, key=lambda t: (-df[t], t))
    return {
        "head": ranked[10:50],
        "torso": ranked[300:700],
        "tail": [t for t in ranked if 3 <= df[t] <= 4],
    }


def _bigrams(docs: list[tuple[str, str]]) -> dict[str, list[str]]:
    """term -> sorted distinct successors, for phrases that match."""
    nxt: dict[str, set[str]] = {}
    for _url, text in docs:
        toks = tokenize_py(text, lowercase=True)
        for a, b in zip(toks, toks[1:]):
            nxt.setdefault(a, set()).add(b)
    return {a: sorted(s) for a, s in nxt.items()}


def _render(shape: str, a: str, b: str, rng: np.random.Generator) -> tuple[str, str]:
    """(route, string) for one shape over terms a (the band term) and b."""
    if shape == "word":
        return "search", a
    if shape == "exact":
        return "search", f"'{a}'"
    if shape == "and":
        return "search", f"'{a}' '{b}'"
    if shape == "or":
        return "search", f"'{a}' OR '{b}'"
    if shape == "andnot":
        return "search", f"{a} AND NOT {b}"
    if shape == "phrase":
        return "search", f'"{a} {b}"'
    if shape == "near":
        return "search", f"{a} NEAR 3 {b}"
    # completion: a prefix of the band term, 3 chars up to the whole term
    cut = int(rng.integers(min(3, len(a)), len(a) + 1))
    return "completion", a[:cut]


def _requests(
    seed: int, stream: int, docs, cells, n: int, exclude: set[tuple[str, str]]
) -> list[tuple[str, str, str, str]]:
    """n (shape, band, route, string) for cells cycled in order; every
    (route, string) is distinct and outside ``exclude``."""
    bands = df_bands(docs)
    succ = _bigrams(docs)
    rng = _rng(seed, stream)
    seen = set(exclude)
    out = []
    for i in range(n):
        shape, band = cells[i % len(cells)]
        for _try in range(1000):
            a = bands[band][int(rng.integers(len(bands[band])))]
            if shape in ("phrase", "near"):
                nxts = succ.get(a)
                if not nxts:
                    continue
                b = nxts[int(rng.integers(len(nxts)))]
            else:
                # the second term comes from the torso band: frequent
                # enough to match, rare enough not to dominate cost
                b = bands["torso"][int(rng.integers(len(bands["torso"])))]
                if b == a:
                    continue
            route, q = _render(shape, a, b, rng)
            if (route, q) not in seen:
                break
        else:
            raise RuntimeError(f"no fresh string for cell {(shape, band)}")
        seen.add((route, q))
        out.append((shape, band, route, q))
    return out


def warm_requests(seed: int, docs) -> list[tuple[str, str, str, str]]:
    """One request per shape (torso band) plus one completion, run
    before timing."""
    cells = [(s, "torso") for s in WARM_SHAPES]
    return _requests(seed, 2, docs, cells, len(cells), set())


def cold_requests(seed: int, docs, n: int) -> list[tuple[str, str, str, str]]:
    """n never-repeating requests, none in the warm set."""
    warm = {(r, q) for _s, _b, r, q in warm_requests(seed, docs)}
    return _requests(seed, 3, docs, CELLS, n, warm)


# ---------------------------------------------------------------------------
# dedup: background docs + planted near-duplicate clusters
# ---------------------------------------------------------------------------

# heavy-tailed cluster sizes; the first cluster's copies are identical
# in most bands, so it dominates its LSH buckets
CLUSTER_SIZES = (48, 16, 8, 6, 4, 4, 3, 3, 2, 2, 2, 2)
# per-copy token substitution counts cycle through these: 0 makes exact
# duplicates, 1-2 stay above Jaccard 0.8 for ~100-token docs, 12 falls
# below it
_EDITS = (0, 1, 2, 12)
CLUSTER_BASE_LEN = 100


def dedup_corpus(seed: int, n_background: int):
    """(docs, clusters): docs = [(doc_id, text)] with background doc ids
    0..n_background-1 and planted ids after them; clusters = list of
    planted doc-id lists, one per CLUSTER_SIZES entry."""
    docs = []
    for i in range(n_background):
        _url, text = _doc(seed, len(PLANTED) + i)
        docs.append((i, text))
    clusters = []
    next_id = n_background
    for c, size in enumerate(CLUSTER_SIZES):
        rng = _rng(seed, 4, c)
        idx = np.searchsorted(ZIPF_CDF, rng.random(CLUSTER_BASE_LEN), side="left")
        base = [VOCAB[j] for j in idx]
        members = []
        for m in range(size):
            toks = list(base)
            edits = 0 if m == 0 else _EDITS[m % len(_EDITS)]
            for pos in rng.choice(len(toks), size=edits, replace=False):
                toks[int(pos)] = f"edit{c}x{m}x{int(pos)}"
            docs.append((next_id, " ".join(toks)))
            members.append(next_id)
            next_id += 1
        clusters.append(members)
    return docs, clusters


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-token shingles, the string form textops hashes."""
    toks = tokenize_py(text)
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0
