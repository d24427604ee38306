"""Self-tests of the seeded input generators (no Spark session).

    python3 -m pytest huntbench -q
"""

from __future__ import annotations

import json

import pytest

from huntbench import gen

N = 600


def _blob(seed: int) -> bytes:
    docs = gen.corpus(seed, N)
    dd, clusters = gen.dedup_corpus(seed, 200)
    return json.dumps({
        "corpus": docs,
        "warm": gen.warm_requests(seed, docs),
        "cold": gen.cold_requests(seed, docs, 120),
        "dedup": dd,
        "clusters": clusters,
    }).encode()


def test_same_seed_same_bytes():
    assert _blob(7) == _blob(7)


def test_other_seed_other_inputs():
    assert _blob(7) != _blob(8)


def test_planted_docs_present():
    docs = gen.corpus(3, N)
    assert docs[0] == ("https://example.org/en/doc00000000",
                       "pinky and the brain pinky and the brain take over the world tonight")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cold_strings_fresh(seed):
    docs = gen.corpus(seed, N)
    cold = [(r, q) for _s, _b, r, q in gen.cold_requests(seed, docs, 200)]
    warm = {(r, q) for _s, _b, r, q in gen.warm_requests(seed, docs)}
    assert len(set(cold)) == len(cold)
    assert not set(cold) & warm


def test_mix_is_seed_independent():
    mixes = set()
    for seed in range(1, 6):
        docs = gen.corpus(seed, N)
        mixes.add(tuple((s, b) for s, b, _r, _q in gen.cold_requests(seed, docs, 84)))
    assert len(mixes) == 1
    (mix,) = mixes
    # every cell once per cycle, in the fixed cell order
    assert mix == gen.CELLS * 4
    assert len(set(gen.CELLS)) == len(gen.SHAPES) * len(gen.BANDS)


def test_bands_hold_their_terms():
    docs = gen.corpus(5, N)
    bands = gen.df_bands(docs)
    for s, b, r, q in gen.cold_requests(5, docs, 63):
        if r == "completion":
            assert any(t.startswith(q) for t in bands[b])
        else:
            # the band term is the first word of the string
            first = q.strip("'\"").split()[0].strip("'")
            assert first in bands[b], (s, b, q)


@pytest.mark.parametrize("seed", [1, 2])
def test_cluster_sizes(seed):
    docs, clusters = gen.dedup_corpus(seed, 100)
    assert [len(c) for c in clusters] == list(gen.CLUSTER_SIZES)
    ids = [i for i, _t in docs]
    assert ids == list(range(100 + sum(gen.CLUSTER_SIZES)))
    text = dict(docs)
    sh = {i: gen.shingles(t) for i, t in docs}
    for members in clusters:
        base = members[0]
        # copy m carries _EDITS[m % 4] substitutions: exact copies and
        # near copies above the threshold, plus ones below it
        assert any(text[m] == text[base] for m in members[1:]) == (len(members) > 4)
        assert all(gen.jaccard(sh[base], sh[m]) >= 0.8 for m in members[1:3])
        if len(members) > 3:
            assert gen.jaccard(sh[base], sh[members[3]]) < 0.8
