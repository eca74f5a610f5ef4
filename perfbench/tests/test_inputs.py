import itertools
import random

import inputs


def _docs(n: int, seed: int = 3) -> dict:
    """Short texts over a tiny vocabulary, every fifth a near-copy of an
    earlier one, so pairs on both sides of the thresholds exist."""
    rnd = random.Random(seed)
    words = "a b c d e f g h".split()
    texts: list[str] = []
    for i in range(n):
        if i and i % 5 == 0:
            w = texts[rnd.randrange(i)].split(" ")
            w[rnd.randrange(len(w))] = rnd.choice(words)
        else:
            w = [rnd.choice(words) for _ in range(rnd.randrange(1, 12))]
        texts.append(" ".join(w))
    return {i: inputs.word_shingles(t) for i, t in enumerate(texts)}


def test_similar_pairs_equals_all_pairs_jaccard():
    sh = _docs(120)
    for threshold in (0.5, 0.8):
        brute = {(a, b) for a, b in itertools.combinations(sorted(sh), 2)
                 if sh[a] and sh[b] and inputs.jaccard(sh[a], sh[b]) >= threshold}
        assert brute                                   # the fixture has such pairs
        assert inputs.similar_pairs(sh, threshold, block=7) == brute


def test_word_shingles_and_exact_quantile_conventions():
    assert inputs.word_shingles("x y x y") == {"x y", "y x"}
    assert inputs.word_shingles("x") == set()
    vals = list(range(10, 20))
    assert inputs.exact_quantile(vals, 0.5) == 14        # index floor(0.5 * 9)
    assert inputs.exact_quantile(vals, 0.999) == 18
    assert inputs.rel_err(0.0, 0.0) == 0.0 and inputs.rel_err(1.0, 0.0) == float("inf")
