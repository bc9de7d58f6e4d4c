"""The fuzzy-group merge (O7) keeps its semantics: the bucketed char-count
bound ahead of the exact one only skips pairs the exact bound rejects,
and the comparison budget runs out on the same pair.  ``_merge_v1`` is
the merge before that bound, kept here as the reference."""

import copy
import random
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from document_extraction_service_spark.extract import textops as X
from document_extraction_service_spark.extract.text import _char_buckets, _merge_fuzzy_groups


def _merge_v1(groups):
    keys = sorted((k for k in groups if k), key=lambda k: (len(k), k))
    if len(keys) < 2:
        return
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    cnts = [Counter(k) for k in keys]
    budget = X.FUZZY_MAX_COMPARISONS
    for i, a in enumerate(keys):
        if budget <= 0:
            break
        ca = cnts[i]
        la = len(a)
        for j in range(i + 1, len(keys)):
            b = keys[j]
            if len(b) - la > X._FUZZY_MAX_K:
                break
            kmax = (la + len(b) - 1) // 20
            if len(b) - la > kmax:
                continue
            cb = cnts[j]
            d_lb = sum(abs(cnt - cb.get(ch, 0)) for ch, cnt in ca.items())
            d_lb += sum(cnt for ch, cnt in cb.items() if ch not in ca)
            if d_lb > kmax:
                continue
            budget -= 1
            if X.fuzzy_close(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            if budget <= 0:
                break
    for k in keys:
        r = find(k)
        if r != k:
            groups[r].extend(groups.pop(k))
    for idxs in groups.values():
        idxs.sort()


def _exact_bound(a: str, b: str) -> int:
    ca, cb = Counter(a), Counter(b)
    return sum(abs(ca[c] - cb[c]) for c in set(ca) | set(cb))


def _bucket_bound(a: str, b: str) -> int:
    return sum(abs(x - y) for x, y in zip(_char_buckets(a), _char_buckets(b)))


def _assert_same_merge(keys, rnd):
    groups, idx = {}, list(range(2 * len(keys)))
    rnd.shuffle(idx)
    for n, k in enumerate(keys):
        groups[k] = sorted(idx[2 * n:2 * n + 1 + n % 2])
    got, want = copy.deepcopy(groups), copy.deepcopy(groups)
    _merge_fuzzy_groups(got)
    _merge_v1(want)
    assert got == want


# letters inside and outside the bucketed set, digits, and non-ASCII
# chars, some of which case-fold to ASCII ones
ALPHABET = "etaoinsrhl0123456789bcdfgkmpuvwxyzéüßſıπж中 "


def _mutate(s: str, rnd: random.Random, n_edits: int) -> str:
    chars = list(s)
    for _ in range(n_edits):
        op, pos = rnd.randrange(3), rnd.randrange(len(chars) + 1)
        if op == 0 or not chars:
            chars.insert(pos, rnd.choice(ALPHABET))
        elif op == 1:
            chars[min(pos, len(chars) - 1)] = rnd.choice(ALPHABET)
        else:
            del chars[min(pos, len(chars) - 1)]
    return "".join(chars)


@given(
    st.lists(st.text(alphabet=ALPHABET, min_size=1, max_size=100), min_size=1, max_size=5),
    st.lists(st.text(alphabet=ALPHABET, max_size=100), max_size=10),
    st.randoms(use_true_random=False),
)
@settings(max_examples=200, deadline=None)
def test_merge_matches_reference(bases, others, rnd):
    """Near-duplicates of a few base keys (1-4 edits, some of which merge)
    mixed with unrelated keys, the empty key included."""
    keys = set(others)
    for b in bases:
        keys.add(b)
        keys.update(_mutate(b, rnd, rnd.randint(1, 4)) for _ in range(rnd.randint(0, 6)))
    _assert_same_merge(sorted(keys), rnd)


@given(st.integers(min_value=0, max_value=2**32))
@settings(max_examples=10, deadline=None)
def test_merge_matches_reference_when_budget_runs_out(seed):
    """Keys that are permutations of one char set: every pair of them
    passes both bounds, so the comparison budget runs out part way and
    the two merges must stop on the same pair.  Adjacent swaps of one key
    make some pairs fuzzy-close."""
    rnd = random.Random(seed)
    keys = {"".join(rnd.sample(ALPHABET[:40], 40))}
    while len(keys) < 60:
        chars = list(rnd.choice(sorted(keys)))
        k = rnd.randrange(len(chars) - 1)
        chars[k], chars[k + 1] = chars[k + 1], chars[k]
        keys.add("".join(chars))
    # digit-only keys sort first; the bucketed bound rejects their pairs
    # with the permutations, which must not use up the budget
    keys.update("".join(rnd.choices("0123456789", k=40)) for _ in range(30))
    keys = sorted(keys)
    passing = sum(
        _exact_bound(a, b) <= (len(a) + len(b) - 1) // 20
        for i, a in enumerate(keys) for b in keys[i + 1:]
    )
    assert passing > X.FUZZY_MAX_COMPARISONS
    _assert_same_merge(keys, rnd)


@given(st.text(max_size=120), st.text(max_size=120))
@settings(max_examples=500, deadline=None)
def test_bucket_bound_below_exact_bound(a, b):
    assert _bucket_bound(a, b) <= _exact_bound(a, b)


@given(st.text(alphabet=ALPHABET, max_size=100), st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_bucket_bound_below_exact_bound_near_duplicates(a, rnd):
    b = _mutate(a, rnd, rnd.randint(1, 6))
    assert _bucket_bound(a, b) <= _exact_bound(a, b)
