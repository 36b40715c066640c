"""Property-based kernel tests (hypothesis).

The reference has no property-based suite (SURVEY.md §5.1); these
harden the pure kernels against adversarial text — unicode, repeats,
whitespace — where positional/stride bugs would hide.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from selfclean_spark.config import SignatureConfig
from selfclean_spark.functions import sketches
from selfclean_spark.functions.suffix import (
    contains_via_suffix_array,
    suffix_array,
)

TEXT = st.text(min_size=0, max_size=400)
SEEDS = sketches.minhash_seeds(128, 42)
CFG = SignatureConfig()


@given(TEXT)
@settings(max_examples=150, deadline=None)
def test_shingle_deterministic_and_sorted(t):
    a = sketches.shingle(t, CFG)
    b = sketches.shingle(t, CFG)
    np.testing.assert_array_equal(a, b)
    assert a.size >= 1
    assert np.all(np.diff(a.astype(np.uint64)) > 0)


@given(TEXT)
@settings(max_examples=100, deadline=None)
def test_estimator_exact_for_identical(t):
    sh = sketches.shingle(t, CFG)
    sig = sketches.minhash_signature(sh, SEEDS)
    assert sketches.estimate_jaccard(sig, sig) == 1.0
    assert sketches.exact_jaccard(sh, sh) == 1.0


@given(TEXT, TEXT)
@settings(max_examples=100, deadline=None)
def test_jaccard_symmetry_and_range(a, b):
    sa, sb = sketches.shingle(a, CFG), sketches.shingle(b, CFG)
    j1 = sketches.exact_jaccard(sa, sb)
    j2 = sketches.exact_jaccard(sb, sa)
    assert j1 == j2
    assert 0.0 <= j1 <= 1.0


@given(TEXT, TEXT)
@settings(max_examples=75, deadline=None)
def test_hamming_symmetric_triangle(a, b):
    ha = sketches.simhash_signature(sketches.shingle(a, CFG))
    hb = sketches.simhash_signature(sketches.shingle(b, CFG))
    d = sketches.hamming64(ha, hb)
    assert d == sketches.hamming64(hb, ha)
    assert 0 <= d <= 64
    if a == b:
        assert d == 0


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=150, deadline=None)
def test_suffix_array_is_permutation_sorted(data):
    sa = suffix_array(data)
    assert sorted(sa.tolist()) == list(range(len(data)))
    suffixes = [data[i:] for i in sa]
    assert suffixes == sorted(suffixes)


@given(st.binary(min_size=1, max_size=200), st.binary(min_size=0, max_size=50))
@settings(max_examples=150, deadline=None)
def test_suffix_contains_matches_python_in(hay, needle):
    assert contains_via_suffix_array(hay, needle) == (needle in hay)


@given(st.binary(min_size=2, max_size=200))
@settings(max_examples=75, deadline=None)
def test_suffix_contains_own_substrings(data):
    mid = len(data) // 2
    assert contains_via_suffix_array(data, data[:mid])
    assert contains_via_suffix_array(data, data[mid:])
    assert contains_via_suffix_array(data, data)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=300, unique=True))
@settings(max_examples=75, deadline=None)
def test_minhash_monotone_under_union(vals):
    """min over a superset can only stay or decrease (per permutation)."""
    arr = np.array(sorted(vals), dtype=np.uint64)
    half = arr[: max(1, len(arr) // 2)]
    sig_half = sketches.minhash_signature(half, SEEDS).view(np.uint64)
    sig_full = sketches.minhash_signature(arr, SEEDS).view(np.uint64)
    assert np.all(sig_full <= sig_half)
