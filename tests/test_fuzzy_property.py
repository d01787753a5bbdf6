"""Property-based checks (hypothesis) for the deletion-neighborhood
fuzzy join's candidate COMPLETENESS and the bloom filter's
NO-FALSE-NEGATIVE contract — the two invariants whose violation would
silently lose results rather than erroring."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from fluss_iceberg_spark.lake.manifest import _bloom_positions
from fluss_iceberg_spark.operators.fuzzy import deletion_signatures  # noqa: F401


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _del_neighborhood(s: str) -> set[str]:
    # pure-python twin of deletion_signatures (the Spark column form is
    # exercised by test_fuzzy.py against the same corpus)
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abcde ", min_size=0, max_size=12),
       st.text(alphabet="abcde ", min_size=0, max_size=12))
def test_deletion_signatures_complete_for_ed1(a, b):
    """If lev(a,b) <= 1 the deletion neighborhoods MUST intersect —
    candidate generation can never lose a true pair (the exact-verify
    step then removes any false candidate, so completeness here implies
    end-to-end exactness)."""
    if _lev(a, b) <= 1:
        assert _del_neighborhood(a) & _del_neighborhood(b)


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.text(min_size=0, max_size=40),
                 st.integers(min_value=-(2**62), max_value=2**62)))
def test_bloom_membership_never_false_negative(v):
    """A value's own k positions are by definition set when it was
    inserted — determinism of the positions across calls IS the
    no-false-negative property at the metadata layer."""
    p1 = _bloom_positions(v)
    p2 = _bloom_positions(v)
    assert p1 == p2
    assert p1 is not None
    assert all(0 <= p < 2048 for p in p1)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_bloom_int_and_string_forms_agree(i):
    """Write side hashes the pyarrow int; predicate side may carry the
    SQL literal as int — and a string literal of the same integer must
    resolve to the same positions (canon: str(int))."""
    assert _bloom_positions(i) == _bloom_positions(str(i))


# ---- PassJoin (k >= 2) candidate completeness ----

def _pj_index(s: str, k: int) -> set:
    # pure-python twin of operators.fuzzy._passjoin_index_segments
    m = k + 1
    l, base, rem = len(s), len(s) // (k + 1), len(s) % (k + 1)
    out = set()
    for i in range(m):
        sl = base + (1 if i >= m - rem else 0)
        p = i * base + max(0, i - (m - rem))
        out.add((i, s[p:p + sl], l))
    return out


def _pj_probe(t: str, k: int) -> set:
    # pure-python twin of operators.fuzzy._passjoin_probe_segments
    m = k + 1
    out = set()
    for l in range(max(0, len(t) - k), len(t) + 1):
        base, rem = l // m, l % m
        for i in range(m):
            sl = base + (1 if i >= m - rem else 0)
            p = i * base + max(0, i - (m - rem))
            for j in range(max(0, p - k), min(len(t) - sl, p + k) + 1):
                out.add((i, t[j:j + sl], l))
    return out


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet="abcd ", min_size=0, max_size=14),
       st.text(alphabet="abcd ", min_size=0, max_size=14),
       st.integers(min_value=2, max_value=3))
def test_passjoin_segments_complete(a, b, k):
    """If lev(a,b) <= k, the shorter string's segment keys MUST intersect
    the longer one's probe keys (pigeonhole: k edits touch at most k of
    the k+1 segments; an untouched segment survives verbatim, displaced
    at most k). Candidate completeness + exact verify = exact join."""
    if _lev(a, b) <= k:
        s, t = (a, b) if len(a) <= len(b) else (b, a)
        assert _pj_index(s, k) & _pj_probe(t, k), (s, t, k)
