"""Property test: file-skip pruning is CONSERVATIVE — whenever
``_file_may_match`` says a file can be skipped, no value in the file
satisfies the predicate. (The reverse — keeping a file with no match —
is allowed and harmless: the scan re-applies the filter.)"""

from __future__ import annotations

import datetime
import operator

from hypothesis import given, settings
from hypothesis import strategies as st

from fluss_iceberg_spark.lake.manifest import _file_may_match, _stat_encode

_OPS = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}

_ints = st.integers(-10**9, 10**9)
_floats = st.floats(allow_nan=False, allow_infinity=False, width=32)
_decs = st.decimals(
    min_value=-10**6, max_value=10**6, places=2, allow_nan=False, allow_infinity=False
)
_dates = st.dates(datetime.date(1990, 1, 1), datetime.date(2030, 1, 1))
_strs = st.text(min_size=0, max_size=12)

_domains = [_ints, _floats, _decs, _dates, _strs]


@st.composite
def _case(draw):
    dom = draw(st.sampled_from(range(len(_domains))))
    strat = _domains[dom]
    vals = draw(st.lists(strat, min_size=1, max_size=20))
    lit = draw(strat)
    op = draw(st.sampled_from(sorted(_OPS)))
    return vals, op, lit


@settings(max_examples=300, deadline=None)
@given(_case())
def test_skip_implies_no_match(case):
    vals, op, lit = case
    lo, hi = _stat_encode(min(vals)), _stat_encode(max(vals))
    if lo is None or hi is None:
        return  # unsupported stat type — never pruned, nothing to check
    meta = {"stats": {"c": [lo, hi]}}
    if not _file_may_match(meta, "c", op, lit):
        cmp = _OPS[op]
        assert not any(cmp(v, lit) for v in vals), (vals, op, lit)

