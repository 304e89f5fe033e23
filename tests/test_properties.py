"""Property-based tests (hypothesis) for the pure-Python helpers that gate
round artifacts: the scale-canary trend rules (ratio-creep flagging and the
clobber-proof best-ratio merge) and the matchpath pattern compiler. These
run no Spark session — hundreds of generated cases per run at unit-test
cost, covering the input space the example-based tests can't enumerate.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

import scripts.scale_canary as canary

_ratios = st.dictionaries(
    st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=8),
    st.floats(min_value=0.01, max_value=100.0, allow_nan=False),
    max_size=12,
)


@given(prev=_ratios, cur=_ratios)
def test_merge_best_ratios_is_elementwise_min_with_union_keys(prev, cur):
    best = canary.merge_best_ratios(prev, cur)
    assert set(best) == set(prev) | set(cur)
    for k, v in best.items():
        cands = [d[k] for d in (prev, cur) if k in d]
        assert v == min(cands)


@given(prev=_ratios, cur=_ratios)
def test_merge_best_ratios_idempotent_and_monotone(prev, cur):
    once = canary.merge_best_ratios(prev, cur)
    twice = canary.merge_best_ratios(once, cur)
    assert twice == once  # re-merging the same run changes nothing
    for k in prev:
        assert once[k] <= prev[k]  # the best only ever improves


@given(prev=_ratios, cur=_ratios)
def test_ratio_creep_flags_exactly_the_rule(prev, cur):
    flagged = {c["q"]: c for c in canary.find_ratio_creep(prev, cur)}
    for q, now in cur.items():
        best = prev.get(q)
        should = (
            best is not None
            and now > best * canary.CREEP_RATIO
            and now >= canary.CREEP_MIN_RATIO
        )
        assert (q in flagged) == should
        if should:
            assert flagged[q]["best"] == best and flagged[q]["now"] == now


_SYMS = st.lists(
    st.text(st.characters(min_codepoint=65, max_codepoint=90), min_size=1, max_size=6),
    min_size=1,
    max_size=5,
    unique=True,
)


@settings(deadline=None)  # first example pays the pyspark module import
@given(syms=_SYMS, data=st.data())
def test_matchpath_compiler_emits_valid_equivalent_regex(syms, data):
    """For any random symbol sequence with quantifiers, the compiled
    pattern must (a) be a valid regex over the single-char alphabet and
    (b) equal the regex built directly from the mapped chars — i.e. the
    compiler is exactly 'map names, drop dots, keep quantifiers'."""
    from hive_apache_ci_spark.functions.hive_compat import (
        compile_matchpath_pattern,
    )

    mapping = {s: chr(ord("a") + i) for i, s in enumerate(syms)}
    n = data.draw(st.integers(min_value=1, max_value=6))
    parts, expect = [], []
    for _ in range(n):
        s = data.draw(st.sampled_from(syms))
        q = data.draw(st.sampled_from(["", "*", "+", "?"]))
        parts.append(s + q)
        expect.append(mapping[s] + q)
    pattern = ".".join(parts)
    out = compile_matchpath_pattern(pattern, mapping)
    assert out == "".join(expect)
    assert re.compile(out) is not None


@given(syms=_SYMS)
def test_matchpath_compiler_rejects_undeclared(syms):
    import pytest

    from hive_apache_ci_spark.functions.hive_compat import (
        compile_matchpath_pattern,
    )

    mapping = {s: chr(ord("a") + i) for i, s in enumerate(syms)}
    with pytest.raises(ValueError):
        compile_matchpath_pattern("ZZUNDECLARED9", mapping)
