"""Hypothesis property tests: the Spark rankers vs pure-Python oracles
on randomized corpora and queries (the HW6/HW7 randomized-golden
pattern, strengthened with generative inputs).

Spark round-trips are expensive, so corpora are generated by Hypothesis
but evaluated in small batches with few examples; the pure-Python
oracle is exercised densely in-process.
"""

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from google_like_search_engine_spark.kernels import kvs_hash, porter_stem
from google_like_search_engine_spark.kernels.textclean import index_tokenize
from google_like_search_engine_spark.ranker import expand_query

WORDS = st.sampled_from(
    "apples bananas meetings ponies agreed cat cats dog running runs ran "
    "formalize electricity hopeful goodness spark index query".split()
)


@given(st.lists(WORDS, min_size=0, max_size=12))
@settings(max_examples=300, deadline=None)
def test_expand_query_properties(tokens):
    query = " ".join(tokens)
    out = expand_query(query)
    # every raw token is present
    for t in tokens:
        assert t in out
    # no duplicates
    assert len(out) == len(set(out))
    # every entry is a raw token or a stem of one that differs
    for w in out:
        assert w in tokens or any(
            porter_stem(t) == w and porter_stem(t).lower() != t.lower()
            for t in tokens
        )


@given(st.lists(WORDS, min_size=0, max_size=60))
@settings(max_examples=300, deadline=None)
def test_index_tokenize_properties(tokens):
    page = " ".join(tokens)
    positions, l2 = index_tokenize(page)
    # 1) every raw token is recorded at its 1-based position
    for i, t in enumerate(tokens, start=1):
        assert i in positions[t]
    # 2) l2 norm is sqrt of sum of squared tfs over the combined map
    assert l2 == (sum(len(v) ** 2 for v in positions.values()) ** 0.5)
    # 3) stems recorded iff they differ; same positions as their raw form
    for t in set(tokens):
        s = porter_stem(t)
        if s != t:
            raw_pos = [i for i, x in enumerate(tokens, start=1) if x == t]
            for p in raw_pos:
                assert p in positions[s]
    # 4) position counter counts blanks: doubling spaces shifts positions
    if tokens:
        positions2, _ = index_tokenize("  ".join(tokens))
        assert positions2[tokens[0]][0] == 1
        if len(tokens) > 1:
            assert max(positions2[tokens[-1]]) == 2 * len(tokens) - 1


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=80))
@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_hash_total_function(s):
    h = kvs_hash(s)
    assert len(h) == 40
    assert h == kvs_hash(s)  # deterministic


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=0, max_size=30))
@settings(max_examples=500, deadline=None)
def test_stem_idempotent_like(w):
    # Porter is not strictly idempotent, but stems never grow and
    # stemming is total + deterministic on lowercase ascii
    s = porter_stem(w)
    assert len(s) <= max(len(w), 1) or w == ""
    assert porter_stem(w) == s
