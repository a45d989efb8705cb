"""Property-based kernel tests (hypothesis) — the reference's test strategy
(planted inputs → exact expected outputs, src/scanner.rs:110-143) extended
with generated inputs: algebraic guarantees must hold for ARBITRARY text,
not just the seeded corpus.

Pure numpy/python except the ``capped_key_join`` property, which runs small
frames on the session's Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from camden_spark.functions.hashing import batch_shingle_hashes, shingle_hashes_np
from camden_spark.functions.substr import (
    batch_winnow,
    longest_common_substring,
    winnow_fingerprints,
)
from camden_spark.oracle import normalize, shingle_set

# text with heavy multi-byte coverage: ascii, latin-1 accents, CJK, emoji
TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Zs"), include_characters=" "
    ),
    max_size=400,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(TEXT, max_size=8))
def test_batch_shingles_equal_per_doc_oracle(texts):
    """Flat-batch shingle hashing must (a) equal its own per-doc result under
    any batching, and (b) produce exactly as many distinct shingles as the
    string-level python oracle, for arbitrary unicode."""
    norm = [normalize(t) for t in texts]
    flat, counts = batch_shingle_hashes(pd.Series(norm, dtype="object"), 5)
    assert counts.sum() == flat.shape[0]
    per_doc = shingle_hashes_np(pd.Series(norm, dtype="object"), 5)
    # (a) identical values regardless of batch composition
    singles = [shingle_hashes_np(pd.Series([t], dtype="object"), 5)[0] for t in norm]
    for got, single in zip(per_doc, singles):
        assert np.array_equal(np.sort(got), np.sort(single))
    # (b) cardinality matches the python-set oracle
    for t, cnt in zip(norm, counts):
        assert cnt == len(shingle_set(t, 5)), t


@settings(max_examples=100, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_batch_winnow_equals_per_doc(texts):
    """Winnowing a batch must give each doc exactly its standalone
    fingerprints — byte offsets, short-doc fallback and all — for arbitrary
    unicode (newlines are the batch separator; normalize() removes them)."""
    norm = [normalize(t) for t in texts]
    flat, counts = batch_winnow(pd.Series(norm, dtype="object"), 20, 10)
    pos = 0
    for t, cnt in zip(norm, counts):
        single = np.unique(winnow_fingerprints(t, 20, 10))
        got = np.sort(flat[pos : pos + cnt].astype(np.uint64))
        pos += cnt
        assert np.array_equal(single, got), (t, cnt)


@settings(max_examples=80, deadline=None)
@given(TEXT, TEXT, TEXT)
def test_winnow_shares_fingerprint_on_common_substring(prefix, common, suffix):
    """The winnowing guarantee (SIGMOD'03): two texts sharing a substring of
    ≥ g + w − 1 bytes share at least one fingerprint."""
    g, w = 8, 4
    # make `common` long enough in BYTES and embed it in different contexts
    common = (common + "x" * (g + w)) * 2
    a = prefix + common
    b = common + suffix
    fa = winnow_fingerprints(a, g, w)
    fb = winnow_fingerprints(b, g, w)
    assert np.intersect1d(fa, fb).shape[0] >= 1


@settings(max_examples=100, deadline=None)
@given(
    st.text(alphabet="abcdé日", max_size=60),
    st.text(alphabet="abcdé日", max_size=60),
)
def test_lcs_matches_difflib(a, b):
    """Suffix-array/Kasai LCS equals difflib's longest match, in BYTES."""
    from difflib import SequenceMatcher

    ab, bb = a.encode("utf-8"), b.encode("utf-8")
    m = SequenceMatcher(None, ab, bb, autojunk=False).find_longest_match(
        0, len(ab), 0, len(bb)
    )
    assert longest_common_substring(a, b) == m.size


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.integers(0, 40), max_size=30), min_size=1, max_size=5))
def test_minhash_permutation_invariance(shingle_lists):
    """MinHash signatures depend only on the SET of shingle hashes — order
    and duplicates must not matter (reduceat layout correctness)."""
    from camden_spark.functions.hashing import minhash_signatures_np

    sets = [np.unique(np.asarray(s, dtype=np.uint64)) for s in shingle_lists]
    shuffled = [np.random.RandomState(1).permutation(s) for s in sets]
    a = minhash_signatures_np(sets, 32, seed=7)
    b = minhash_signatures_np(shuffled, 32, seed=7)
    assert np.array_equal(a, b)


def _reference_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Plain dict union-find: url → min url of its component."""
    parent: dict[str, str] = {}

    def find(u: str) -> str:
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


@st.composite
def _edge_batches(draw):
    """Random edges over shuffled url names (ascii and multi-byte), with
    duplicates and both orientations, optionally a chain longer than
    ``cc_max_iterations`` and a 100-leaf star, cut into several batches."""
    n = draw(st.integers(2, 40))
    pairs = draw(st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                          min_size=1, max_size=80))
    if draw(st.booleans()):
        chain = draw(st.integers(200, 260))
        pairs += [(n + i, n + i + 1) for i in range(chain - 1)]
        n += chain
    if draw(st.booleans()):
        pairs += [(n, n + 1 + i) for i in range(100)]
        n += 101
    pairs += [(b, a) for a, b in draw(st.lists(st.sampled_from(pairs), max_size=20))]
    order = draw(st.permutations(range(len(pairs))))
    names = draw(st.permutations(range(n)))
    alphabet = ["a", "é", "日", "Z", "/"]
    url = [f"{alphabet[k % 5]}{k}" for k in names]
    edges = [(url[pairs[i][0]], url[pairs[i][1]]) for i in order]
    cuts = sorted(draw(st.lists(st.integers(0, len(edges)), max_size=4)))
    bounds = [0, *cuts, len(edges)]
    return edges, [
        pd.DataFrame(edges[lo:hi], columns=["url_a", "url_b"], dtype=object)
        for lo, hi in zip(bounds, bounds[1:])
    ]


@settings(max_examples=80, deadline=None)
@given(_edge_batches())
def test_union_find_kernel_equals_reference(case):
    """The one-task CC kernel emits every edge endpoint once, labelled with
    the min url of its component, however the edges are batched."""
    from camden_spark.operators.components import _union_find

    edges, batches = case
    out = pd.concat(list(_union_find(iter(batches))), ignore_index=True)
    assert out["url"].is_unique
    assert dict(zip(out["url"], out["cluster_id"])) == _reference_components(edges)


@st.composite
def _keyed_rows(draw):
    """``(rows, cap)``: (url, key, payload) rows in key groups of 1 to
    ``cap + 3`` rows, urls drawn from a small pool so a url repeats within
    and across groups."""
    cap = draw(st.integers(1, 4))
    sizes = draw(st.lists(st.integers(1, cap + 3), min_size=1, max_size=6))
    urls = st.sampled_from(["a", "b", "c", "d", "e", "f", "é"])
    rows = [
        (draw(urls), key, draw(st.integers(0, 3)))
        for key, size in enumerate(sizes)
        for _ in range(size)
    ]
    return draw(st.permutations(rows)), cap


@settings(max_examples=20, deadline=None)
@given(_keyed_rows())
def test_capped_key_join_equals_brute_force(spark, case):
    """``capped_key_join`` emits exactly the pair multiset of a brute-force
    pairing of every key group of at most ``cap`` rows (``l.url < r.url``,
    duplicate rows included), and both its metrics frame and its
    Observation carry the group counts of that pairing."""
    from collections import Counter, defaultdict

    from pyspark.sql import Observation

    from camden_spark.operators.lsh import capped_key_join
    from camden_spark.plans.metrics import observed

    rows, cap = case
    groups = defaultdict(list)
    for url, key, payload in rows:
        groups[key].append((url, payload))
    want = Counter(
        (ua, ub, pa, pb)
        for members in groups.values()
        if len(members) <= cap
        for ua, pa in members
        for ub, pb in members
        if ua < ub
    )
    over = [len(m) for m in groups.values() if len(m) > cap]
    want_metrics = {
        "g_total": len(groups),
        "g_dropped": len(over),
        "rows_in_dropped_g": sum(over),
    }
    df = spark.createDataFrame(rows, "url string, key long, payload long")
    obs = Observation("prop_capped_key_join")
    joined, metrics = capped_key_join(df, ["key"], cap, "g", obs)
    got = Counter(
        map(tuple, joined.select("l.url", "r.url", "l.payload", "r.payload").collect())
    )
    assert got == want
    assert observed(obs) == want_metrics
    assert metrics.first().asDict() == want_metrics
