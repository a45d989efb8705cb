"""Single-node brute-force oracle for tests.

Plays the role the reference's tempdir fixture plays (reference
src/scanner.rs:110-133: known files → known expected duplicate groups): a
small, obviously-correct implementation of every stage's semantics, used by
pytest to check the distributed pipeline.  O(n^2) — test scale only.
"""

from __future__ import annotations

import hashlib
from difflib import SequenceMatcher


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def normalize(text: str, lowercase: bool = True, collapse_ws: bool = True) -> str:
    if lowercase:
        text = text.lower()
    if collapse_ws:
        text = " ".join(text.split())
    return text


def shingle_set(text: str, k: int = 5) -> set[str]:
    """Word k-gram shingles of normalized text."""
    toks = normalize(text).split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    """Empty-vs-empty is 0.0 by policy (matches the engine's
    jaccard_on_shingles): zero-shingle docs are never near-dups — identical
    empty docs still cluster via the exact checksum stage."""
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def exact_clusters(docs: dict[str, str]) -> dict[str, list[str]]:
    """url→text mapping → checksum→sorted urls (camden's HashMap<u64,Vec<Path>>,
    reference src/scanner.rs:22, with deterministic first-wins ordering)."""
    groups: dict[str, list[str]] = {}
    for url, text in docs.items():
        groups.setdefault(sha256_hex(text), []).append(url)
    return {h: sorted(us) for h, us in groups.items()}


def jaccard_pairs(
    docs: dict[str, str], k: int = 5, threshold: float = 0.8
) -> set[tuple[str, str]]:
    """All unordered pairs with exact shingle-Jaccard ≥ threshold."""
    urls = sorted(docs)
    sets = {u: shingle_set(docs[u], k) for u in urls}
    out = set()
    for i in range(len(urls)):
        for j in range(i + 1, len(urls)):
            if jaccard(sets[urls[i]], sets[urls[j]]) >= threshold:
                out.add((urls[i], urls[j]))
    return out


def substring_pairs(
    docs: dict[str, str], min_len: int = 120, min_frac: float = 0.5
) -> set[tuple[str, str]]:
    """Pairs sharing a common substring of ≥ min_len chars that also covers
    ≥ min_frac of the shorter text (normalized).

    Exact, with a sound grid-gram prefilter: any common substring of length
    ≥ 2g-1 must contain a g-gram aligned to one text's g-grid, so checking
    aligned grams against the other text's full gram set has no false
    negatives for g = min_len // 2; survivors are confirmed with difflib.
    """
    g = max(1, min_len // 2)
    urls = sorted(docs)
    norm = {u: normalize(docs[u]) for u in urls}
    all_grams = {
        u: {t[i : i + g] for i in range(max(0, len(t) - g + 1))}
        for u, t in norm.items()
    }
    aligned = {
        u: [t[i : i + g] for i in range(0, max(0, len(t) - g + 1), g)]
        for u, t in norm.items()
    }
    out = set()
    for i in range(len(urls)):
        for j in range(i + 1, len(urls)):
            a, b = norm[urls[i]], norm[urls[j]]
            if not (
                any(gr in all_grams[urls[j]] for gr in aligned[urls[i]])
                or any(gr in all_grams[urls[i]] for gr in aligned[urls[j]])
            ):
                continue
            m = SequenceMatcher(None, a, b, autojunk=False).find_longest_match(
                0, len(a), 0, len(b)
            )
            shorter = min(len(a), len(b))
            if m.size >= min_len and shorter > 0 and m.size / shorter >= min_frac:
                out.add((urls[i], urls[j]))
    return out

