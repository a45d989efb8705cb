"""Vectorized hashing kernels (pure numpy — no Spark imports).

These are the batch kernels the pandas UDFs in ``functions.shingles`` call.
All arithmetic is uint64 with silent wraparound (mod 2^64).  Tokens are
hashed at the byte level (``batch_token_hashes``): each Arrow batch is joined
into one UTF-8 buffer, and every token's hash is a 64-bit polynomial segment
hash over its bytes (prefix sums over the buffer, then a splitmix64
finalizer).  It is a pure function of the token's bytes, so results are
stable across processes, library versions, and the driver/executor
boundary — the determinism the reference never had (its group order was
thread-race-dependent, reference src/scanner.rs:62).

No per-row Python in the Spark hot path: callers pass whole Arrow batches and
everything here is O(batch) numpy.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    import pandas as pd

#: odd multiplier for the rolling shingle combine (splitmix64's constant)
_SHINGLE_MULT = np.uint64(0x9E3779B97F4A7C15)

#: sentinel signature value for docs with no shingles (empty/whitespace text);
#: int64-max so empty docs never collide with real signatures in LSH.
EMPTY_SLOT = np.uint64(0x7FFFFFFFFFFFFFFF)

#: the sentinel as it appears in a stored signature slot (minhash_flat shifts
#: signatures right by 1 for int64 safety) — LSH filters these out so empty
#: docs never band together.
EMPTY_SIG_SLOT = int(EMPTY_SLOT) >> 1


# --- byte-level batch tokenizer/hasher --------------------------------------
# The hot path avoids per-token Python objects entirely: each Arrow batch is
# joined into ONE byte buffer, token hashes are 64-bit polynomial segment
# hashes computed with a prefix-sum trick (B odd → invertible mod 2^64), and
# doc membership is tracked with integer offsets.  Everything below is O(bytes)
# numpy with no Python loop over tokens.

_TOK_B = np.uint64(0x100000001B3)          # FNV64 prime (odd)
_TOK_BINV = np.uint64(pow(int(_TOK_B), -1, 1 << 64))
_SEP_NL = np.uint8(10)                      # doc separator '\n'
_SEP_SP = np.uint8(32)                      # token separator ' '

#: gather-based power tables: numpy's uint64 cumprod is a serial generic loop
#: (~120 ns/elem); two table gathers + one multiply are ~10x faster at 4 MB+.
_POW_SMALL: dict[int, np.ndarray] = {}
_POW_BIG: dict[int, np.ndarray] = {}
_POW_CHUNK = 1 << 16


def pow_array(base: np.uint64, m: int) -> np.ndarray:
    """[base^0, base^1, ..., base^(m-1)] mod 2^64, vectorized."""
    key = int(base)
    small = _POW_SMALL.get(key)
    if small is None:
        small = np.empty(_POW_CHUNK, dtype=np.uint64)
        small[0] = 1
        np.cumprod(np.full(_POW_CHUNK - 1, base, dtype=np.uint64), out=small[1:])
        _POW_SMALL[key] = small
    nbig = (m >> 16) + 1
    big = _POW_BIG.get(key)
    if big is None or big.shape[0] < nbig:
        big = np.empty(max(nbig, 64), dtype=np.uint64)
        big[0] = 1
        step = np.uint64((int(small[-1]) * key) & 0xFFFFFFFFFFFFFFFF)  # base^(2^16)
        np.cumprod(np.full(big.shape[0] - 1, step, dtype=np.uint64), out=big[1:])
        _POW_BIG[key] = big
    j = np.arange(m, dtype=np.int64)
    return small[j & (_POW_CHUNK - 1)] * big[j >> 16]


def batch_token_hashes(
    texts: "pd.Series[str]",
) -> tuple[np.ndarray, np.ndarray]:
    """(token_hashes uint64[T], doc_token_counts int64[ndocs]) for a batch.

    Texts must be pre-normalized (single-space separated).  Tokens are byte
    segments between separators; each token's hash is
    Σ_j c[j] * B^(len-1-j) mod 2^64 — computed for ALL tokens at once.
    """
    n = len(texts)
    joined = "\n".join(t if isinstance(t, str) else "" for t in texts)
    data = np.frombuffer(joined.encode("utf-8"), dtype=np.uint8)
    if data.shape[0] == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n, dtype=np.int64)
    is_sep = (data == _SEP_SP) | (data == _SEP_NL)
    # token boundaries: starts = non-sep preceded by sep/bof; ends likewise
    nonsep = ~is_sep
    prev_sep = np.empty_like(nonsep)
    prev_sep[0] = True
    prev_sep[1:] = is_sep[:-1]
    starts = np.flatnonzero(nonsep & prev_sep)
    next_sep = np.empty_like(nonsep)
    next_sep[-1] = True
    next_sep[:-1] = is_sep[1:]
    ends = np.flatnonzero(nonsep & next_sep) + 1
    # doc id per token via newline positions
    nl_pos = np.flatnonzero(data == _SEP_NL)
    doc_of_token = np.searchsorted(nl_pos, starts)
    counts = np.bincount(doc_of_token, minlength=n).astype(np.int64)
    if starts.shape[0] == 0:
        return np.empty(0, dtype=np.uint64), counts
    # polynomial segment hash: P[i] = Σ_{j<=i} c[j] B^{-j};
    # h(s,e) = B^{e-1} (P[e-1] - P[s-1])
    m = data.shape[0]
    binv_pows = pow_array(_TOK_BINV, m)
    P = np.cumsum(np.multiply(data, binv_pows, dtype=np.uint64))
    b_pows = pow_array(_TOK_B, m)
    Pe = P[ends - 1]
    Ps = np.where(starts > 0, P[np.maximum(starts - 1, 0)], np.uint64(0))
    th = b_pows[ends - 1] * (Pe - Ps)
    # avalanche (splitmix64 finalizer) to decorrelate polynomial structure
    th ^= th >> np.uint64(30)
    th *= np.uint64(0xBF58476D1CE4E5B9)
    th ^= th >> np.uint64(27)
    th *= np.uint64(0x94D049BB133111EB)
    th ^= th >> np.uint64(31)
    return th, counts


def batch_shingle_hashes(
    texts: "pd.Series[str]", k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted distinct shingle hashes uint64[M], doc_shingle_counts int64[nd])
    for a batch — fully vectorized across all docs.

    Shingles are k-token windows that do not cross doc boundaries; docs with
    1..k-1 tokens produce one shingle over all their tokens; empty docs none.
    Output shingles are sorted (and distinct) WITHIN each doc segment.
    """
    th, counts = batch_token_hashes(texts)
    n = counts.shape[0]
    T = th.shape[0]
    if T == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n, dtype=np.int64)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    doc_of_token = np.repeat(np.arange(n), counts)
    # global rolling k-combine
    if T >= k:
        roll = th[: T - k + 1].copy()
        for j in range(1, k):
            roll *= _SHINGLE_MULT
            roll += th[j : T - k + 1 + j]
        # valid windows: all k tokens in same doc
        valid = doc_of_token[: T - k + 1] == doc_of_token[k - 1 :]
        win_doc = doc_of_token[: T - k + 1][valid]
        win_hash = roll[valid]
    else:
        win_doc = np.empty(0, dtype=np.int64)
        win_hash = np.empty(0, dtype=np.uint64)
    # short docs (0 < tokens < k): single shingle over all tokens
    short = np.flatnonzero((counts > 0) & (counts < k))
    if short.shape[0]:
        sh_hash = np.empty(short.shape[0], dtype=np.uint64)
        for i, d in enumerate(short):  # rare; tiny loop
            seg = th[offsets[d] : offsets[d] + counts[d]]
            sh_hash[i] = rolling_shingles(seg, k)[0]
        win_doc = np.concatenate([win_doc, short])
        win_hash = np.concatenate([win_hash, sh_hash])
    if win_doc.shape[0] == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n, dtype=np.int64)
    # sort by (doc, hash) then drop duplicates within doc — one lexsort
    order = np.lexsort((win_hash, win_doc))
    d_sorted = win_doc[order]
    h_sorted = win_hash[order]
    keep = np.empty(d_sorted.shape[0], dtype=bool)
    keep[0] = True
    keep[1:] = (d_sorted[1:] != d_sorted[:-1]) | (h_sorted[1:] != h_sorted[:-1])
    d_u = d_sorted[keep]
    h_u = h_sorted[keep]
    return h_u, np.bincount(d_u, minlength=n).astype(np.int64)


def rolling_shingles(th: np.ndarray, k: int) -> np.ndarray:
    """Combine k consecutive token hashes into shingle hashes.

    sh[i] = Σ_j th[i+j] * M^(k-1-j)  (mod 2^64), i ∈ [0, n-k].
    Docs shorter than k tokens yield a single shingle over all tokens.
    """
    n = th.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    kk = min(k, n)
    out = th[: n - kk + 1].copy()
    for j in range(1, kk):
        out *= _SHINGLE_MULT
        out += th[j : n - kk + 1 + j]
    return out


def shingle_hashes_np(texts: "pd.Series[str]", k: int = 5) -> list[np.ndarray]:
    """Per-doc arrays of DISTINCT (sorted) shingle hashes for a batch —
    list-of-arrays view over the flat ``batch_shingle_hashes`` output."""
    flat, counts = batch_shingle_hashes(texts, k)
    return np.split(flat, np.cumsum(counts)[:-1])


def minhash_flat(
    S: np.ndarray, counts: np.ndarray, num_perms: int, seed: int
) -> np.ndarray:
    """(ndocs, num_perms) uint64 MinHash signatures from the flat form
    (concatenated per-doc shingle hashes + per-doc counts).

    One ``np.minimum.reduceat`` per permutation block over doc offsets — no
    per-doc Python.  Block size bounds transient memory (~16 MB), keeping the
    working set cache-friendly under many concurrent workers.
    """
    a, b = minhash_params(num_perms, seed)
    ndocs = counts.shape[0]
    sig = np.full((ndocs, num_perms), EMPTY_SLOT, dtype=np.uint64)
    nonempty = counts > 0
    if not nonempty.any():
        return sig
    offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(counts[nonempty][:-1], out=offsets[1:])
    mins = np.empty((offsets.shape[0], num_perms), dtype=np.uint64)
    vals = np.empty_like(S)
    for j in range(num_perms):
        # 1D contiguous reduceat is ~10x faster than axis-0 on a 2D block
        np.multiply(S, a[j], out=vals)
        vals += b[j]
        mins[:, j] = np.minimum.reduceat(vals, offsets)
    sig[nonempty] = mins
    sig >>= np.uint64(1)  # int64-safe for Spark LongType
    return sig


def simhash_flat(S: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """(ndocs,) uint64 SimHash from the flat form — unpackbits +
    add.reduceat, no per-doc Python."""
    ndocs = counts.shape[0]
    out = np.zeros(ndocs, dtype=np.uint64)
    nonempty = counts > 0
    if not nonempty.any():
        return out
    ne_counts = counts[nonempty]
    offsets = np.zeros(ne_counts.shape[0], dtype=np.int64)
    np.cumsum(ne_counts[:-1], out=offsets[1:])
    bits = np.unpackbits(S.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    # 64 contiguous 1D reduceats (2D-axis reduceat is a slow strided loop)
    bitsT = np.ascontiguousarray(bits.T)
    cnt = np.empty((64, ne_counts.shape[0]), dtype=np.int64)
    for i in range(64):
        cnt[i] = np.add.reduceat(bitsT[i].astype(np.int64), offsets)
    cnt = cnt.T
    majority = (2 * cnt) >= ne_counts[:, None]
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))[None, :]
    out[nonempty] = np.where(majority, weights, np.uint64(0)).sum(
        axis=1, dtype=np.uint64
    )
    return out


def minhash_params(num_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) parameter vectors for the multiply-add hash family, a odd."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 62, size=num_perms).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 62, size=num_perms).astype(np.uint64)
    return a, b


#: modulus for the SQL-mirrorable MinHash twin (Mersenne prime 2^31 - 1):
#: with 32-bit shingle hashes and a < 2^30, a*h + b < 2^63 — every step of
#: min((a*h + b) mod p) stays in signed-64 range on BOTH engines, so the
#: permutation arithmetic can be stated verbatim in DuckDB SQL.
SQL_MINHASH_P = (1 << 31) - 1


def small_minhash_params(num_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Bounded (a, b) for the SQL-mirrorable MinHash twin — the same
    multiply-add permutation family as ``minhash_params`` (a odd, seeded
    RandomState), with ranges small enough (a < 2^30, b < SQL_MINHASH_P) that
    the arithmetic is expressible in 64-bit SQL integers.  Used by the
    ``minhash_signatures_bounded`` driver query to hash-verify the F1/F2
    shingle→permutation-min semantics against a DuckDB oracle."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 29, size=num_perms).astype(np.int64) * 2 + 1
    b = rng.randint(0, SQL_MINHASH_P, size=num_perms).astype(np.int64)
    return a, b


def minhash_signatures_np(
    shingle_arrays: list[np.ndarray], num_perms: int, seed: int
) -> np.ndarray:
    """List-of-arrays convenience wrapper over ``minhash_flat``."""
    counts = np.fromiter(
        (s.shape[0] for s in shingle_arrays), dtype=np.int64,
        count=len(shingle_arrays),
    )
    S = (
        np.concatenate([s for s in shingle_arrays if s.shape[0] > 0])
        if counts.sum() > 0
        else np.empty(0, dtype=np.uint64)
    )
    return minhash_flat(S, counts, num_perms, seed)


def simhash_np(shingle_arrays: list[np.ndarray]) -> np.ndarray:
    """List-of-arrays convenience wrapper over ``simhash_flat``.

    bit b of the output is 1 iff ≥ half the doc's shingles have bit b set.
    """
    counts = np.fromiter(
        (s.shape[0] for s in shingle_arrays), dtype=np.int64,
        count=len(shingle_arrays),
    )
    S = (
        np.concatenate([s for s in shingle_arrays if s.shape[0] > 0])
        if counts.sum() > 0
        else np.empty(0, dtype=np.uint64)
    )
    return simhash_flat(S, counts)


def hamming64_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Element-wise Hamming distance between uint64 arrays."""
    x = np.bitwise_xor(a, b)
    bits = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1)
    return bits.sum(axis=1)
