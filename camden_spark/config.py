"""Pipeline configuration.

The reference's only configuration is ``CliConfig`` (reference src/cli.rs:6-12:
root, target, threading mode, extension allow-list). Our analog is a frozen
dataclass pinning every semantic knob that cluster assignments depend on —
shingle size, MinHash permutation count, LSH band layout, SimHash radius,
hash seeds — so that "same shingle/signature config" recall comparisons are
well-defined and the checkpoint manifest can key on a config hash.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

#: Mersenne prime 2^61 - 1: modulus for the universal-hash family used by
#: MinHash permutations.  Fits in uint64 with headroom for mod arithmetic.
MERSENNE_61 = (1 << 61) - 1

#: pandas.util.hash_array's default 16-byte key — pinned explicitly so token /
#: shingle hashing is deterministic across pandas versions and processes.
HASH_KEY = "0123456789123456"


@dataclass(frozen=True)
class DedupConfig:
    """All knobs that affect cluster assignments (and therefore recall).

    Defaults follow the north rule: 5-gram shingles, 128-permutation MinHash
    laid out as 32 bands x 4 rows (LSH threshold ~ (1/32)^(1/4) ≈ 0.42 Jaccard,
    steep around ~0.8), 64-bit SimHash with Hamming radius 3.
    """

    # --- exact stage ---------------------------------------------------
    #: content checksum algorithm for the exact-dup stage: "sha256" (hex) or
    #: "xxhash64" (Spark builtin, seed 42).  sha256 is the oracle-comparable
    #: choice (DuckDB sha256() matches Spark sha2(..,256) byte for byte).
    checksum_algo: str = "sha256"

    # --- shingling / MinHash -------------------------------------------
    shingle_k: int = 5              #: tokens per shingle (word 5-grams)
    minhash_perms: int = 128        #: number of MinHash permutations
    lsh_bands: int = 32             #: LSH bands (b)
    lsh_rows: int = 4               #: rows per band (r); b*r == minhash_perms
    minhash_seed: int = 42          #: seed for the (a, b) permutation params
    #: verify threshold on EXACT shingle Jaccard of candidate pairs.  0.65
    #: keeps base→child pairs of token-edited near-dups (J ≈ 0.67-0.80 at 3%
    #: token edits); LSH candidate recall at J=0.65 with b=32,r=4 is ~0.998.
    jaccard_threshold: float = 0.65
    #: drop LSH band groups larger than this (boilerplate mega-bands); dropped
    #: counts are surfaced as metrics, never silently.
    max_band_group: int = 200

    # --- SimHash --------------------------------------------------------
    simhash_bits: int = 64
    simhash_radius: int = 3         #: max Hamming distance for candidates
    #: pigeonhole blocks for the Hamming join; must be > simhash_radius
    simhash_blocks: int = 4
    max_simhash_group: int = 200

    # --- substring-overlap pass ----------------------------------------
    substr_ngram: int = 50          #: char n-gram size for winnowing
    substr_window: int = 40         #: winnowing window (guarantee length n+w-1)
    min_overlap_chars: int = 120    #: min common-substring length to pair
    #: the common substring must also cover this fraction of the SHORTER
    #: doc's normalized text — targets containment/quotation while keeping
    #: shared boilerplate headers/footers from merging distinct pages.
    min_overlap_frac: float = 0.5
    max_fingerprint_group: int = 200

    # --- text normalization --------------------------------------------
    lowercase: bool = True
    collapse_whitespace: bool = True
    #: collapse crawl-duplicate url keys (scheme/host case, default ports,
    #: tracking params, fragments — functions/web.py) before the exact
    #: stage.  Off by default: it changes the url key space and therefore
    #: cluster assignments.
    canonicalize_urls: bool = False

    # --- execution ------------------------------------------------------
    #: unused by the engine: the pipeline resplits to defaultParallelism
    #: (plans/pipeline.spread_input); only the benchmark's traced twin
    #: (perfbench/traced.py) still reads it.  Kept so config_hash, and with
    #: it checkpoint resume, does not change.
    shuffle_partitions: int = 32
    cc_max_iterations: int = 50     #: connected-components fixpoint cap

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.minhash_perms:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal minhash_perms ({self.minhash_perms})"
            )
        if self.simhash_blocks <= self.simhash_radius:
            raise ValueError(
                "simhash_blocks must exceed simhash_radius (pigeonhole)"
            )
        if self.checksum_algo not in ("sha256", "xxhash64"):
            raise ValueError(f"unknown checksum_algo {self.checksum_algo!r}")

    def config_hash(self) -> str:
        """Stable hash of all semantic knobs — keys checkpoint manifests."""
        payload = json.dumps(asdict(self), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
