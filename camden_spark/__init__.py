"""camden_spark — a from-scratch PySpark-native near-duplicate detection engine.

Generalizes the reference NeonTowel/camden (a multi-threaded checksum duplicate
finder, /root/reference/src/scanner.rs) into a web-scale dedup + clustering
pipeline over Common-Crawl-style ``pages(url, warc_ts, html, text, lang)``
tables:

* exact-dup stage (content checksums + first-wins canonical selection,
  mirroring camden's checksum-and-cluster semantics, scanner.rs:17-49)
* near-dup stage: MinHash over 5-gram shingles + LSH banding, SimHash
  Hamming-ball candidates, winnowing/suffix-array substring-overlap pass
* connected-components union over candidate pairs → cluster ids
* checkpoint/resume via snapshot directories with per-stage lineage + counters

Architecture is Spark-first: DataFrame/SQL plans optimized by Catalyst/AQE;
all heavy per-document computation runs through vectorized pandas/Arrow UDFs
(never per-row Python UDFs).
"""

from camden_spark import _zipimport

_zipimport.install()

from camden_spark.config import DedupConfig  # noqa: E402

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
