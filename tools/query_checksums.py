"""Full-row checksums for every registered query — the equivalence gate for
optimization work: (row_count, bit_xor(xxhash64(to_json(struct(*))))) per
query must be IDENTICAL before and after a restructure.

Each query's entry ends with a leak report: the number of RDDs still in
block storage after the query's ``release_caches(blocking=True)``.  The
script exits non-zero, naming the queries, if any query leaves more RDDs in
storage than there were before it ran.

Usage: python tools/query_checksums.py [out.json] [query ...]
Defaults: all QUERIES + RETIRED_ROWS_ONLY at $SPARK_GRAFT_SF_DIR.
Output: {query: [row_count, checksum, rdds_in_storage]} (``"ERR"`` and the
message in place of the first two when the query fails).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from camden_spark.session import default_cores, get_spark

    cores = default_cores()
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/query_checksums.json"
    import bench
    from camden_spark.entry_queries import QUERIES, RETIRED_ROWS_ONLY
    from camden_spark.plans.caches import release_caches

    lookup = {**RETIRED_ROWS_ONLY, **QUERIES}
    names = sys.argv[2:] or list(lookup)
    spark = get_spark("camden_spark_checksums", cores=cores)
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    out: dict[str, list] = {}
    leaked = []
    for name in names:
        before = len(storage())
        try:
            n, chk = bench._force(lookup[name](spark, sf_dir))
            out[name] = [n, chk]
        except Exception as exc:  # noqa: BLE001 - record, keep going
            out[name] = ["ERR", str(exc)[:200]]
        release_caches(blocking=True)
        out[name].append(len(storage()))
        if out[name][-1] > before:
            leaked.append(name)
        print(name, out[name], flush=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    spark.stop()
    if leaked:
        sys.exit(f"storage left behind after release: {', '.join(leaked)}")


if __name__ == "__main__":
    main()
