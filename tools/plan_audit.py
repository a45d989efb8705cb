"""Physical-plan audit for every driver query → BENCH/PLANS.md.

Captures ``explain("formatted")`` at sf0.001 and greps each plan for
scale red flags:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic joins; only
  allowed in the deliberately-bounded brute-force oracle queries.
* ``BatchEvalPython`` — row-at-a-time Python UDF (the slow path the north
  rule forbids); Arrow-vectorized stages show as ``ArrowEvalPython`` /
  ``MapInPandas`` instead.
* parquet scans without ``PushedFilters`` when the query filters the table.
* the same Python UDF in more than one ``ArrowEvalPython`` / ``MapInPandas``
  node — the kernel runs more than once per row: a filter on a UDF struct
  field pushed below its projection plans the UDF on both sides of the
  Filter, and an uncached UDF frame is re-evaluated for each consumer.

Exit code 1 if any un-allowlisted red flag appears — runnable as a gate.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries whose nested-loop joins are deliberate bounded brute force (they
#: exist to hash-match DuckDB; each caps its input — see entry_queries.py)
ALLOW_NESTED_LOOP = {
    "embedding_near_dup",   # vec_id < 1000
    "ngram_jaccard",        # doc_id < 40
    "near_dup_clusters_exact",  # doc_id < 40
    "ann_topk",             # 5 query vectors broadcast against the corpus
}

#: queries whose operators still evaluate one Python UDF per consumer (an
#: uncached UDF frame read by several join sides or branches); they were
#: found when the repeated-UDF check was added and stay flagged in the
#: report's note until ROADMAP's item caches them
ALLOW_REPEATED_UDF = {
    "media_phash_pairs",               # synth + decode per hash-join side
    "embedding_near_dup_ivf",          # cell UDF per cell-join side
    "embedding_near_dup_ivf_planted",  # cell UDF per cell-join side
    "embedding_near_dup_lsh",          # bucket UDF per table and join side
}

#: queries whose fn() EXECUTES side-effectful work and whose returned frame's
#: plan is not the interesting one: streaming_dedup runs the whole stream and
#: returns a memory-table scan — auditing that plan is meaningless and costs
#: a full streaming run per audit.
SKIP = {"streaming_dedup"}


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


#: physical nodes that run Python code over Arrow batches
PY_EVAL_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "BatchEvalPython",
)


def _udf_calls(args: str) -> list[str]:
    """``name#exprId`` of each Python UDF call in a node's Arguments line.
    A PythonUDF prints as ``name(children)#resultId``; no other expression
    puts ``#id`` right after a closing parenthesis."""
    calls = []
    for m in re.finditer(r"\)#(\d+)", args):
        depth, i = 0, m.start()
        while i >= 0:  # back to the call's opening parenthesis
            depth += {")": 1, "(": -1}.get(args[i], 0)
            if depth == 0:
                break
            i -= 1
        name = re.search(r"(\w+)$", args[:max(i, 0)])
        calls.append(f"{name.group(1) if name else '?'}#{m.group(1)}")
    return calls


def _initial_plan_ids(text: str) -> set[str]:
    """Node ids printed only under an ``== Initial Plan ==`` header of the
    plan tree.  An executed AQE plan (and a cached relation inside any plan)
    prints its pre-execution plan next to the final one; a node that shows
    up only there never runs."""
    initial: set[str] = set()
    elsewhere: set[str] = set()
    header = None  # column of the skipped Initial Plan header's "+-"
    for line in text.split("\n\n", 1)[0].splitlines():
        body = line.lstrip(" :+-")
        indent = len(line) - len(body)
        if header is not None and indent <= header:
            header = None
        if header is None and body.startswith("== Initial Plan =="):
            # its root prints at the header text's column, below the "+-"
            header = indent - 3
            continue
        node = re.match(r"[^(]*\((\d+)\)", body)
        if node:
            (initial if header is not None else elsewhere).add(node.group(1))
    return initial - elsewhere


def python_eval_udfs(text: str) -> list[list[str]]:
    """One entry per Python-evaluation node of an ``explain("formatted")``
    plan that runs (initial AQE plans skipped): the UDF calls in that
    node's Arguments line."""
    skip = _initial_plan_ids(text)
    nodes = []
    for block in text.split("\n\n"):
        head = re.match(r"^\((\d+)\) (\w+)", block.strip())
        if not head or head.group(2) not in PY_EVAL_NODES or head.group(1) in skip:
            continue
        args = re.search(r"^Arguments: (.*)$", block, re.M)
        nodes.append(_udf_calls(args.group(1)) if args else [])
    return nodes


def repeated_udf(text: str) -> str | None:
    """A Python UDF that more than one node of the plan evaluates, if any."""
    seen: set[str] = set()
    for udfs in python_eval_udfs(text):
        twice = seen.intersection(udfs)
        if twice:
            return sorted(twice)[0]
        seen.update(udfs)
    return None


def audit(name: str, text: str) -> list[str]:
    flags: list[str] = []
    udf = repeated_udf(text)
    if udf and name not in ALLOW_REPEATED_UDF:
        flags.append(f"Python UDF evaluated in two plan nodes: {udf}")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", text):
        if name not in ALLOW_NESTED_LOOP:
            flags.append("nested-loop join outside the bounded-brute-force allowlist")
    if "BatchEvalPython" in text:
        flags.append("row-at-a-time Python UDF (BatchEvalPython) in the plan")
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from camden_spark.session import get_spark

    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    sections: list[str] = []
    rows: list[str] = []
    failures = 0
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        if name in SKIP and not only:
            rows.append(f"| {name} | — | — | — | skipped (runs a stream; plan is a memory-table scan) |")
            continue
        try:
            df = fn(spark, sf_dir)
            text = plan_text(df)
        except Exception as e:  # plan-time failure is itself a red flag
            rows.append(f"| {name} | — | — | — | PLAN ERROR: {e} |")
            failures += 1
            continue
        n_codegen = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", text)))
        n_exchange = text.count("Exchange ")
        n_arrow = (
            text.count("ArrowEvalPython")
            + text.count("MapInPandas")
            + text.count("FlatMapGroupsInPandas")
        )
        flags = audit(name, text)
        failures += len(flags)
        note = "; ".join(flags) if flags else (
            "bounded brute force (oracle query)" if name in ALLOW_NESTED_LOOP
            and re.search(r"CartesianProduct|BroadcastNestedLoopJoin", text)
            else "known: Python UDF evaluated per consumer (ROADMAP)"
            if name in ALLOW_REPEATED_UDF and repeated_udf(text)
            else "ok"
        )
        rows.append(
            f"| {name} | {n_codegen} | {n_exchange} | {n_arrow} | {note} |"
        )
        sections.append(f"## {name}\n\n```\n{text.strip()}\n```\n")
        print(("FLAG  " if flags else "ok    ") + f"{name}: {note}")

    md = (
        "# Physical plans — driver queries (sf0.001, local[8])\n\n"
        "Generated by tools/plan_audit.py; regenerate after plan changes.\n"
        "Red flags checked: nested-loop joins outside the bounded oracle\n"
        "allowlist, row-at-a-time Python UDFs (BatchEvalPython), one Python\n"
        "UDF evaluated in two plan nodes.\n\n"
        "| query | codegen spans | exchanges | arrow-UDF stages | audit |\n"
        "|---|---|---|---|---|\n"
        + "\n".join(rows)
        + "\n\n"
        + "\n".join(sections)
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCH", "PLANS.md")
    if not only:  # partial runs shouldn't clobber the full report
        with open(out, "w") as f:
            f.write(md)
        print(f"\nwrote {out}")
    print(f"{failures} flags")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
