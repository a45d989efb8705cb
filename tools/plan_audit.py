"""Physical-plan audit for every driver query → BENCH/PLANS.md.

Captures ``explain("formatted")`` at sf0.001 and greps each plan for
scale red flags:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic joins; only
  allowed in the deliberately-bounded brute-force oracle queries.
* ``BatchEvalPython`` — row-at-a-time Python UDF (the slow path the north
  rule forbids); Arrow-vectorized stages show as ``ArrowEvalPython`` /
  ``MapInPandas`` instead.
* the same Python UDF in more than one ``ArrowEvalPython`` / ``MapInPandas``
  node — the kernel runs more than once per row: a filter on a UDF struct
  field pushed below its projection plans the UDF on both sides of the
  Filter, and an uncached UDF frame is re-evaluated for each consumer.
  Nodes in different branches of one ``Union`` each run it over their own
  rows and do not count.

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


def _plan_tree(text: str) -> tuple[dict[str, str | None], dict[str, str], set[str]]:
    """The tree section of an ``explain("formatted")`` plan, walked by
    indentation: each node id's parent and operator name (at its first
    occurrence: a cached relation prints its plan once per scan), and the
    node ids printed only under an ``== Initial Plan ==`` header.  An
    executed AQE plan (and a cached relation inside any plan) prints its
    pre-execution plan next to the final one; a node that shows up only
    there never runs."""
    parent: dict[str, str | None] = {}
    names: dict[str, str] = {}
    initial: set[str] = set()
    elsewhere: set[str] = set()
    header = None  # column of the skipped Initial Plan header's "+-"
    open_nodes: list[tuple[int, str]] = []  # (indent, id) of the ancestors
    for line in text.split("\n\n", 1)[0].splitlines():
        body = line.lstrip(" :+-")
        indent = len(line) - len(body)
        if header is not None and indent <= header:
            header = None
        if header is None and body.startswith("== Initial Plan =="):
            # its root prints at the header text's column, below the "+-"
            header = indent - 3
            continue
        node = re.match(r"([^(]*)\((\d+)\)", body)
        if not node:
            continue
        nid = node.group(2)
        while open_nodes and open_nodes[-1][0] >= indent:
            open_nodes.pop()
        parent.setdefault(nid, open_nodes[-1][1] if open_nodes else None)
        names.setdefault(nid, node.group(1).strip(" *"))
        open_nodes.append((indent, nid))
        (initial if header is not None else elsewhere).add(nid)
    return parent, names, initial - elsewhere


def _python_eval_nodes(text: str) -> dict[str, list[str]]:
    """Node id → UDF calls in the Arguments line, for each Python-evaluation
    node of the plan that runs (initial AQE plans skipped)."""
    skip = _plan_tree(text)[2]
    nodes = {}
    for block in text.split("\n\n"):
        head = re.match(r"^\((\d+)\) (\w+)", block.strip())
        if not head or head.group(2) not in PY_EVAL_NODES or head.group(1) in skip:
            continue
        args = re.search(r"^Arguments: (.*)$", block, re.M)
        nodes[head.group(1)] = _udf_calls(args.group(1)) if args else []
    return nodes


def python_eval_udfs(text: str) -> list[list[str]]:
    """One entry per Python-evaluation node of an ``explain("formatted")``
    plan that runs (initial AQE plans skipped): the UDF calls in that
    node's Arguments line."""
    return list(_python_eval_nodes(text).values())


def repeated_udf(text: str) -> str | None:
    """A Python UDF that two nodes of the plan evaluate over the same rows,
    if any.  The branches of a union share a projected UDF's result id but
    each runs it over its own rows, so two nodes whose lowest common
    ancestor is a ``Union`` are not a repeat; a self-join's two sides are."""
    parent, names, _ = _plan_tree(text)

    def ancestors(nid: str | None) -> list[str]:
        chain = []
        while nid is not None:
            chain.append(nid)
            nid = parent.get(nid)
        return chain

    first: dict[str, str] = {}  # UDF → the first node that evaluates it
    for nid, udfs in _python_eval_nodes(text).items():
        for udf in udfs:
            other = first.setdefault(udf, nid)
            if other == nid:
                continue
            above = set(ancestors(other))
            lca = next((a for a in ancestors(nid) if a in above), None)
            if names.get(lca) != "Union":
                return udf
    return None


def audit(name: str, text: str) -> list[str]:
    flags: list[str] = []
    if udf := repeated_udf(text):
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
