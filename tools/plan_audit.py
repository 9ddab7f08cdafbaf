"""Physical-plan audit: `.explain("formatted")` for the flagship pipeline and
every contract query that declares a plan property in ``__spark_entry__``
(``@contract(plan=..., must=..., must_not=...)``), asserting the properties
that matter at 100TB:

* parquet scans carry PushedFilters + pruned ReadSchema (no full-row reads);
* dimension joins are BroadcastHashJoin (no shuffle on the fact side);
* relational stages run inside WholeStageCodegen;
* a guarded kernel stage is one scan, one Exchange and one ArrowEvalPython
  node (``nodes``: exact counts in the final and the initial plan tree).

Writes the annotated evidence to PLANS.md with expression, plan, RDD and
lambda-variable ids normalized, so the file diffs only when a plan changes.
Exits 1 if an assertion fails.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# ids drawn from JVM-global counters: they renumber whenever any earlier
# query changes, which would bury a real plan change in the diff
_RUN_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda \w+)_\d+"), r"\1_N"),
]


def plan_of(df) -> str:
    buf = io.StringIO()
    df.collect()  # finalize AQE so the plan shows what actually ran
    with redirect_stdout(buf):
        df.explain("formatted")
        # formatted mode under AQE omits codegen markers; simple mode shows
        # whole-stage codegen as `*(n)` stage prefixes — append it for checks
        df.explain(mode="simple")
    return buf.getvalue()


def normalize_ids(plan: str) -> str:
    for pat, repl in _RUN_IDS:
        plan = pat.sub(repl, plan)
    return plan


def node_counts(plan: str, name: str) -> list[int]:
    """Nodes called ``name`` in each plan tree: AQE's final and initial
    plan (at run time AQE drops a branch that turned out empty, after
    running it), else the one tree."""
    trees = [seg.split("\n\n")[0] for seg in plan.split("== Initial Plan ==")[:2]]
    return [len(re.findall(rf"\b{re.escape(name)}\s+\(\d+\)", t)) for t in trees]


def violations(plan: str, c) -> list[str]:
    notes = [f"MISSING: {m}" for m in c.must if m not in plan]
    notes += [f"UNEXPECTED: {m}" for m in c.must_not if m in plan]
    for name, want in c.nodes.items():
        got = node_counts(plan, name)
        if any(n != want for n in got):
            notes.append(f"NODES: {name} x{got} (target: {want})")
    return notes


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from html_parser_spark.spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=8)
    # explain cuts scan metadata (DataFilters, PushedFilters, ...) to 100
    # characters by default, before normalize_ids runs: a digit-count shift
    # in an earlier query's ids would then move the cut.  Whole lines only.
    spark.conf.set("spark.sql.maxMetadataStringLength", 1 << 20)
    checks = []  # (name, plan, notes)
    for name, c in entrymod.contracts().items():
        if c.plan is not None:
            p = plan_of(c.fn(spark, sf_dir, **c.plan_kwargs))
            checks.append((f"{name} — {c.plan}", p, violations(p, c)))
    spark.stop()

    failures = []
    out = ["# Physical-plan audit (generated by tools/plan_audit.py)\n"]
    out.append(
        "Checked properties: predicate pushdown reaches the parquet scan, "
        "column pruning (ReadSchema), broadcast joins for dimensions, "
        "whole-stage codegen spans, and one scan, one Exchange and one "
        "ArrowEvalPython node per guarded kernel stage.  Expression, plan, RDD "
        "and lambda-variable ids are normalized to `N`.\n"
    )
    for name, plan, notes in checks:
        status = "FAIL" if notes else "OK"
        print(f"{status} {name}" + (f" — {notes}" if notes else ""))
        if notes:
            failures.append(name)
        out.append(f"## {status}: {name}\n")
        if notes:
            out.append("\n".join(f"- {n}" for n in notes) + "\n")
        out.append("```\n" + normalize_ids(plan.strip())[:3500] + "\n```\n")
    print(f"{len(checks) - len(failures)}/{len(checks)} OK")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
