"""Physical-plan audit: `.explain("formatted")` for the flagship pipeline and
every contract query that declares a plan property in ``__spark_entry__``
(``@contract(plan=..., must=..., must_not=...)``), asserting the properties
that matter at 100TB:

* parquet scans carry PushedFilters + pruned ReadSchema (no full-row reads);
* dimension joins are BroadcastHashJoin (no shuffle on the fact side);
* relational stages run inside WholeStageCodegen;
* the extraction pipeline has exactly one ArrowEvalPython stage.

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


def violations(plan: str, must, must_not) -> list[str]:
    return [f"MISSING: {m}" for m in must if m not in plan] + [
        f"UNEXPECTED: {m}" for m in must_not if m in plan
    ]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages
    from html_parser_spark.spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=8)

    pages = synthetic_pages_df(spark, sf_dir, paragraphs=1)
    p = plan_of(extract_pages(pages, num_partitions=8))
    # count only the executed tree (AQE prints Final + Initial plans)
    n_arrow = len(re.findall(r"ArrowEvalPython \(\d+\)", p.split("== Initial Plan ==")[0]))
    notes = violations(p, ["ArrowEvalPython", "Exchange"], [])
    if n_arrow != 1:
        notes.append(f"ArrowEvalPython stages: {n_arrow} (target: 1)")
    # (name, plan, notes)
    checks = [
        ("extraction pipeline — ONE fused ArrowEvalPython stage, salted exchange", p, notes)
    ]
    for name, c in entrymod.contracts().items():
        if c.plan is not None:
            p = plan_of(c.fn(spark, sf_dir, **c.plan_kwargs))
            checks.append((f"{name} — {c.plan}", p, violations(p, c.must, c.must_not)))
    spark.stop()

    failures = []
    out = ["# Physical-plan audit (generated by tools/plan_audit.py)\n"]
    out.append(
        "Checked properties: predicate pushdown reaches the parquet scan, "
        "column pruning (ReadSchema), broadcast joins for dimensions, "
        "whole-stage codegen spans, and a single fused ArrowEvalPython stage "
        "for the parse pipeline.  Expression, plan, RDD and lambda-variable "
        "ids are normalized to `N`.\n"
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
    out.append(f"\nArrowEvalPython stages in extraction plan: {n_arrow} (target: 1)\n")
    print(f"ArrowEvalPython stages in extraction plan: {n_arrow}")
    print(f"{len(checks) - len(failures)}/{len(checks)} OK")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
