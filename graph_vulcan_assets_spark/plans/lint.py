"""Physical-plan linting: detect the scale anti-patterns that pass every
correctness test and then die at 100 TB.

The plan guards in tests/test_plans.py pin KNOWN queries; this module is
the same knowledge as a reusable check for NEW queries — call
``lint(df)`` during development (or wire ``assert_scales(df)`` into a
pipeline's CI) before shipping an operator.

Checks (each is a documented production incident class):

- ``cartesian``      CartesianProduct / BroadcastNestedLoopJoin — O(n·m)
                     pair generation; usually a missing equi-condition or
                     a range join that should be bucketed.
- ``global-window``  a window function over ``Exchange SinglePartition`` —
                     the whole relation funnels through ONE task.
- ``global-sort-no-limit`` a total-order Sort with no limit above it —
                     legitimate only for final ordered output; flagged so
                     the author confirms it's intentional.
- ``no-pushdown``    a parquet scan whose ``PushedFilters`` is empty while
                     the plan filters the same relation above the scan —
                     the filter runs after a full read.

``lint`` returns findings (possibly empty); ``assert_scales`` raises.
These are heuristics over ``explain('formatted')`` text — precise enough
for the anti-patterns above, and deliberately conservative elsewhere.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class Finding:
    code: str
    detail: str

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"[{self.code}] {self.detail}"


def plan_text(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def lint(df: DataFrame) -> list[Finding]:
    p = plan_text(df)
    lines = p.splitlines()
    findings: list[Finding] = []

    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if node in p:
            findings.append(
                Finding(
                    "cartesian",
                    f"{node} in plan — pair generation is O(n*m); bucket the "
                    "range/similarity condition into an equi-join or broadcast "
                    "a provably tiny side",
                )
            )
    # window running on a single partition: look for a Window node whose
    # nearby exchange is SinglePartition
    for i, line in enumerate(lines):
        if re.search(r"\(\d+\) Window", line):
            ctx = "\n".join(lines[max(0, i - 6) : i + 2])
            if "SinglePartition" in ctx:
                findings.append(
                    Finding(
                        "global-window",
                        "window function over Exchange SinglePartition — the "
                        "whole relation funnels through one task; partition "
                        "the window or use a counting-rank decomposition",
                    )
                )
                break
    # global sort that is not a top-k (TakeOrderedAndProject handles those)
    if re.search(r"\(\d+\) Sort\b", p) and "TakeOrderedAndProject" not in p:
        sort_lines = [l for l in lines if re.search(r"\(\d+\) Sort\b", l)]
        if any("global=true" in "".join(lines[i : i + 4])
               for i, l in enumerate(lines) if re.search(r"\(\d+\) Sort\b", l)) or (
            "rangepartitioning" in p
        ):
            if "GlobalLimit" not in p and "CollectLimit" not in p:
                findings.append(
                    Finding(
                        "global-sort-no-limit",
                        f"total-order sort without a limit ({len(sort_lines)} "
                        "Sort node(s)) — fine for final ordered output, a "
                        "scale bug anywhere upstream",
                    )
                )
    # empty pushdown under an active Filter
    if re.search(r"\(\d+\) Filter", p):
        for line in lines:
            if "PushedFilters: []" in line:
                findings.append(
                    Finding(
                        "no-pushdown",
                        "plan filters rows but the parquet scan has "
                        "PushedFilters: [] — the predicate may not be "
                        "pushable (expression over the column?); a full read "
                        "precedes the filter",
                    )
                )
                break
    return findings


def assert_scales(df: DataFrame, allow: set[str] | None = None) -> None:
    """Raise AssertionError if ``lint`` finds anything not in ``allow``.

    ``allow`` lists finding codes the caller has REVIEWED and accepts
    (e.g. {'global-sort-no-limit'} for a final ordered report, or
    {'cartesian'} for a broadcast-bounded pair generator)."""
    findings = [f for f in lint(df) if f.code not in (allow or set())]
    if findings:
        raise AssertionError(
            "plan has scale anti-patterns:\n  " + "\n  ".join(map(str, findings))
        )
