"""Whole-board plan hygiene gate (tools/plan_sweep.py is the CLI face).

Explains EVERY driver-contract query at sf0.01 — planning only, nothing
executes beyond fixture materialization — and asserts the scale
invariants the per-query pins in test_plans.py check locally:

- ``BatchEvalPython`` (row-at-a-time Python UDF) appears NOWHERE: all
  Python on the board rides Arrow (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas).
- ``CartesianProduct``, ``BroadcastNestedLoopJoin`` and ``Exchange
  SinglePartition`` appear only in whitelisted queries where the pattern
  is a bounded scalar shape (a 1-row global aggregate broadcast-crossed
  onto the data, or the final single-partition agg of a tiny report).
  No query on the crawl board needs one, so every whitelist is empty.

Any query OUTSIDE a whitelist growing one of these markers is a plan
regression and fails here, board-wide, without needing a bespoke pin.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"

CARTESIAN_OK: set[str] = set()
NESTED_LOOP_OK: set[str] = set()
SINGLE_PARTITION_OK: set[str] = set()


def test_every_query_plan_is_scale_clean(spark):
    qs = entrymod.queries()
    violations = []
    for name in sorted(qs):
        plan = (qs[name](spark, SF_DIR)
                ._jdf.queryExecution().executedPlan().toString())
        if "BatchEvalPython" in plan:
            violations.append(f"{name}: row-at-a-time Python UDF")
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
            violations.append(f"{name}: BroadcastNestedLoopJoin")
        if "Exchange SinglePartition" in plan \
                and name not in SINGLE_PARTITION_OK:
            violations.append(f"{name}: Exchange SinglePartition")
    assert not violations, "plan regressions:\n" + "\n".join(violations)
