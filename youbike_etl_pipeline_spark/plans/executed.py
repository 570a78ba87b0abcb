"""What the planner decided: the physical plans Spark executed.

Plans are read from the SQL status store, so every execution counts, eager
ones inside query construction included, and an adaptive plan is read as it
finished, after its re-optimizations."""

from __future__ import annotations

import re
from collections import Counter
from typing import Callable

from pyspark.sql import SparkSession

#: A node line of a formatted plan tree: tree glyphs, a codegen star, the
#: node's name and its id, e.g. ``:  +- * BroadcastHashJoin Inner BuildRight (12)``.
_NODE = re.compile(r"^[ :|+\-*]*([A-Za-z]\w*)[^\n]*? \(\d+\)(, Statistics\(.*\))?$")
_INITIAL = "+- == Initial Plan =="


def executed_plans(spark: SparkSession, run: Callable[[], object]) -> list[str]:
    """Formatted physical plans of every SQL execution ``run()`` starts."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()  # a Scala Seq
        return [seq.apply(i) for i in range(seq.size())]

    before = {e.executionId() for e in executions()}
    run()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in before]


def operator_counts(plans: list[str]) -> Counter:
    """Node names in the executed trees of ``plans``. An adaptive plan's
    ``Initial Plan`` subtree is what the planner chose before any stage ran,
    so it is skipped: only the final plan counts."""
    counts: Counter = Counter()
    for plan in plans:
        skip_col = None
        for line in plan.splitlines():
            if skip_col is not None and len(line) > skip_col and not line[: skip_col + 1].strip(" :|"):
                continue
            skip_col = None
            if line.lstrip(" :|").startswith(_INITIAL):
                skip_col = line.index(_INITIAL)
                continue
            node = _NODE.match(line)
            if node:
                counts[node.group(1)] += 1
    return counts
