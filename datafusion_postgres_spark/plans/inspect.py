"""Physical-plan inspection helpers.

The reference adds no optimizer work (SURVEY.md §4) — Catalyst supplies
pushdown/pruning/broadcast. These helpers make those properties
*assertable*: tests pin that filters reach the parquet scan, projections
prune columns, small sides broadcast, and shuffle counts stay flat as
operators evolve. That is the 100 TB insurance: a regression that turns a
broadcast join into a shuffle join fails a unit test here, long before it
fails a cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def scan_columns(df: DataFrame) -> list[set[str]]:
    """ReadSchema column sets per parquet scan — assert column pruning."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",")
                if c.strip()}
        out.append(cols)
    return out


def count_shuffles(df: DataFrame) -> int:
    plan = simple_plan(df)
    return (plan.count("Exchange hashpartitioning") +
            plan.count("Exchange rangepartitioning"))


def uses_broadcast(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or \
        "BroadcastNestedLoopJoin" in formatted_plan(df)


_TPCH_PREFIX = {"c_": "customer", "o_": "orders", "l_": "lineitem",
                "s_": "supplier", "n_": "nation", "r_": "region",
                "p_": "part"}


def forced_broadcast_tables(df: DataFrame) -> set[str]:
    """Base tables scanned UNDER any forced-broadcast hint subtree, named
    by their TPC-H column prefix (Relation nodes print columns, not
    paths). Non-TPC-H relations report their first column name."""
    plan = df._jdf.queryExecution().analyzed().toString()
    lines = plan.splitlines()
    out: set[str] = set()

    def depth(s: str) -> int:
        i = 0
        while i < len(s) and s[i] in " :+-":
            i += 1
        return i

    for idx, ln in enumerate(lines):
        if "ResolvedHint" not in ln:
            continue
        d = depth(ln)
        for sub in lines[idx + 1:]:
            if sub.strip() and depth(sub) <= d:
                break
            m = re.search(r"Relation \[([A-Za-z0-9_]+)", sub)
            if m:
                col = m.group(1).split("#")[0]
                out.add(_TPCH_PREFIX.get(col[:2], col))
    return out


# ---------------------------------------------------------------------------
# Executed-plan SQLMetrics (actuals, not estimates).
#
# The reference's EXPLAIN ANALYZE prints per-node actual rows (DataFusion
# metrics via handlers.rs); Spark records the same numbers as SQLMetrics
# on the executed physical plan. These helpers walk that tree AFTER an
# action has run, surfacing runtime shuffle-row counts — the number the
# 100 TB scale-stress pins assert on (plan *shape* says a join is
# bucketed; shuffle *row counts* prove the fan-out stayed linear).

def executed_nodes(df: DataFrame) -> list[dict]:
    """Post-execution plan nodes as [{'node', 'cls', 'metrics'}] in
    pre-order. Requires an action (collect/count/write) to have run on
    THIS DataFrame — metrics are zero/absent before execution. Follows
    AQE wrappers (AdaptiveSparkPlan -> final plan, QueryStage -> plan,
    ReusedExchange -> child) and de-duplicates re-used subtrees by plan
    node id so summing a metric never double-counts."""
    out: list[dict] = []
    seen: set[int] = set()

    def metric_map(n) -> tuple[dict[str, int], dict[str, str]]:
        ms, ts = {}, {}
        it = n.metrics().iterator()
        while it.hasNext():
            e = it.next()
            m = e._2()
            ms[e._1()] = m.value()
            ts[e._1()] = m.metricType()  # sum | size | timing | nsTiming
        return ms, ts

    def walk(n):
        nid = n.id()
        if nid in seen:
            return
        seen.add(nid)
        cls = n.getClass().getSimpleName()
        ms, ts = metric_map(n)
        out.append({"node": n.nodeName(), "cls": cls,
                    "metrics": ms, "metric_types": ts})
        if cls == "AdaptiveSparkPlanExec":
            walk(n.executedPlan())
            return
        if "QueryStageExec" in cls:
            walk(n.plan())
            return
        if cls == "ReusedExchangeExec":
            walk(n.child())
            return
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def shuffle_rows_written(df: DataFrame) -> int:
    """Total records written across every shuffle exchange of the executed
    plan — THE quadratic-blowup detector: a df-capped pair join's shuffle
    volume stays O(docs x cap), an uncapped hot key makes this explode."""
    return sum(n["metrics"].get("shuffleRecordsWritten", 0)
               for n in executed_nodes(df)
               if n["cls"] == "ShuffleExchangeExec")


def max_node_output_rows(df: DataFrame) -> int:
    """Largest per-node actual numOutputRows in the executed plan — bounds
    the widest intermediate (e.g. the candidate-pair stream of a
    similarity self-join) independent of where shuffles landed."""
    return max((n["metrics"].get("numOutputRows", 0)
                for n in executed_nodes(df)), default=0)
