"""Plan-inspection helpers: assert the physical plans we expect, and the
engine's own Catalyst probes.

The reference has no optimizer to inspect (eager execution); here Catalyst
produces plans and these helpers make plan shape testable — filter pushdown
reached the scan, a join is broadcast, no single-partition exchange hides in
an 'order-dependent' operator.

Every read of the private JVM plan objects lives here. The engine probes
return plain Python values and fall back to the conservative answer when
Catalyst's internals move (a probe failure may cost speed, never results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF


def physical_plan(sdf: SDF) -> str:
    return sdf._jdf.queryExecution().executedPlan().toString()


def optimized_plan(sdf: SDF) -> str:
    return sdf._jdf.queryExecution().optimizedPlan().toString()


def limit_bounded(sdf: SDF, bound: int) -> bool:
    """True when the ANALYZED plan proves at most ``bound`` rows AND the
    bound comes from a LIMIT truncating a bigger source. The analyzed plan
    is already computed for schema access (the optimizer pass would cost
    ~0.2 s of driver build per call); a LocalRelation's own row count also
    defines maxRows, but replaying driver-resident rows is free, so only a
    GlobalLimit counts."""
    try:
        analyzed = sdf._jdf.queryExecution().analyzed()
        mx = analyzed.maxRows()
        return (
            mx.isDefined() and int(mx.get()) <= bound
            and "GlobalLimit" in analyzed.toString()
        )
    except Exception:
        return False


_DEEP_NODES = {
    "Join", "Aggregate", "Sort", "Window", "Union", "Generate",
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
}


def shallow_catalog_scan(sdf: SDF) -> bool:
    """True when the analyzed plan is a bare catalog-table scan (filters/
    projections only, a ``spark_catalog`` SubqueryAlias). Walks logical-plan
    node CLASSES instead of stringifying the whole analyzed tree (toString
    is O(plan-text) driver work on deep chains); only SubqueryAlias nodes
    render a short simpleString to spot the catalog qualifier."""
    try:
        plan = sdf._jdf.queryExecution().analyzed()
    except Exception:
        return False
    stack, catalog = [plan], False
    try:
        while stack:
            p = stack.pop()
            name = p.nodeName()
            if name in _DEEP_NODES:
                return False
            if name == "SubqueryAlias" and "spark_catalog" in p.simpleString(2):
                catalog = True
            ch = p.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    except Exception:
        return False
    return catalog


def size_estimate(sdf: SDF) -> int | None:
    """The optimizer's size estimate in bytes, or None."""
    try:
        return int(sdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def output_partitions(sdf: SDF) -> int:
    """Partition count of the physical plan's output, read from the plan
    instead of ``df.rdd`` (the RDD conversion forces a full plan translation
    per call); falls back to the RDD probe."""
    try:
        return sdf.sparkSession._jsparkSession.sessionState().executePlan(
            sdf._jdf.queryExecution().logical(),
            sdf._jdf.queryExecution().mode(),
        ).executedPlan().outputPartitioning().numPartitions()
    except Exception:
        return sdf.rdd.getNumPartitions()


def has_pushed_filters(sdf: SDF) -> bool:
    """True if the parquet scan carries PushedFilters."""
    plan = physical_plan(sdf)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_columns(sdf: SDF) -> list[str]:
    """Columns in the scan ReadSchema (checks column pruning)."""
    import re

    plan = physical_plan(sdf)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [f.split(":")[0] for f in m.group(1).split(",") if f]

def uses_broadcast_join(sdf: SDF) -> bool:
    return "BroadcastHashJoin" in physical_plan(sdf) or "BroadcastNestedLoopJoin" in physical_plan(sdf)


def unsafe_single_partition_exchanges(sdf: SDF) -> int:
    """SinglePartition exchanges whose child is NOT an aggregate.

    The block/carry two-pass scheme deliberately funnels per-block aggregates
    (#blocks rows) through one partition — bounded and safe. A SinglePartition
    exchange over non-aggregated data is the real scale hazard (a global
    window over every row)."""
    lines = physical_plan(sdf).splitlines()
    unsafe = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "HashAggregate" not in child and "SortAggregate" not in child and "ObjectHashAggregate" not in child:
            unsafe += 1
    return unsafe
