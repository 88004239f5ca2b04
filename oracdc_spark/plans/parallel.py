"""Parallelism guard for CPU-heavy per-row stages.

Small test corpora arrive as ONE parquet file → one input partition → one
core does all the shingling/hashing unless we repartition.  But
``repartition()`` is a full exchange of the corpus — at 100 TB the input
already has thousands of splits and an unconditional repartition would
add a pointless full shuffle in front of every operator (round-1 verdict
item 6; note that AQE does NOT remove an explicit ``repartition(n)``).

``ensure_parallelism`` therefore repartitions only when the input has
fewer partitions than ``spark.sql.shuffle.partitions``; at scale it is
the identity and the plan stays shuffle-free up to the operator's own
keyed exchange.  The target is the session's shuffle-partition setting,
not ``defaultParallelism``: the count is baked into the analyzed plan
as ``Repartition <n>``, so it must be a configured value, not the core
count of whichever host builds the plan.

The partition-count probe is restricted to NARROW (scan-shaped) plans:
under AQE, ``df.rdd`` on a plan containing exchanges EXECUTES every
intermediate query stage eagerly (AdaptiveSparkPlanExec materializes its
stages when asked for an RDD), which would launch corpus-sized jobs at
plan-construction time — the exact anti-pattern the lazy-builder gate
forbids.  A plan that already contains a wide node (join / aggregate /
window / sort / distinct / explicit repartition) gets its output
partitioning from ``spark.sql.shuffle.partitions`` / AQE anyway, so the
guard is correctly the identity there and no probe is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Logical nodes whose presence implies the plan's output partitioning is
# governed by the shuffle layer (or an explicit user repartition), not by
# the input file split count.
_WIDE_NODE_NAMES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
        "Distinct",
        "Intersect",
        "Except",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "GlobalLimit",
        "CoGroupMap",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
    }
)


def _has_wide_node(df: DataFrame) -> bool:
    """True if the ANALYZED logical plan contains a shuffle-introducing
    node.  Pure metadata walk over the py4j plan tree — no execution."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _WIDE_NODE_NAMES:
            return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return False


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``spark.sql.shuffle.partitions`` iff
    the plan is scan-shaped AND would otherwise run on fewer partitions
    than that."""
    if _has_wide_node(df):
        return df
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # narrow plan: getNumPartitions resolves file splits, launches no job
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
