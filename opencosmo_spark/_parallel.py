"""Scale-adaptive input spreading for compute-heavy operators.

A small parquet file (one row group) scans as ONE task, so every
per-row expression an operator runs before its first exchange —
shingling, minhash lanes, neighbor fan-out, tokenize+score — executes
single-threaded no matter how many cores the cluster has. At real
scale inputs arrive in many partitions and this is a no-op; at small
scale one tiny hash exchange of the operator's input buys
full-cluster parallelism for the compute that follows (guide §2.5
"input skew: one huge unsplittable file — repartition immediately
after the read", applied at the opposite end of the size range).

The partition probe is driver-only and job-free BY CONSTRUCTION
(r15): the old ``df.rdd.getNumPartitions()`` went through the
AQE-prepared executedPlan, and on an input containing exchanges AQE
materializes every query stage EAGERLY — real shuffle jobs ran at
builder time and their results were not reused by the later action
(upstream work executed twice). The probe now walks the PRE-AQE
physical plan (``queryExecution().sparkPlan()``) node by node and
builds the RDD lineage only of a narrow chain: no ``Exchange`` node,
no subquery expression (``execute()`` would submit the subquery
job), and no node that requires a distribution of its children
(aggregates, joins, windows, global sorts and limits: the exchange
EnsureRequirements would add there repartitions the input anyway,
and a join's broadcast side would run a job). Probe results are
memoized per (session UUID, analyzed-plan semanticHash): physical
planning (~tens of ms of driver time) runs once per distinct input
shape per session instead of once per operator construction. The
semanticHash does not see the files behind a relation, so a session
that re-reads a growing directory keeps its first count — at worst
one spread too many or too few, never a wrong row.
"""

from __future__ import annotations

import os
from collections import OrderedDict

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame

# (session UUID, analyzed-plan semanticHash) -> partition count or None
# (None = plan not a narrow chain). Bounded: oldest entries evicted.
_PROBE_MEMO: OrderedDict[tuple[str, int], int | None] = OrderedDict()
_PROBE_MEMO_MAX = 256

_EXCHANGE = "org.apache.spark.sql.execution.exchange.Exchange"
_UNSPECIFIED = (
    "org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution$"
)


def _narrow_chain(gateway, plan) -> bool:
    """True when no node of the physical ``plan`` is an Exchange,
    holds a subquery expression or requires a child distribution."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if is_instance_of(gateway, node, _EXCHANGE):
            return False
        if node.subqueries().nonEmpty():
            return False
        dists = node.requiredChildDistribution()
        for i in range(dists.size()):
            if not is_instance_of(gateway, dists.apply(i), _UNSPECIFIED):
                return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return True


def _input_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s input, or None when its pre-AQE
    physical plan is not a narrow chain (see the module docstring).
    Job-free: only a narrow chain's RDD lineage is built."""
    session = df.sparkSession
    jqe = df._jdf.queryExecution()
    key = (session._jsparkSession.sessionUUID(), jqe.analyzed().semanticHash())
    if key in _PROBE_MEMO:
        _PROBE_MEMO.move_to_end(key)
        return _PROBE_MEMO[key]
    plan = jqe.sparkPlan()  # physical planning only — no execution
    n: int | None = None
    if _narrow_chain(session.sparkContext._gateway, plan):
        # building the RDD lineage of a narrow plan runs no jobs
        n = plan.execute().getNumPartitions()
    _PROBE_MEMO[key] = n
    while len(_PROBE_MEMO) > _PROBE_MEMO_MAX:
        _PROBE_MEMO.popitem(last=False)
    return n


def spread_small_input(
    df: DataFrame, min_parts: int | None = None, key=None
) -> DataFrame:
    """Repartition ``df`` to ``min_parts`` (default: the session's
    defaultParallelism) partitions iff it currently has fewer — a
    no-op on already-parallel inputs (the 100 TB case) and on inputs
    whose partitioning cannot be probed without running work.

    ``key`` (a Column over a high-cardinality deterministic value, e.g.
    a row id) switches to HASH repartitioning: a keyless round-robin
    first pays a local sort of its input (sortBeforeRepartition, on by
    default so retried tasks reproduce the row->partition map — guide
    §2.5), which serializes in exactly the single map task this helper
    exists to relieve; a deterministic key needs no such sort and is
    retry-safe by construction.

    ``OC_SPREAD_DISABLE=1`` turns the helper into a no-op — the A/B
    switch measurement harnesses flip without rebuilding plans."""
    if os.environ.get("OC_SPREAD_DISABLE"):
        return df
    try:
        sc = df.sparkSession.sparkContext
        want = int(min_parts or sc.defaultParallelism)
    except Exception:  # noqa: BLE001 — spreading is best-effort
        return df
    have = _input_partitions(df)
    if have is None or have >= want or want <= 1:
        return df
    if key is not None:
        return df.repartition(want, key)
    return df.repartition(want)
