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

The same walk answers ``oc.write``'s question "does every partition
of this frame already stream rows of one cell-clustered file?"
(``streamed_scans``): there it descends only through row-preserving
nodes and the streamed side of a broadcast hash join, and returns the
Parquet scans it reaches.
"""

from __future__ import annotations

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


def _children(node) -> list:
    children = node.children()
    return [children.apply(i) for i in range(children.size())]


def _walk(plan, step, state=None) -> list | None:
    """Walk a physical plan from its root. ``step(node, state)`` returns
    the ``(child, state)`` pairs to descend into, ``[]`` at a leaf, or
    None to reject the plan. Returns the ``(leaf, state)`` pairs
    reached, or None when a step rejected."""
    leaves, stack = [], [(plan, state)]
    while stack:
        node, state = stack.pop()
        nxt = step(node, state)
        if nxt is None:
            return None
        if nxt:
            stack.extend(nxt)
        else:
            leaves.append((node, state))
    return leaves


def _narrow_chain(gateway, plan) -> bool:
    """True when no node of the physical ``plan`` is an Exchange,
    holds a subquery expression or requires a child distribution."""

    def step(node, _):
        if is_instance_of(gateway, node, _EXCHANGE):
            return None
        if node.subqueries().nonEmpty():
            return None
        dists = node.requiredChildDistribution()
        for i in range(dists.size()):
            if not is_instance_of(gateway, dists.apply(i), _UNSPECIFIED):
                return None
        return [(c, None) for c in _children(node)]

    return _walk(plan, step) is not None


# one child whose rows and attributes pass through (ColumnarToRow only
# appears after preparation; it is listed for plans that carry it)
_PASS_THROUGH = frozenset({"Project", "Filter", "ColumnarToRow"})


def _streamed_step(node, attr):
    """``_walk`` step of ``streamed_scans``: the streamed children of a
    row-preserving node, each with its own attribute for ``attr``."""
    name = node.nodeName()
    if node.subqueries().nonEmpty():
        return None
    if name in _PASS_THROUGH:
        return [(node.child(), attr)]
    if name == "BroadcastHashJoin":
        # the build side is broadcast whole to every task: only the
        # streamed side decides what a partition holds
        left = node.buildSide().toString() == "BuildRight"
        return [(node.left() if left else node.right(), attr)]
    if name == "Union":
        # a Union's output takes its first child's attributes; the
        # other children carry theirs at the same position
        pos = node.output().indexOf(attr)
        if pos < 0:
            return None
        return [(c, c.output().apply(pos)) for c in _children(node)]
    if name.startswith("Scan parquet"):
        return []
    return None


def streamed_scans(df: DataFrame, column: str) -> list[str] | None:
    """Root paths of the Parquet scans that ``df``'s partitions stream,
    or None unless its pre-AQE physical plan is a streamed path of
    Project / Filter / Union nodes and broadcast hash joins (build side
    not walked) down to Parquet scans that each output ``column``'s
    attribute itself, not a recomputation of it. Job-free: no RDD is
    built. A scan reading several root paths is reported as one path
    per line."""
    plan = df._jdf.queryExecution().sparkPlan()
    attr = plan.output().apply(df.columns.index(column))
    leaves = _walk(plan, _streamed_step, attr)
    if leaves is None:
        return None
    paths = []
    for scan, a in leaves:
        if not scan.outputSet().contains(a):
            return None
        paths.append(scan.relation().location().rootPaths().mkString("\n"))
    return paths


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
    retry-safe by construction."""
    want = int(min_parts or df.sparkSession.sparkContext.defaultParallelism)
    have = _input_partitions(df)
    if have is None or have >= want or want <= 1:
        return df
    if key is not None:
        return df.repartition(want, key)
    return df.repartition(want)
