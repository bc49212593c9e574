"""SQL metrics read from an executed physical plan, from outside.

After an action, ``DataFrame._jdf.queryExecution().executedPlan()`` is
the final adaptive plan. Its query stages carry the exchange metrics
(``dataSize``) and, for shuffles, the map output statistics whose
per-partition byte counts show skew.
"""

from __future__ import annotations

import statistics

def _name(node) -> str:
    return node.getClass().getSimpleName()


def walk(plan) -> list:
    """Every node of the plan, descending into adaptive wrappers, query
    stages and reused exchanges."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        out.append(p)
        name = _name(p)
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if name == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def exchange_bytes(plan, kind: str) -> int:
    """Sum of ``dataSize`` over exchanges of ``kind`` ("Broadcast" or
    "Shuffle")."""
    return sum(
        _metric(n, "dataSize")
        for n in walk(plan)
        if _name(n) == f"{kind}ExchangeExec"
    )


def files_read(plan) -> int:
    """Files the scans opened after partition pruning (``numFiles``)."""
    return sum(
        _metric(n, "numFiles")
        for n in walk(plan)
        if _name(n) == "FileSourceScanExec"
    )


def shuffle_skew(plan, key: str) -> float:
    """max / median partition bytes of the shuffle whose partitioning
    mentions ``key``, from the stage's map output statistics; 0.0 if
    no such stage ran under AQE."""
    for n in walk(plan):
        if _name(n) != "ShuffleQueryStageExec":
            continue
        if key not in n.plan().outputPartitioning().toString():
            continue
        stats = n.mapStats()
        if not stats.isDefined():
            return 0.0
        sizes = [int(b) for b in stats.get().bytesByPartitionId()]
        med = statistics.median(sizes)
        return max(sizes) / med if med > 0 else float(max(sizes) > 0)
    return 0.0


def has(plan, text: str) -> bool:
    """Whether ``text`` appears in the executed plan (operators and
    expressions)."""
    return any(text in n.verboseStringWithOperatorId() for n in walk(plan))
