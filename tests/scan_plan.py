"""Bucketed-scan facts read from a DataFrame's executed plan."""

from __future__ import annotations


def bucketed_scans(df) -> list[tuple[int, int, str]]:
    """``(selected buckets, total buckets, read schema)`` of every scan
    of a bucketed table in ``df``'s executed plan. The selected count is
    the bucket set Spark prunes the file list to — the plan string shows
    it as ``SelectedBucketsCount`` only while the read is a bucketed
    scan, and the planner turns that off for a plain filtered scan, but
    the files of unselected buckets stay unread either way."""
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name == "FileSourceScanExec" and node.relation().bucketSpec().isDefined():
            total = node.relation().bucketSpec().get().numBuckets()
            chosen = node.optionalBucketSet()
            selected = chosen.get().cardinality() if chosen.isDefined() else total
            found.append((selected, total, node.requiredSchema().simpleString()))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found
