"""Spark's own per-node SQL metrics, read from the executed plan.

After an action, ``nodes(df)`` walks ``df._jdf.queryExecution()
.executedPlan()``; through ``AdaptiveSparkPlanExec.executedPlan()`` into
the final adaptive plan, through every ``*QueryStageExec.plan()`` and
``Reused*Exec.child()`` into the stages, and returns one record per
physical node with its metrics normalised to seconds, bytes and counts.
"""

from __future__ import annotations

# SQLMetric types (org.apache.spark.sql.execution.metric.SQLMetrics)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _metrics(node) -> dict:
    out = {}
    for entry in _seq(node.metrics()):
        name, m = entry._1(), entry._2()
        v = m.value()
        out[name] = v * _SCALE.get(m.metricType(), 1)
    return out


def nodes(df) -> list[dict]:
    """[{name, metrics, ancestors, child_names, path}] for every node of
    the executed plan, parents before children; stage wrappers are
    unwrapped, not listed. ``path`` is the root path of a file scan."""
    out: list[dict] = []

    def unwrap(p):
        while True:
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                p = p.executedPlan()
            elif cls.endswith("QueryStageExec"):
                p = p.plan()
            elif cls == "InputAdapter" or cls.startswith("WholeStageCodegen"):
                p = p.children().head()
            else:
                return p

    def visit(p, ancestors):
        p = unwrap(p)
        if p.getClass().getSimpleName().startswith("Reused"):
            return  # the reused subtree is listed where it first ran
        kids = [unwrap(c) for c in _seq(p.children())]
        rec = {"name": p.nodeName(), "metrics": _metrics(p),
               "ancestors": ancestors,
               "child_names": [k.nodeName() for k in kids], "path": ""}
        if p.getClass().getSimpleName() == "FileSourceScanExec":
            rec["path"] = str(p.relation().location().rootPaths().head())
        out.append(rec)
        for k in kids:
            visit(k, ancestors + (rec["name"],))

    visit(df._jdf.queryExecution().executedPlan(), ())
    return out
