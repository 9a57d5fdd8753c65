"""The ``q_nodequery_has`` selector batch, timed and counted from outside.

``operators.extract.node_table_df`` builds the node table once (cached),
``operators.nodequery.compile_selector`` compiles the six selectors, each is
counted per doc, and the table is unpersisted at the end of the batch.  Join
output rows come from the SQL metrics of each executed plan.
"""

from __future__ import annotations

import time

from gen import NODE_QUERY_SELECTORS


def _children(plan) -> list:
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [plan.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [plan.plan()]
    ch = plan.children()
    return [ch.apply(i) for i in range(ch.size())]


def join_output_rows(df) -> int:
    """Sum of ``numOutputRows`` over the join operators of df's last run."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        if "Join" in p.nodeName():
            m = p.metrics().get("numOutputRows")
            if m.isDefined():
                total += m.get().value()
        todo.extend(_children(p))
    return total


def selector_batch(spark, docs, tracer) -> dict:
    from pyspark.sql import functions as F

    from ksoup_spark.operators import nodequery
    from ksoup_spark.operators.extract import node_table_df

    clock = time.perf_counter
    t0 = clock()
    with tracer.span("nodequery.node_table"):
        nodes = node_table_df(docs).cache()
        n_rows = nodes.count()
    t1 = clock()
    with tracer.span("nodequery.compile"):
        plans = [(name, nodequery.compile_selector(nodes, css)
                  .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
                 for name, css, _ in NODE_QUERY_SELECTORS]
    t2 = clock()
    counts, join_rows = {}, 0
    with tracer.span("nodequery.selectors"):
        for name, df in plans:
            counts[name] = {r["doc_id"]: r["n"] for r in df.collect()}
            join_rows += join_output_rows(df)
    t3 = clock()
    nodes.unpersist(blocking=True)
    matches = sum(sum(c.values()) for c in counts.values())
    return {
        "node_table_s": t1 - t0,
        "compile_ms": (t2 - t1) * 1e3,
        "selectors_s": t3 - t2,
        "node_rows": n_rows,
        "join_rows": join_rows,
        "matches": matches,
        "counts": counts,
    }
