"""Kernel stage timing, in plain processes with no Spark.

The stage timer runs the extraction kernel's per-document steps over the
workload's own docs in one process, one 512-doc Arrow batch at a time, and
drops each batch's results before the next one, the way a Spark Python
worker does.  ``host_scaling`` runs the same kernel loop in N plain
processes at once against one alone, which separates what the host loses
under parallel load from what the engine loses.
"""

from __future__ import annotations

import time

import pyarrow as pa

from gen import SPAN_TYPE

BATCH = 512


def _extract_stages(batch: pa.RecordBatch, acc: dict, timed: bool) -> None:
    """One batch through decode, assemble, parse, span walk, encode."""
    from ksoup_spark.kernel.textops import extract_spans
    from ksoup_spark.kernel.treebuilder import parse
    from ksoup_spark.operators.extract import assemble_html, spans_to_rows

    clock = time.perf_counter_ns
    t0 = clock()
    rows = batch.column(1).to_pylist()
    t1 = clock()
    if not timed:
        out = [spans_to_rows(extract_spans(parse(assemble_html(s or []))))
               for s in rows]
        pa.array(out, type=SPAN_TYPE)
        acc["body"] += clock() - t0
        return
    acc["decode"] += t1 - t0
    out = []
    for s in rows:
        a = clock()
        html = assemble_html(s or [])
        b = clock()
        doc = parse(html)
        c = clock()
        spans = extract_spans(doc)
        d = clock()
        out.append(spans_to_rows(spans))
        e = clock()
        acc["assemble"] += b - a
        acc["parse"] += c - b
        acc["spanwalk"] += d - c
        acc["encode"] += e - d
        acc["nodes"] += len(doc.tag)
        acc["spans"] += len(spans)
    a = clock()
    pa.array(out, type=SPAN_TYPE)
    acc["encode"] += clock() - a


def kernel_stages(docs: pa.Table) -> dict:
    """µs/doc per kernel stage over ``docs`` (doc_id, spans).

    One batch warms the process first.  ``body_untimed_us`` is the same loop
    without per-stage clocks, so the stage sum can be checked against it.
    """
    from ksoup_spark.kernel import ctokenizer

    n = docs.num_rows
    batches = docs.to_batches(max_chunksize=BATCH)
    keys = ("decode", "assemble", "parse", "spanwalk", "encode", "nodes",
            "spans", "body")
    _extract_stages(batches[0], dict.fromkeys(keys, 0), timed=True)
    acc = dict.fromkeys(keys, 0)
    plain = dict.fromkeys(keys, 0)
    # timed and plain loops alternate per batch, and so does which goes
    # first, so host noise and warm caches favour neither
    for i, b in enumerate(batches):
        for timed in ((True, False) if i % 2 else (False, True)):
            _extract_stages(b, acc if timed else plain, timed=timed)
    us = {k: acc[k] / n / 1e3 for k in ("decode", "assemble", "parse",
                                         "spanwalk", "encode")}
    return {
        **us,
        "body": sum(us.values()),
        "body_untimed_us": plain["body"] / n / 1e3,
        "nodes_per_doc": acc["nodes"] / n,
        "spans_per_doc": acc["spans"] / n,
        "c_tree": 1 if ctokenizer.tree_module() is not None else 0,
    }


def dom_stages(htmls: list[str]) -> dict:
    """µs/doc of ``Doc.to_table`` (parse excluded) and rows per doc."""
    from ksoup_spark.kernel.treebuilder import parse

    n = len(htmls)
    for _ in range(2):
        spent = rows = 0
        for off in range(0, n, BATCH):
            docs = [parse(h) for h in htmls[off:off + BATCH]]
            t = time.perf_counter_ns()
            for d in docs:
                rows += len(d.to_table()["node_id"])
            spent += time.perf_counter_ns() - t
            del docs
    return {"to_table_us": spent / n / 1e3, "rows_per_doc": rows / n}


def _kernel_loop(batches) -> None:
    from ksoup_spark.operators.extract import assemble_html, \
        extract_spans_from_html

    for b in batches:
        out = [extract_spans_from_html(assemble_html(s or []))
               for s in b.column(1).to_pylist()]
        pa.array(out, type=SPAN_TYPE)


def _host_worker(path: str, limit: int, barrier, results) -> None:
    import pyarrow.parquet as pq

    batches = pq.read_table(path).slice(0, limit).to_batches(
        max_chunksize=BATCH)
    _kernel_loop(batches[:1])  # load the C module, warm the caches
    barrier.wait()
    t = time.perf_counter()
    _kernel_loop(batches)
    results.put(time.perf_counter() - t)


def host_scaling(path: str, limit: int, procs: int) -> float:
    """t(1 process) / t(each of ``procs`` processes at once), same docs.

    1.0 means the host runs ``procs`` copies of the kernel loop as fast as
    one; the shortfall is what the host, not Spark, costs the scaling pair.
    """
    import multiprocessing as mp
    import statistics

    ctx = mp.get_context("spawn")

    def run(n: int) -> list[float]:
        barrier, results = ctx.Barrier(n), ctx.Queue()
        ps = [ctx.Process(target=_host_worker,
                          args=(path, limit, barrier, results))
              for _ in range(n)]
        for p in ps:
            p.start()
        try:
            return [results.get(timeout=120) for _ in ps]
        finally:
            for p in ps:
                p.join(timeout=30)
                if p.is_alive():
                    p.kill()
                    p.join()

    # one process alone before and after the parallel run, so drift in the
    # host's speed over the measurement cancels
    single = run(1)[0]
    parallel = statistics.median(run(procs))
    single = (single + run(1)[0]) / 2
    return single / parallel


HOST_MAX_MB, HOST_MAX_DOCS = 12.0, 4000  # ~1 s of kernel loop per process


def host_limit(data_dir: str) -> int:
    """Leading docs of the input that the host-scaling loop runs over."""
    import os

    import pyarrow.parquet as pq

    sizes = pq.read_table(os.path.join(data_dir, "expect.parquet"),
                          columns=["html_bytes"]).column(0).to_pylist()
    total = 0
    for i, b in enumerate(sizes[:HOST_MAX_DOCS]):
        total += b
        if total > HOST_MAX_MB * 1e6:
            return max(i, 1)
    return min(len(sizes), HOST_MAX_DOCS)
