"""Compare program outputs with the expectations fixed at generation time.

Runs outside every timed interval.  A mismatch is counted per document and
reported in ``failed``; it never raises.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import NODE_QUERY_SELECTORS


def load_expect(data_dir: str) -> pa.Table:
    return pq.read_table(os.path.join(data_dir, "expect.parquet"),
                         columns=["doc_id", "kinds", "values"])


def count_failed(out: pa.Table, expect: pa.Table) -> int:
    """Docs of ``out`` (doc_id, spans) that are missing, duplicated,
    unexpected, or whose ``(kind, value)`` sequence differs."""
    out_ids = out.column("doc_id").to_pylist()
    pos = {d: i for i, d in enumerate(out_ids)}
    bad = len(out_ids) - len(pos)  # duplicates
    exp_ids = expect.column("doc_id").to_pylist()
    bad += len(pos.keys() - set(exp_ids))  # unexpected
    take_out, take_exp = [], []
    for j, d in enumerate(exp_ids):
        i = pos.get(d)
        if i is None:
            bad += 1  # missing
        else:
            take_out.append(i)
            take_exp.append(j)
    spans = out.column("spans").take(take_out).combine_chunks()
    kinds = expect.column("kinds").take(take_exp).combine_chunks()
    values = expect.column("values").take(take_exp).combine_chunks()
    same_len = pc.equal(pc.list_value_length(spans),
                        pc.list_value_length(kinds)).fill_null(False)
    bad += len(spans) - pc.sum(same_len).as_py()
    spans, kinds, values = (a.filter(same_len) for a in (spans, kinds, values))
    flat = pc.list_flatten(spans)
    kind = flat.field("kind")
    # whitespace-normalized like " ".join(text.split())
    text = pc.binary_join(pc.utf8_split_whitespace(
        pc.utf8_trim_whitespace(flat.field("text"))), " ")
    value = pc.if_else(pc.equal(kind, "text"), text, flat.field("media_ref"))
    ok = pc.and_(pc.equal(kind, pc.list_flatten(kinds)),
                 pc.equal(value, pc.list_flatten(values))).fill_null(False)
    wrong = pc.list_parent_indices(spans).filter(pc.invert(ok))
    return bad + len(pc.unique(wrong))


def check_pipeline_output(spans_dir: str, metrics_dir: str,
                          expect: pa.Table) -> int:
    """Failing docs in one pipeline pass: spans plus its metrics record."""
    try:
        t = pq.read_table(spans_dir, columns=["doc_id", "spans"])
        m = pq.read_table(metrics_dir, columns=["n_docs"])
    except (OSError, ValueError):
        return expect.num_rows
    # the metrics table is the pipeline's commit record: it must count
    # exactly the docs it wrote
    recorded = pc.sum(m.column(0)).as_py() or 0
    return count_failed(t, expect) + abs(recorded - t.num_rows)


def node_failed(counts: dict[str, dict[str, int]], expect: pa.Table) -> int:
    """Docs whose six selector counts differ from the word-index rule."""
    t = expect.to_pydict()
    return sum(
        any(counts.get(name, {}).get(did, 0) != t[name][i]
            for name, _, _ in NODE_QUERY_SELECTORS)
        for i, did in enumerate(t["doc_id"]))


def check_node_counts(counts: dict[str, dict[str, int]],
                      data_dir: str) -> int:
    return node_failed(
        counts, pq.read_table(os.path.join(data_dir, "expect.parquet")))
