"""Self-tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench -q

Generator determinism and its fit to the measured seed corpus (and, with
``SPARK_GRAFT_SF_DIR`` set, to the program's own bench docs), the
expectation check on good and corrupted output, the node-query expectation
rule against the kernel selector engine, the stage timer's sum against the
same loop timed as a whole, and how failed passes are counted.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))
os.environ.setdefault("KSOUP_CTOK_CACHE", os.path.join(HERE, "_work", "ctok"))

import check  # noqa: E402
import gen  # noqa: E402
import proctree  # noqa: E402
import stages  # noqa: E402
from tracing import Tracer  # noqa: E402


def _read(d: str, name: str) -> bytes:
    with open(os.path.join(d, name), "rb") as f:
        return f.read()


@pytest.fixture(scope="module")
def scratch():
    """A scratch dir inside the benchmark's work dir, removed afterwards."""
    base = os.path.join(HERE, "_work")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix="selftest-", dir=base)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def small(scratch):
    return gen.generate("extract_small", 7, os.path.join(scratch, "a"))


def _kernel_output(docs: pa.Table) -> pa.Table:
    from ksoup_spark.operators.extract import assemble_html, \
        extract_spans_from_html

    out = [extract_spans_from_html(assemble_html(s))
           for s in docs.column("spans").to_pylist()]
    return pa.table({"doc_id": docs.column("doc_id"),
                     "spans": pa.array(out, gen.SPAN_TYPE)})


def test_generator_is_byte_identical_per_seed(small, scratch):
    again = gen.generate("extract_small", 7, os.path.join(scratch, "b"))
    other = gen.generate("extract_small", 8, os.path.join(scratch, "c"))
    for name in ("docs.parquet", "expect.parquet",
                 os.path.join("nodeq", "docs.parquet"),
                 os.path.join("nodeq", "expect.parquet")):
        assert _read(small, name) == _read(again, name)
        assert _read(small, name) != _read(other, name)


def test_seeds_share_the_size_multiset(small, scratch):
    other = gen.generate("extract_small", 8, os.path.join(scratch, "c"))
    sizes = [sorted(pq.read_table(os.path.join(d, "expect.parquet"))
                    .column("html_bytes").to_pylist()) for d in (small, other)]
    # same word counts per size quantile; only the words differ, so the
    # byte totals agree to within the vocabulary's word-length spread
    assert abs(sum(sizes[0]) - sum(sizes[1])) < 0.02 * sum(sizes[0])


def test_web_shape_is_heavy_tailed(scratch):
    d = gen.generate("extract_web", 3, scratch)
    sizes = pq.read_table(os.path.join(d, "expect.parquet")) \
        .column("html_bytes").to_pylist()
    mean = sum(sizes) / len(sizes)
    assert 6500 < mean < 8500
    assert max(sizes) > 400_000
    assert sorted(sizes)[len(sizes) // 2] < mean  # median below mean


def _web_sizes(d: str) -> list[int]:
    sizes = pq.read_table(os.path.join(d, "expect.parquet")) \
        .column("html_bytes").to_pylist()
    return [b for b in sizes if b < max(gen.GIANT_BYTES) // 2]


def test_docs_follow_the_measured_corpus(small, scratch):
    """Word shares, words per seed text and mean sizes are the committed
    corpus measurements: ~7.6 KB web docs (sf0.1 x repeat 24, the ROADMAP
    table's shape) and ~0.57 KB small docs (repeat 1)."""
    import collections
    import statistics

    web = gen.generate("extract_web", 3, scratch)
    assert statistics.mean(_web_sizes(web)) == pytest.approx(7600, rel=0.03)
    sizes = pq.read_table(os.path.join(small, "expect.parquet")) \
        .column("html_bytes").to_pylist()
    assert statistics.mean(sizes) == pytest.approx(570, rel=0.08)
    texts = [v[0] for v in pq.read_table(os.path.join(small, "expect.parquet"))
             .column("values").to_pylist() if not v[0].startswith("Doc & ")]
    words = [t.split(" ") for t in texts]
    freq = collections.Counter(w for ws in words for w in ws)
    total = sum(c for _, c in gen.WORD_COUNTS)
    n = sum(freq.values())
    for w, c in gen.WORD_COUNTS:
        assert freq[w] / n == pytest.approx(c / total, abs=0.004)
    per_doc = sorted(len(ws) for ws in words)
    q = gen.WORDS_PER_DOC_Q
    assert per_doc[0] >= q[0] and per_doc[-1] <= q[-1]
    assert per_doc[len(per_doc) // 2] == pytest.approx(q[10], abs=2)


def test_web_kernel_split_matches_the_bench_corpus(scratch):
    """Generated web docs against the program's own bench docs
    (``sources.corpus.build_docs_table`` at repeat 24 over the seed corpus),
    stage timer side by side in one process.  Needs the seed corpus:
    ``SPARK_GRAFT_SF_DIR`` naming a directory with ``documents.parquet``.

    Tolerance: nodes per doc and mean size within 3%; each stage's share of
    the kernel body within 0.08; the body within 20% (host drift between
    the alternating measurements is up to ~15% here)."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("SPARK_GRAFT_SF_DIR does not name the seed corpus")
    from ksoup_spark.operators.extract import assemble_html
    from ksoup_spark.session import get_spark
    from ksoup_spark.sources.corpus import build_docs_table

    spark = get_spark(app="perfbench-selftest", master="local[1]")
    try:
        real = build_docs_table(spark, sf, repeat=24) \
            .select("doc_id", "spans").limit(1500).toArrow()
    finally:
        spark.stop()
    real = real.cast(pa.schema([("doc_id", pa.string()),
                                ("spans", gen.SPAN_TYPE)]))
    web = gen.generate("extract_web", 3, scratch)
    ours = pq.read_table(os.path.join(web, "docs.parquet"))
    sizes = pq.read_table(os.path.join(web, "expect.parquet")) \
        .column("html_bytes").to_pylist()
    ours = ours.take([i for i, b in enumerate(sizes)
                      if b < max(gen.GIANT_BYTES) // 2][:1500])

    def mean_bytes(t):
        return sum(len(assemble_html(s)) for s in
                   t.column("spans").to_pylist()) / t.num_rows

    assert mean_bytes(ours) == pytest.approx(mean_bytes(real), rel=0.03)
    keys = ("decode", "assemble", "parse", "spanwalk", "encode")
    runs = {"real": [], "ours": []}
    for _ in range(2):  # alternate, so host drift hits both
        for name, t in (("real", real), ("ours", ours)):
            runs[name].append(stages.kernel_stages(t))
    r, o = (runs[n][-1] for n in ("real", "ours"))
    assert o["nodes_per_doc"] == pytest.approx(r["nodes_per_doc"], rel=0.03)
    assert o["body"] == pytest.approx(r["body"], rel=0.2)
    for k in keys:
        assert o[k] / o["body"] == pytest.approx(r[k] / r["body"], abs=0.08)


def test_check_accepts_kernel_output(small):
    docs = pq.read_table(os.path.join(small, "docs.parquet")).slice(0, 600)
    expect = check.load_expect(small).slice(0, 600)
    assert check.count_failed(_kernel_output(docs), expect) == 0


def test_check_flags_corrupted_spans(small):
    docs = pq.read_table(os.path.join(small, "docs.parquet")).slice(0, 60)
    expect = check.load_expect(small).slice(0, 60)
    rows = _kernel_output(docs).to_pylist()
    rows[1]["spans"][0]["text"] += " extra"          # text differs
    rows[2]["spans"] = rows[2]["spans"][::-1]         # order differs
    rows[3]["spans"][1]["kind"] = "video" \
        if rows[3]["spans"][1]["kind"] != "video" else "image"  # media kind
    rows[4]["spans"] = rows[4]["spans"][:2]           # span dropped
    del rows[5]                                       # doc missing
    rows.append(dict(rows[0]))                        # doc duplicated
    bad = pa.Table.from_pylist(rows, schema=_kernel_output(docs).schema)
    assert check.count_failed(bad, expect) == 6


def test_check_normalizes_whitespace_only(small):
    docs = pq.read_table(os.path.join(small, "docs.parquet")).slice(0, 6)
    expect = check.load_expect(small).slice(0, 6)
    rows = _kernel_output(docs).to_pylist()
    rows[0]["spans"][0]["text"] = "  " + \
        rows[0]["spans"][0]["text"].replace(" ", " \n ") + "\n"
    ok = pa.Table.from_pylist(rows, schema=_kernel_output(docs).schema)
    assert check.count_failed(ok, expect) == 0


def test_node_query_expectations_match_the_kernel_selector(small):
    from ksoup_spark.kernel import selector
    from ksoup_spark.kernel.treebuilder import parse

    side = os.path.join(small, "nodeq")
    docs = pq.read_table(os.path.join(side, "docs.parquet")).slice(0, 25)
    counts = {name: {} for name, _, _ in gen.NODE_QUERY_SELECTORS}
    for did, html in zip(docs.column(0).to_pylist(),
                         docs.column(1).to_pylist()):
        doc = parse(html)
        for name, css, _ in gen.NODE_QUERY_SELECTORS:
            counts[name][did] = len(selector.select(
                doc, selector.parse_query(css)))
    expect = pq.read_table(os.path.join(side, "expect.parquet")).slice(0, 25)
    assert check.node_failed(counts, expect) == 0
    counts["n_has"][docs.column(0)[3].as_py()] += 1
    assert check.node_failed(counts, expect) == 1


def test_stage_sum_matches_the_whole_loop(small):
    docs = pq.read_table(os.path.join(small, "docs.parquet")).slice(0, 8000)
    k = stages.kernel_stages(docs)
    parts = sum(k[s] for s in ("decode", "assemble", "parse", "spanwalk",
                               "encode"))
    assert parts == pytest.approx(k["body"])
    # per-stage clocks cost a few hundred ns per doc against ~150 us
    assert k["body"] == pytest.approx(k["body_untimed_us"], rel=0.15)
    assert k["spans_per_doc"] == 3


def test_tracer_records_parents_only_when_enabled(scratch):
    tr = Tracer(True, "t", "p")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = Tracer(False, "t", "p")
    with off.span("x"):
        pass
    assert off.spans == []
    path = os.path.join(scratch, "s.jsonl")
    tr.write(path)
    with open(path) as f:
        assert len(f.read().splitlines()) == 2


def test_proctree_counts_own_cpu():
    before = proctree.cpu_seconds(os.getpid())
    x = 0
    for i in range(3_000_000):
        x += i
    assert proctree.cpu_seconds(os.getpid()) > before
    peak, jvm = proctree.peak_rss_mb(os.getpid())
    # a JVM is in the tree when another test started a Spark session
    assert peak > 10 and 0 <= jvm < peak


def test_subreaper_reaps_orphaned_descendants():
    import subprocess

    # the shell exits at once and orphans its sleep, which the subreaper
    # adopts; reap_descendants must kill and reap it
    code = (f"import sys; sys.path.insert(0, {HERE!r}); import os, subprocess, "
            "proctree; proctree.become_subreaper(); "
            "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], "
            "stdout=open('pid', 'w')); "
            "pid = int(open('pid').read()); assert os.getppid() != pid; "
            "assert pid in proctree.tree(os.getpid()); "
            "assert proctree.reap_descendants(10); "
            "assert proctree.tree(os.getpid()) == [os.getpid()]; "
            "assert not os.path.exists(f'/proc/{pid}')")
    with tempfile.TemporaryDirectory() as d:
        r = subprocess.run([sys.executable, "-c", code], cwd=d, timeout=30)
    assert r.returncode == 0


def test_warmup_gate_needs_two_agreeing_passes():
    import level

    assert not level.settled([3.0])
    assert not level.settled([10.0, 4.0])
    assert level.settled([10.0, 4.0, 3.8])


def test_pass_time_sets_aside_passes_with_steal():
    import run

    steal = run.STEAL_MAX * 2
    assert run.pass_time([(3.0, 0.0), (5.0, steal), (3.2, 0.01)]) == \
        pytest.approx(3.1)
    # fewer than two clean passes: the median of all of them
    assert run.pass_time([(3.0, 0.0), (5.0, steal), (4.0, steal)]) == 4.0


def test_a_failed_pass_counts_its_docs_and_is_not_timed(scratch):
    import types

    import level

    args = types.SimpleNamespace(work=scratch, cpus=1)
    lv = level.Level(args, Tracer(False, "t", "p"))
    calls = []

    def run_pass(job, k, group):
        calls.append(k)
        if k == 1:
            raise level.PassFailed(k)
        return 2.0

    lv.run_pass = run_pass
    passes, k = lv.timed("pipeline", 0, 0, keep=True, min_passes=3,
                         max_passes=6)
    assert [t for t, _ in passes] == [2.0, 2.0, 2.0]
    assert lv.failed_passes == 1 and lv.ok_passes == [0, 2, 3] and k == 4
