"""Resumable pipeline commit: one write job per pass, stats observed at
write time and equal to counts recomputed from the written files, exact
under task retry, and an unreadable commit table is an error."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksoup_spark.plans import pipeline  # noqa: E402
from ksoup_spark.sources.corpus import build_docs_table  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def fresh_pass(spark, tmp_path_factory):
    """One fresh single-batch pass, run inside its own job group."""
    tmp = tmp_path_factory.mktemp("pipeline")
    out, metrics = str(tmp / "spans"), str(tmp / "metrics")
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans")
    sc, group = spark.sparkContext, "pipeline-fresh-pass"
    sc.setJobGroup(group, group)
    try:
        summary = pipeline.run_extraction_pipeline(
            spark, docs, out, metrics, num_parts=4, parts_per_batch=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"out": out, "metrics": metrics, "summary": summary,
            "jobs": sc.statusTracker().getJobIdsForGroup(group)}


def test_fresh_pass_runs_at_most_three_jobs(fresh_pass):
    """The spans write and the commit append; no todo-list job over the
    input and no read-back of the written files."""
    assert fresh_pass["summary"]["processed_parts"] == [0, 1, 2, 3]
    assert len(fresh_pass["jobs"]) <= 3, fresh_pass["jobs"]


def test_observed_metrics_match_written_files(spark, fresh_pass):
    """Each commit row equals the counts recomputed from the spans files
    with Spark's own expressions."""
    written = spark.read.parquet(fresh_pass["out"])
    want = (
        written.groupBy(F.col("part").cast("long").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(F.aggregate(
                F.transform("spans", lambda s: F.coalesce(
                    F.length(s["text"]), F.lit(0))),
                F.lit(0).cast("long"), lambda a, b: a + b,
            )).alias("n_text_chars"),
            F.sum(F.size(F.filter(
                "spans", lambda s: s["kind"] != "text"))).alias("n_media"),
        )
        .orderBy("part").collect()
    )
    got = spark.read.parquet(fresh_pass["metrics"]).select(
        "part", "n_docs", "n_spans", "n_text_chars", "n_media",
    ).orderBy("part").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert sum(r["n_media"] for r in got) > 0


def test_spans_files_keep_their_schema(spark, fresh_pass):
    """The per-doc counts are dropped before the write."""
    assert spark.read.parquet(fresh_pass["out"]).columns == \
        ["doc_id", "spans", "part"]


def test_unreadable_metrics_table_raises(spark, tmp_path):
    """A corrupt commit table is an error, not "nothing committed" (which
    would silently redo every partition)."""
    metrics = tmp_path / "metrics"
    metrics.mkdir()
    (metrics / "part-00000-garbage.parquet").write_bytes(b"not parquet" * 8)
    with pytest.raises(Exception) as e:
        pipeline.completed_parts(spark, str(metrics))
    assert "PATH_NOT_FOUND" not in str(e.value)
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans")
    with pytest.raises(Exception):
        pipeline.run_extraction_pipeline(
            spark, docs, str(tmp_path / "spans"), str(metrics),
            num_parts=4, parts_per_batch=4)
    assert not (tmp_path / "spans").exists()


_RETRY_SCRIPT = r"""
import json, sys

from pyspark import TaskContext

from ksoup_spark.plans import pipeline
from ksoup_spark.session import get_spark
from ksoup_spark.sources.corpus import build_docs_table

sf_dir, tmp = sys.argv[1:3]
# two attempts per task; the first attempt of partition 0 fails in the
# kernel after ~300 docs, when 16-doc Arrow batches of it have already
# passed the observed write
spark = get_spark(app="pipeline-retry", master="local[2,2]",
                  shuffle_partitions=2, arrow_batch=16)
sc = spark.sparkContext
docs = build_docs_table(spark, sf_dir).select("doc_id", "spans")
real = pipeline.extract_counted_spans
seen = {}


def fail_once(spans):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        n = seen[ctx.taskAttemptId()] = seen.get(ctx.taskAttemptId(), 0) + 1
        if n > 300:
            raise RuntimeError("injected first-attempt failure")
    return real(spans)


def run(name, frame):
    spans, metrics = f"{tmp}/{name}/spans", f"{tmp}/{name}/metrics"
    sc.setJobGroup(name, name)
    pipeline.run_extraction_pipeline(spark, frame, spans, metrics,
                                     num_parts=4, parts_per_batch=4)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(name)
              for s in tracker.getJobInfo(j).stageIds]
    rows = spark.read.parquet(metrics).select(
        "part", "n_docs", "n_spans", "n_text_chars", "n_media").collect()
    return {"rows": sorted(list(r) for r in rows),
            "written": spark.read.parquet(spans).count(),
            "failed_tasks": sum(tracker.getStageInfo(s).numFailedTasks
                                for s in stages)}


out = {"clean": run("clean", docs)}
pipeline.extract_counted_spans = fail_once
out["retried"] = run("retried", docs)
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_observed_counts_exact_under_task_retry(tmp_path):
    """A task that fails once and is retried is counted once: the commit
    rows equal a clean run's and sum to the rows written."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, SF_DIR, str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    # the second pass starts on a fresh metrics path after an Observation;
    # finding it missing must not make Spark log a failed read
    assert "PATH_NOT_FOUND" not in proc.stderr
    got = json.loads(lines[-1][len("RESULT "):])
    clean, retried = got["clean"], got["retried"]
    assert retried["failed_tasks"] >= 1  # the retry really happened
    assert clean["failed_tasks"] == 0
    assert retried["rows"] == clean["rows"]
    assert sum(r[1] for r in retried["rows"]) == retried["written"]
    assert retried["written"] == clean["written"] > 0
