"""Resumable pipeline commit: one write job per pass, stats observed at
write time and equal to counts recomputed from the written files, exact
under task retry, one spans file per partition, one driver-written
metrics file per batch, and an unreadable commit table is an error."""

import json
import os
import subprocess
import sys
from unittest import mock

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksoup_spark.plans import pipeline  # noqa: E402
from ksoup_spark.sources.corpus import build_docs_table  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def fresh_pass(spark, tmp_path_factory):
    """One fresh single-batch pass, run inside its own job group; every
    ``DataFrameWriter.parquet`` call moves later jobs to a second group,
    so ``after_write`` holds the jobs submitted after the spans write."""
    tmp = tmp_path_factory.mktemp("pipeline")
    out, metrics = str(tmp / "spans"), str(tmp / "metrics")
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans")
    sc, group = spark.sparkContext, "pipeline-fresh-pass"
    after = group + "-after-write"
    real_parquet = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        real_parquet(self, *args, **kwargs)
        sc.setJobGroup(after, after)

    sc.setJobGroup(group, group)
    try:
        with mock.patch.object(DataFrameWriter, "parquet", parquet):
            summary = pipeline.run_extraction_pipeline(
                spark, docs, out, metrics, num_parts=4, parts_per_batch=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return {"out": out, "metrics": metrics, "summary": summary,
            "jobs": tracker.getJobIdsForGroup(group),
            "after_write": tracker.getJobIdsForGroup(after)}


@pytest.fixture(scope="module")
def split_docs(spark, tmp_path_factory):
    """The test corpus as four parquet files, so the scan runs four tasks
    and each holds docs of every partition."""
    path = str(tmp_path_factory.mktemp("split") / "docs")
    build_docs_table(spark, SF_DIR).select("doc_id", "spans") \
        .repartition(4).write.parquet(path)
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() == 4
    return docs


def _files(path, prefix):
    return sorted(f for f in os.listdir(path) if f.startswith(prefix))


def test_fresh_pass_runs_at_most_three_jobs(fresh_pass):
    """The spans write and the commit append; no todo-list job over the
    input and no read-back of the written files."""
    assert fresh_pass["summary"]["processed_parts"] == [0, 1, 2, 3]
    assert len(fresh_pass["jobs"]) <= 3, fresh_pass["jobs"]


def test_no_job_after_the_spans_write(fresh_pass):
    """The commit row is written by the driver: the spans write is the
    pass's last Spark job, and the pass runs at most two (AQE's map stage
    for the rebalance, and the write)."""
    assert fresh_pass["after_write"] == []
    assert len(fresh_pass["jobs"]) <= 2, fresh_pass["jobs"]


def test_one_metrics_file_per_batch(fresh_pass, spark, split_docs,
                                    tmp_path):
    """Each batch commits exactly one visible parquet file, and no hidden
    file is left behind."""
    assert len(_files(fresh_pass["metrics"], "part-")) == 1
    metrics = str(tmp_path / "metrics")
    pipeline.run_extraction_pipeline(
        spark, split_docs, str(tmp_path / "spans"), metrics,
        num_parts=4, parts_per_batch=2)
    assert len(_files(metrics, "part-")) == 2
    assert _files(metrics, "_") == []


def test_one_spans_file_per_part(spark, split_docs, tmp_path):
    """Four scan tasks each hold docs of all four partitions; after the
    rebalance every partition directory holds one file."""
    out = tmp_path / "spans"
    pipeline.run_extraction_pipeline(
        spark, split_docs, str(out), str(tmp_path / "metrics"),
        num_parts=4, parts_per_batch=4)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("part="))
    assert dirs == [f"part={p}" for p in range(4)]
    assert all(len(_files(out / d, "part-")) == 1 for d in dirs)


def test_uncommitted_metrics_file_is_ignored(spark, split_docs, tmp_path):
    """A crash between writing a batch's metrics file and renaming it
    leaves a hidden ``_part-*.parquet``: its partitions are not complete,
    and a rerun redoes them without duplicating spans."""
    out, metrics = str(tmp_path / "spans"), tmp_path / "metrics"
    first = pipeline.run_extraction_pipeline(
        spark, split_docs, out, str(metrics), num_parts=4, parts_per_batch=2)
    total = spark.read.parquet(out).count()
    # undo the second batch's rename
    name = max(_files(metrics, "part-"), key=lambda f: pq.read_table(
        metrics / f).column("part")[0].as_py())
    (metrics / name).rename(metrics / ("_" + name))
    (metrics / f".{name}.crc").unlink(missing_ok=True)
    redo = first["processed_parts"][2:]
    assert pipeline.completed_parts(spark, str(metrics)) == \
        set(first["processed_parts"][:2])
    r = pipeline.run_extraction_pipeline(
        spark, split_docs, out, str(metrics), num_parts=4, parts_per_batch=2)
    assert r["processed_parts"] == redo
    assert pipeline.completed_parts(spark, str(metrics)) == set(range(4))
    assert spark.read.parquet(out).count() == total == split_docs.count()
    m = spark.read.parquet(str(metrics))
    assert m.agg(F.sum("n_docs")).first()[0] == total
    assert _files(metrics, "_") == ["_" + name]


def test_observation_sits_above_the_rebalance(spark):
    """The per-part sums run in the write's result stage, where each
    successful task's update is applied once, not in a shuffle-map stage
    that a fetch failure can re-run."""
    docs = pipeline.with_part(
        build_docs_table(spark, SF_DIR).select("doc_id", "spans"), 4)
    frame, _ = pipeline.observed_spans(docs, [0, 1], 4)
    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in plan and "CollectMetrics" in plan
    assert plan.index("CollectMetrics") < plan.index("RebalancePartitions")


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

from ksoup_spark.operators import extract
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
real = extract.extract_spans_from_html
seen = {}


def fail_once(html):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        n = seen[ctx.taskAttemptId()] = seen.get(ctx.taskAttemptId(), 0) + 1
        if n > 300:
            raise RuntimeError("injected first-attempt failure")
    return real(html)


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
extract.extract_spans_from_html = fail_once
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
