"""Resumable extraction pipeline: per-partition checkpointing + metrics.

North-rule contract: the corpus is processed in deterministic logical
partitions (pmod(xxhash64(doc_id), P)); each completed partition appends a
metrics row (lineage: partition id, doc/span/char/media counts, wall time,
run id). A rerun reads the metrics table and processes only the partitions
it has no row for — a crashed 100 TB job resumes where it stopped.

One pass is one Spark job: the spans write (plus AQE's map stage). The
kernel's map stage projects per-doc counts of its spans
(``extract.span_counts``), the rows are rebalanced by partition so each
write task writes one file per partition, and an ``Observation`` above the
rebalance sums the counts in the write's result stage. The driver then
writes the commit rows itself: one parquet file per batch, built with
pyarrow and renamed into the metrics directory through Hadoop's
``FileSystem`` (per-file statistics gathered at write time and committed in
a record the driver writes straight to storage, as Delta Lake does). Nothing re-reads the written files, and the todo list comes from the
metrics table alone, never from a job over the input.

Storage is parquet directories (an Iceberg catalog slots in by swapping
``format("parquet")`` for ``format("iceberg")``; the sandbox has no Iceberg
runtime). Output is partitioned by the checkpoint partition column so each
unit of work is an independent, atomic directory write.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators import extract
from ..operators.boundary import map_docs

METRICS_SCHEMA = StructType(
    [
        StructField("part", LongType()),
        StructField("run_id", StringType()),
        StructField("n_docs", LongType()),
        StructField("n_spans", LongType()),
        StructField("n_text_chars", LongType()),
        StructField("n_media", LongType()),
        StructField("wall_sec", DoubleType()),
        StructField("completed_at", DoubleType()),
    ]
)

def with_part(docs: DataFrame, num_parts: int) -> DataFrame:
    """Deterministic logical partition id from the doc id (salted hash)."""
    return docs.withColumn(
        "part", F.pmod(F.xxhash64("doc_id"), F.lit(num_parts)).cast("long")
    )


def _hadoop_path(spark: SparkSession, path: str):
    """``path`` as a Hadoop ``Path``, with the ``FileSystem`` that holds it."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def completed_parts(spark: SparkSession, metrics_path: str) -> set[int]:
    """Partitions with a commit row. A missing metrics table means none;
    an unreadable one raises rather than redoing every partition. Hidden
    files (``_``-prefixed, such as an uncommitted ``_part-*.parquet``) are
    not part of the table."""
    fs, path = _hadoop_path(spark, metrics_path)
    if not fs.exists(path):
        return set()
    rows = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path) \
        .select("part").collect()
    return {r["part"] for r in rows}


def observed_spans(docs: DataFrame, batch: list[int],
                   num_parts: int) -> tuple[DataFrame, Observation]:
    """The frame one batch writes, and the Observation of its commit rows.

    ``docs`` carries ``part``. The kernel output is rebalanced by ``part``
    so a write task holds whole partitions and writes one file each (AQE
    splits an oversized partition into files of the advisory size). The
    per-doc counts are projected below it, in the kernel's map stage; their
    per-part sums sit above it, in the write's result stage, where Spark
    applies each successful task's update exactly once. The kernel is
    looked up when the plan is built."""
    part = F.col("part")
    html = docs.filter(part.isin(batch)) \
        .select("doc_id", extract.assembled_html("spans").alias("html"))
    spans = map_docs(html, extract.SPANS_SCHEMA,
                     extract.extract_spans_from_html)
    counted = with_part(spans, num_parts).select(
        "*", *(c.alias(n) for n, c in extract.span_counts().items()))
    obs = Observation()
    sums = [F.count(F.when(part == p, 1)).alias(f"n_docs_{p}") for p in batch]
    sums += [F.sum(F.when(part == p, F.col(c))).alias(f"{c}_{p}")
             for p in batch for c in extract.SPAN_COUNTS]
    spans = counted.hint("rebalance", "part").observe(obs, *sums) \
        .drop(*extract.SPAN_COUNTS)
    return spans, obs


def commit_rows(spark: SparkSession, metrics_path: str, rows: list) -> None:
    """Append ``rows`` to the metrics table as one parquet file, written by
    the driver: built with pyarrow, written under a hidden ``_part-*`` name,
    then renamed to ``part-*``. The rename is the commit point; a crash
    before it leaves only a hidden file, which readers skip."""
    schema = to_arrow_schema(METRICS_SCHEMA)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs, root = _hadoop_path(spark, metrics_path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden, final = Path(root, "_" + name), Path(root, name)
    out = fs.create(hidden, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(hidden, final):
        raise RuntimeError(f"metrics commit: cannot rename {hidden} to {final}")


def run_extraction_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    metrics_path: str,
    num_parts: int = 16,
    parts_per_batch: int = 4,
) -> dict:
    """Extract spans for all not-yet-completed partitions; returns a summary.

    The todo list is ``range(num_parts)`` minus the partitions the metrics
    table holds. Each batch of partitions is one atomic unit and one Spark
    job: spans rebalanced by `part` and written partitioned by it, one file
    per partition per write task, while an Observation sums each
    partition's docs, spans, text chars and media; then the driver writes
    one metrics file with a row per partition that saw docs
    (``commit_rows``; no Spark job). A partition with no docs gets no row
    and counts as skipped, as does a committed one. Killing the job between
    batches loses at most the in-flight batch, which the next run redoes.

    Idempotence across mid-batch crashes: the spans write uses DYNAMIC
    partition overwrite (a write option; the session's setting is not
    touched) — a redone partition REPLACES its own directory instead of
    appending next to the orphaned files a crashed run left behind (crash
    after the spans write but before the metrics commit). The metrics file
    stays the commit record: a partition is "done" only once its metrics
    row is renamed into place, and rerunning a half-written partition is
    safe because the rewrite is a replace. Observed sums count successful
    task attempts of the write's result stage only, so a retried task is
    not counted twice.
    """
    run_id = uuid.uuid4().hex[:12]
    docs = with_part(docs.select("doc_id", "spans"), num_parts)
    done = completed_parts(spark, metrics_path)
    todo = [p for p in range(num_parts) if p not in done]
    processed = []
    for i in range(0, len(todo), parts_per_batch):
        batch = todo[i : i + parts_per_batch]
        t0 = time.time()
        spans, obs = observed_spans(docs, batch, num_parts)
        spans.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("part").parquet(out_path)
        wall = time.time() - t0
        got = obs.get
        now = time.time()
        rows = [
            (p, run_id, got[f"n_docs_{p}"],
             *(got[f"{c}_{p}"] for c in extract.SPAN_COUNTS), wall, now)
            for p in batch if got[f"n_docs_{p}"]
        ]
        if rows:
            commit_rows(spark, metrics_path, rows)
        processed.extend(r[0] for r in rows)
    return {
        "run_id": run_id,
        "num_parts": num_parts,
        "skipped_parts": num_parts - len(processed),
        "processed_parts": processed,
    }
