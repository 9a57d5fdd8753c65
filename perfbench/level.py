"""One parallelism level of a workload, in its own pinned process.

    python3 perfbench/level.py --workload W --data DIR --cpus N ...

Pins itself to exactly N CPUs before the Spark driver JVM starts (the JVM
and the Python workers inherit the affinity), starts a ``local[N]`` session
with ``ksoup_spark.session.get_spark``, scans and caches the workload's input
(set-up), warms the job until successive passes settle, then times passes
for the given number of seconds.  Results go to ``--out`` as JSON.

``--job pipeline`` times ``plans.pipeline.run_extraction_pipeline`` writing
a fresh spans-parquet and metrics directory per pass; every timed pass's
output is checked against the generation-time expectations afterwards.
``--job kernel`` times ``operators.extract.extract_spans_df`` into Spark's
``noop`` sink (the scaling pair and the pipeline-sink split use it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402
from tracing import Tracer  # noqa: E402

WARM_MIN, SETTLE = 2, 0.10
# a timed pass is clean when the host stole at most this share of CPU time
# during it; the timed phase runs until it has min_passes clean passes (or
# max_passes passes), so a burst of co-tenant load costs passes, not accuracy
STEAL_MAX = 0.025


def settled(times: list[float]) -> bool:
    """Warm-up is over when the last two passes agree within SETTLE."""
    if len(times) < WARM_MIN:
        return False
    a, b = times[-2], times[-1]
    return abs(a - b) <= SETTLE * min(a, b)


class PassFailed(Exception):
    """The program's job raised during a pass."""


class Level:
    def __init__(self, args, tracer: Tracer):
        self.args = args
        self.tr = tracer
        self.spark = None
        self.docs = None
        self.n_docs = 0
        self.groups: list[str] = []
        self.untraced_times: list[float] = []
        self.traced_times: list[float] = []
        self.ok_passes: list[int] = []
        self.failed_passes = 0
        self.peak_rss_mb = (0.0, 0.0)
        self.scratch = os.path.join(args.work, f"level{args.cpus}-{os.getpid()}")

    # -- set-up -------------------------------------------------------------
    def start_session(self) -> None:
        from ksoup_spark.session import get_spark

        with self.tr.span("session"):
            self.spark = get_spark(app=f"perfbench-{self.args.workload}",
                                   master=f"local[{self.args.cpus}]")
            self.spark.sparkContext.setLogLevel("ERROR")

    def scan(self) -> float:
        """Input scanned, salted across partitions and cached."""
        from ksoup_spark.operators.extract import salted_repartition

        t = time.perf_counter()
        with self.tr.span("scan"):
            df = self.spark.read.parquet(
                os.path.join(self.args.data, "docs.parquet"))
            self.docs = salted_repartition(df, self.args.partitions).cache()
            self.n_docs = self.docs.count()
        return time.perf_counter() - t

    def unscan(self) -> None:
        self.docs.unpersist(blocking=True)
        self.docs = None

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    # -- passes -------------------------------------------------------------
    def _pass_dir(self, k: int) -> str:
        return os.path.join(self.scratch, f"pass-{k}")

    def run_pass(self, job: str, k: int, group: str) -> float:
        from ksoup_spark.operators.extract import extract_spans_df
        from ksoup_spark.plans.pipeline import run_extraction_pipeline

        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        self.groups.append(group)
        out = self._pass_dir(k)
        shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        err = None
        with self.tr.span(f"pass.{job}"):
            try:
                if job == "pipeline":
                    run_extraction_pipeline(
                        self.spark, self.docs, os.path.join(out, "spans"),
                        os.path.join(out, "metrics"),
                        num_parts=self.args.partitions,
                        parts_per_batch=self.args.partitions)
                else:
                    extract_spans_df(self.docs).write.format("noop") \
                        .mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - the program's failure
                traceback.print_exc()
                err = e
        dt = time.perf_counter() - t
        # the benchmark's own input cache is the only persistent RDD allowed
        # between passes
        leaked = self.persistent_rdds() - 1
        if leaked:
            raise RuntimeError(f"pass {k} left {leaked} persistent RDDs")
        if err is not None:
            raise PassFailed(k) from err
        return dt

    def warm(self, job: str, k: int = 0) -> tuple[list[float], int]:
        times: list[float] = []
        with self.tr.span("warmup"):
            while not settled(times) and len(times) < self.args.warm_max:
                times.append(self.run_pass(job, k, f"warm-{job}-{k}"))
                shutil.rmtree(self._pass_dir(k), ignore_errors=True)
                k += 1
        return times, k

    def timed(self, job: str, seconds: float, k0: int, keep: bool,
              min_passes: int,
              max_passes: int) -> tuple[list[tuple[float, float]], int]:
        """Timed passes as (seconds, host steal share), and the next pass
        number.  A pass whose job raises counts in ``failed_passes`` (all
        its docs fail) and is not timed.  ``peak_rss_mb`` is read after
        ``min_passes`` passes.  A traced level leaves every other pass
        untraced (``untraced_times``) so the tracing overhead is
        measured."""
        passes: list[tuple[float, float]] = []
        self.untraced_times, self.traced_times = [], []
        traced = self.tr.enabled
        k = k0
        self.ok_passes = []
        self.failed_passes = 0
        while len(passes) + self.failed_passes < max_passes:
            clean = [t for t, s in passes if s <= STEAL_MAX]
            if len(clean) >= min_passes and sum(t for t, _ in passes) >= seconds:
                break
            self.tr.enabled = traced and len(passes) % 2 == 0
            st0, tot0 = proctree.host_jiffies()
            try:
                dt = self.run_pass(job, k, f"timed-{job}-{k}")
            except PassFailed:
                dt = None
            st1, tot1 = proctree.host_jiffies()
            if dt is None:
                self.failed_passes += 1
                shutil.rmtree(self._pass_dir(k), ignore_errors=True)
            else:
                passes.append((dt, (st1 - st0) / max(tot1 - tot0, 1)))
                self.ok_passes.append(k)
                if traced:
                    (self.traced_times if self.tr.enabled
                     else self.untraced_times).append(dt)
                if not keep:
                    shutil.rmtree(self._pass_dir(k), ignore_errors=True)
            k += 1
            if k - k0 == min_passes:
                # the same work behind the peak in every run: passes that
                # host steal adds come after it (the JVM heap keeps growing)
                self.peak_rss_mb = proctree.peak_rss_mb(os.getpid())
        self.tr.enabled = traced
        if not passes:
            raise RuntimeError(f"every timed {job} pass failed")
        return passes, k

    # -- status store ------------------------------------------------------
    def stage_totals(self, prefix: str) -> dict:
        """Sum stage metrics over the jobs of the groups named ``prefix*``."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        empty = gw.jvm.java.util.ArrayList()
        no_q = gw.new_array(gw.jvm.double, 0)
        tot = dict.fromkeys(("tasks", "failed_tasks", "cpu_ms", "gc_ms",
                             "shuffle_write_mb", "spill_mb"), 0.0)
        stages = set()
        for g in self.groups:
            if g.startswith(prefix):
                for j in sc.statusTracker().getJobIdsForGroup(g):
                    info = sc.statusTracker().getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
        for sid in stages:
            seq = store.stageData(sid, False, empty, False, no_q)
            for i in range(seq.size()):
                s = seq.apply(i)
                tot["tasks"] += s.numCompleteTasks()
                tot["failed_tasks"] += s.numFailedTasks()
                tot["cpu_ms"] += s.executorCpuTime() / 1e6
                tot["gc_ms"] += s.jvmGcTime()
                tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                tot["spill_mb"] += (s.memoryBytesSpilled()
                                    + s.diskBytesSpilled()) / 1e6
        return tot

    # -- correctness -------------------------------------------------------
    def check_outputs(self, passes) -> int:
        """Docs failing the expectations, summed over pipeline passes."""
        import check

        expect = check.load_expect(self.args.data)
        failed = 0
        with self.tr.span("check"):
            for k in passes:
                out = self._pass_dir(k)
                failed += check.check_pipeline_output(
                    os.path.join(out, "spans"), os.path.join(out, "metrics"),
                    expect)
                shutil.rmtree(out, ignore_errors=True)
        return failed

    # -- side measurements (traced run) -------------------------------------
    def job_fixed_s(self) -> float:
        """The kernel job over one doc per partition: one warm run, then the
        median of two."""
        from ksoup_spark.operators.extract import extract_spans_df

        from pyspark.sql import functions as F

        p = self.args.partitions
        with self.tr.span("job_fixed"):
            rows = self.docs.limit(p).collect()
            one = self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(rows, p),
                self.docs.schema).cache()
            if one.groupBy(F.spark_partition_id()).count().count() != p:
                raise RuntimeError("job_fixed input is not one doc per task")
            times = []
            for _ in range(3):
                t = time.perf_counter()
                extract_spans_df(one).write.format("noop").mode("overwrite") \
                    .save()
                times.append(time.perf_counter() - t)
            one.unpersist(blocking=True)
        return statistics.median(times[1:])

    def node_query(self) -> dict:
        """The q_nodequery_has selector batch over the seeded side input."""
        import check
        import nodeq

        path = os.path.join(self.args.data, "nodeq")
        with self.tr.span("nodequery"):
            docs = self.spark.read.parquet(
                os.path.join(path, "docs.parquet")).cache()
            n_docs = docs.count()
            # one batch, the first of its plans in this JVM: a warm repeat
            # does not fit the traced run's time budget
            res = nodeq.selector_batch(self.spark, docs, self.tr)
            # the batch must unpersist its node table
            if self.persistent_rdds() != 2:
                raise RuntimeError("the selector batch leaked a cache")
            docs.unpersist(blocking=True)
        res["failed"] = check.check_node_counts(res.pop("counts"), path)
        res["docs"] = n_docs
        return res

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        shutil.rmtree(self.scratch, ignore_errors=True)


def wait_for(path: str, timeout: float = 170) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise RuntimeError(f"no {path} after {timeout} s")
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--partitions", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--job", choices=("pipeline", "kernel"), required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--min-passes", type=int, default=3)
    p.add_argument("--max-passes", type=int, default=8)
    p.add_argument("--warm-max", type=int, default=5)
    p.add_argument("--t-spawn", type=float, required=True)
    p.add_argument("--parent-span")
    p.add_argument("--bracket", help="path prefix: write PREFIX.ready after "
                   "the kernel passes, wait for PREFIX.go, then pass again")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    allowed = sorted(os.sched_getaffinity(0))
    if args.cpus > len(allowed):
        raise SystemExit(f"--cpus {args.cpus} exceeds {len(allowed)} CPUs")
    os.sched_setaffinity(0, allowed[:args.cpus])

    tr = Tracer(bool(args.trace), args.workload, f"level{args.cpus}",
                args.parent_span)
    lv = Level(args, tr)
    root = os.getpid()
    res: dict = {"cpus": args.cpus, "job": args.job}
    try:
        lv.start_session()
        res["session_start_s"] = time.time() - args.t_spawn
        scans = [lv.scan()]
        res["n_docs"] = lv.n_docs
        warm, k = lv.warm(args.job)
        res["warmup_times"] = warm
        res["settled"] = settled(warm)
        cpu0 = proctree.cpu_seconds(root)
        passes, k = lv.timed(args.job, args.seconds, k,
                             keep=args.job == "pipeline",
                             min_passes=args.min_passes,
                             max_passes=args.max_passes)
        res["cpu_s"] = proctree.cpu_seconds(root) - cpu0
        res["passes"] = passes
        # read before the output check, whose Arrow tables are the
        # benchmark's memory, not the program's
        res["peak_rss_mb"], res["jvm_peak_rss_mb"] = lv.peak_rss_mb
        res["traced_pass_times"] = lv.traced_times
        res["untraced_pass_times"] = lv.untraced_times
        res["stages"] = lv.stage_totals("timed-")
        res["attempted"] = lv.n_docs * (len(passes) + lv.failed_passes)
        res["failed"] = lv.n_docs * lv.failed_passes
        checked = lv.ok_passes if args.job == "pipeline" else []
        if args.trace and args.job == "pipeline":
            k = lv.warm("kernel", k)[1]
            cpu0 = proctree.cpu_seconds(root)
            res["kernel_passes"], k = lv.timed("kernel", 0, k, keep=False,
                                               min_passes=2, max_passes=2)
            res["kernel_cpu_s"] = proctree.cpu_seconds(root) - cpu0
            if args.bracket:
                # the local[1] level runs now, so its passes sit between
                # these and the next ones: host drift reaches both levels
                open(args.bracket + ".ready", "w").close()
                wait_for(args.bracket + ".go")
                # idle Python workers may have exited meanwhile
                k = lv.warm("kernel", k)[1]
                res["kernel_passes_after"] = lv.timed(
                    "kernel", 0, k, keep=False, min_passes=2,
                    max_passes=2)[0]
            res["job_fixed_s"] = lv.job_fixed_s()
            res["nodequery"] = lv.node_query()
        elif args.job == "pipeline":
            # set-up is repeated so that setup_s is a median, not one draw
            for _ in range(2):
                lv.unscan()
                scans.append(lv.scan())
        res["scan_times"] = scans
        res["failed"] += lv.check_outputs(checked)
    finally:
        lv.stop()
        tr.write(os.path.join(args.work, "spans.jsonl"))
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
