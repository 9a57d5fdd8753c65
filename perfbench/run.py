"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 12 --trace 0

Run from the repository root.  The work runs in a child of this process,
which adopts and, at the end, kills and reaps every process the run started
(``supervise``).  Generates the workload's input once per seed
(``perfbench/_work/data``), then runs the workload's production job in a
child process pinned to all ``nproc`` CPUs and prints, as the last line of
stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, from a
separate run that also measures the ``local[1]`` level, the kernel stages and
the node-query side input, and writes a per-layer table next to its spans.
See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("extract_web", "extract_small")
LV1_WARM_MAX = 6

sys.path.insert(0, HERE)

import proctree  # noqa: E402
from level import STEAL_MAX  # noqa: E402
from tracing import Tracer  # noqa: E402

def _env() -> dict:
    """Child environment: every file the run writes stays under WORK."""
    tmp = os.path.join(WORK, "tmp")
    conf = os.path.join(WORK, "spark-conf")
    for d in (tmp, conf):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.local.dir {os.path.join(WORK, 'spark-local')}\n"
                f"spark.sql.warehouse.dir {os.path.join(WORK, 'warehouse')}\n"
                f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}"
                " -XX:-UsePerfData\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "KSOUP_CTOK_CACHE": os.path.join(WORK, "ctok"),
        "TMPDIR": tmp,
    })
    return env


def run_level(tr: Tracer, workload: str, data: str, cpus: int, job: str,
              seconds: float, trace: int, partitions: int, min_passes: int,
              max_passes: int, warm_max: int, during=None) -> dict:
    """Run one level in its own process and return its result.

    ``during``, when given, is called while the level waits between two
    sets of kernel passes (``level.py --bracket``), so whatever it measures
    sits in time between them.
    """
    with tr.span(f"level{cpus}") as sp:
        out = os.path.join(WORK, f"level-{workload}-{cpus}-{job}.json")
        bracket = os.path.join(WORK, f"bracket-{workload}")
        stale = [out] + ([bracket + ".ready", bracket + ".go"] if during
                         else [])
        for f in stale:
            if os.path.exists(f):
                os.remove(f)
        cmd = [sys.executable, os.path.join(HERE, "level.py"),
               "--workload", workload, "--data", data, "--work", WORK,
               "--cpus", str(cpus), "--partitions", str(partitions),
               "--seconds", str(seconds), "--job", job, "--trace", str(trace),
               "--min-passes", str(min_passes), "--max-passes",
               str(max_passes), "--warm-max", str(warm_max),
               "--t-spawn", repr(time.time()), "--out", out]
        if sp:
            cmd += ["--parent-span", sp["id"]]
        if during:
            cmd += ["--bracket", bracket]
        # the level's own session holds its JVM and Python workers: whatever
        # way it ends, none of them outlives it
        proc = subprocess.Popen(cmd, env=_env(), stdout=sys.stderr,
                                start_new_session=True)
        try:
            if during:
                try:
                    _wait_for(bracket + ".ready", proc)
                    during()
                finally:
                    open(bracket + ".go", "w").close()
            rc = proc.wait(timeout=170)
        finally:
            proctree.kill_group(proc.pid)
            proc.wait()
        if rc != 0:
            raise RuntimeError(f"level {cpus} ({job}) exited {rc}")
        with open(out) as f:
            return json.load(f)


def _wait_for(path: str, proc, timeout: float = 150) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"level exited before {path} appeared")
        if time.monotonic() > deadline:
            raise RuntimeError(f"no {path} after {timeout} s")
        time.sleep(0.1)


def input_mb(data: str) -> float:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data, "expect.parquet"),
                      columns=["html_bytes"])
    return sum(t.column(0).to_pylist()) / 1e6


def pass_time(passes: list) -> float:
    """Median timed pass, over the clean passes when there are at least
    two (``level.STEAL_MAX``), else over all of them."""
    clean = [t for t, s in passes if s <= STEAL_MAX]
    return statistics.median(clean if len(clean) >= 2 else
                             [t for t, _ in passes])


def end_to_end(lv: dict, mb: float) -> dict:
    """The end-to-end metrics from the all-CPU level's untraced passes."""
    med = pass_time(lv["passes"])
    n = lv["n_docs"]
    return {
        "docs_per_s": (n / med, "docs/s"),
        "mb_per_s": (mb / med, "MB/s"),
        "cpu_us_per_doc": (lv["cpu_s"] * 1e6 / lv["attempted"], "us/doc"),
        "setup_s": (lv["session_start_s"] + statistics.median(lv["scan_times"]),
                    "s"),
        # the driver JVM's share is left out: G1 sizes its heap by GC
        # pressure, which moves it 1.6-4.3 GB between runs of the same input
        # (per-layer mem.jvm_peak_rss_mb)
        "py_peak_rss_mb": (lv["peak_rss_mb"] - lv["jvm_peak_rss_mb"], "MB"),
    }


def per_layer(tr: Tracer, data: str, lv: dict, lv1: dict, mb: float,
              ncpu: int) -> dict:
    import pyarrow.parquet as pq

    import stages

    docs = pq.read_table(os.path.join(data, "docs.parquet"))
    with tr.span("stages.kernel"):
        k = stages.kernel_stages(docs.slice(0, 2000))
    side = pq.read_table(os.path.join(data, "nodeq", "docs.parquet"))
    with tr.span("stages.dom"):
        dom = stages.dom_stages(side.column("html").to_pylist())
    with tr.span("stages.host_scaling"):
        kscale = stages.host_scaling(os.path.join(data, "docs.parquet"),
                                     stages.host_limit(data), ncpu)

    n = lv["n_docs"]
    passes = len(lv["passes"])
    st = {key: v / passes for key, v in lv["stages"].items()}
    med_pipe = pass_time(lv["passes"])
    med_kernel = pass_time(lv["kernel_passes"])
    cpu_us = lv["cpu_s"] * 1e6 / lv["attempted"]
    # the all-CPU level's kernel passes before and after the local[1] level
    thr_n = n / pass_time(lv["kernel_passes"] + lv["kernel_passes_after"])
    thr_1 = lv1["n_docs"] / pass_time(lv1["passes"])
    steal = [s for _, s in lv["passes"]]
    nq = lv["nodequery"]
    m = {
        "session.start_s": (lv["session_start_s"], "s"),
        "scan.input_s": (lv["scan_times"][0], "s"),
        "scan.input_mb": (mb, "MB"),
        "spark.job_fixed_s": (lv["job_fixed_s"], "s"),
        "spark.warmup_passes": (len(lv["warmup_times"]), "count"),
        "spark.warmup_s": (sum(lv["warmup_times"]), "s"),
        "spark.tasks": (st["tasks"], "count"),
        "spark.failed_tasks": (st["failed_tasks"], "count"),
        "spark.jvm_gc_ms": (st["gc_ms"], "ms"),
        "spark.executor_cpu_ms": (st["cpu_ms"], "ms"),
        "spark.shuffle_write_mb": (st["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (st["spill_mb"], "MB"),
        "extract.decode_us_per_doc": (k["decode"], "us/doc"),
        "extract.assemble_us_per_doc": (k["assemble"], "us/doc"),
        "extract.encode_us_per_doc": (k["encode"], "us/doc"),
        "extract.residual_us_per_doc": (cpu_us - k["body"], "us/doc"),
        "extract.residual_share": ((cpu_us - k["body"]) / cpu_us, "ratio"),
        # the same without the pipeline's sink: the noop-sink kernel job
        "extract.residual_kernel_job_us_per_doc": (
            lv["kernel_cpu_s"] * 1e6 / (n * len(lv["kernel_passes"]))
            - k["body"], "us/doc"),
        "treebuilder.parse_us_per_doc": (k["parse"], "us/doc"),
        "treebuilder.nodes_per_doc": (k["nodes_per_doc"], "count"),
        "treebuilder.c_tree": (k["c_tree"], "count"),
        "textops.spanwalk_us_per_doc": (k["spanwalk"], "us/doc"),
        "textops.spans_per_doc": (k["spans_per_doc"], "count"),
        "kernel.body_us_per_doc": (k["body"], "us/doc"),
        "kernel.body_untimed_us_per_doc": (k["body_untimed_us"], "us/doc"),
        "pipeline.sink_s": (med_pipe - med_kernel, "s"),
        "dom.to_table_us_per_doc": (dom["to_table_us"], "us/doc"),
        "dom.rows_per_doc": (dom["rows_per_doc"], "count"),
        "nodequery.compile_ms": (nq["compile_ms"], "ms"),
        "nodequery.node_table_s": (nq["node_table_s"], "s"),
        "nodequery.selectors_s": (nq["selectors_s"], "s"),
        "nodequery.join_rows": (nq["join_rows"], "rows"),
        "nodequery.matches": (nq["matches"], "rows"),
        "nodequery.match_ratio": (nq["matches"] / max(nq["join_rows"], 1),
                                  "ratio"),
        "scaling.docs_per_s_1": (thr_1, "docs/s"),
        "scaling.docs_per_s_n": (thr_n, "docs/s"),
        "scaling.eff": (thr_n / (ncpu * thr_1), "ratio"),
        "scaling.warmup_passes_1": (len(lv1["warmup_times"]), "count"),
        "scaling.settled_1": (int(lv1["settled"]), "count"),
        "host.kernel_scaling": (kscale, "ratio"),
        "mem.peak_rss_mb": (lv["peak_rss_mb"], "MB"),
        "mem.jvm_peak_rss_mb": (lv["jvm_peak_rss_mb"], "MB"),
        "host.steal_pct": (100 * statistics.mean(steal), "%"),
        "host.clean_passes": (sum(s <= STEAL_MAX for s in steal), "count"),
        "trace.overhead_docs_per_s": (
            n / statistics.median(lv["untraced_pass_times"])
            - n / statistics.median(lv["traced_pass_times"]), "docs/s"),
    }
    return m


def layer_table(workload: str, seed: int, m: dict) -> str:
    body = m["kernel.body_us_per_doc"][0]
    lines = [f"# per-layer table: {workload}, seed {seed}", "",
             "| metric | value | unit |", "|---|---|---|"]
    lines += [f"| {k} | {v:.6g} | {u} |" for k, (v, u) in m.items()]
    lines.append("")
    for job, key in (("pipeline", "extract.residual_us_per_doc"),
                     ("noop-sink kernel", "extract.residual_kernel_job_us_per_doc")):
        res = m[key][0]
        share = res / (res + body)
        verdict = ("closer to the ROADMAP's ~70%" if abs(share - 0.7)
                   < abs(share - 0.1) else "closer to the probes' ~0-20%")
        lines.append(f"steady-state residual of the {job} job: {res:.0f} "
                     f"us/doc, {share:.0%} of its CPU per doc: {verdict}.")
    if not m["scaling.settled_1"][0]:
        lines.append("scaling.eff is NOT valid: the local[1] level did not "
                     f"settle in {LV1_WARM_MAX} warm-up passes.")
    return "\n".join(lines) + "\n"


def declared_metrics(kind: str) -> dict:
    """name -> unit of the ``kind`` metrics that BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and end every process it leaves.

    The child starts the level processes, their JVMs and Python workers,
    and the host-scaling processes.  This process adopts whatever of that
    outlives its parent and, once the child has exited, kills and reaps all
    of it, so nothing the run started is still running when it returns.
    """
    proctree.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = dict(os.environ, PERFBENCH_CHILD="1")
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                                  *argv], env=env)
        return child.wait()
    finally:
        if not proctree.reap_descendants():
            print("perfbench: processes of the run are still alive",
                  file=sys.stderr)
            if child is None or child.returncode == 0:
                sys.exit(3)


def main(argv=None) -> int:
    if os.environ.get("PERFBENCH_CHILD") != "1":
        return supervise(sys.argv[1:] if argv is None else argv)
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ksoup_spark")):
        print("perfbench: the ksoup_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.update({k: v for k, v in _env().items()
                       if k in ("KSOUP_CTOK_CACHE", "TMPDIR")})

    import gen

    spans_path = os.path.join(WORK, "spans.jsonl")
    if os.path.exists(spans_path):
        os.remove(spans_path)
    tr = Tracer(bool(args.trace), args.workload, "run")
    with tr.span("run"):
        with tr.span("generate"):
            data = gen.generate(args.workload, args.seed,
                                os.path.join(WORK, "data"))
        ncpu = len(os.sched_getaffinity(0))
        partitions = 2 * ncpu
        mb = input_mb(data)
        # the traced run keeps to fixed pass budgets so that it, with its
        # local[1] level and side measurements, ends well inside 180 s
        lv1: dict = {}

        def local1() -> None:
            # the local[1] half of the scaling pair: same input, same job as
            # the all-CPU level's kernel passes, run while that level waits
            # between two sets of them.  Warmed until two passes agree
            # (LV1_WARM_MAX is only a guard); scaling.settled_1 says whether
            # they did
            lv1.update(run_level(tr, args.workload, data, 1, "kernel", 0, 0,
                                 partitions, min_passes=2, max_passes=2,
                                 warm_max=LV1_WARM_MAX))

        lv = run_level(tr, args.workload, data, ncpu, "pipeline",
                       args.seconds, args.trace, partitions,
                       min_passes=2 if args.trace else 3,
                       max_passes=2 if args.trace else 5,
                       warm_max=3 if args.trace else 4,
                       during=local1 if args.trace else None)
        failed, attempted = lv["failed"], lv["attempted"]
        if args.trace:
            failed += lv["nodequery"]["failed"]
            attempted += lv["nodequery"]["docs"]
            metrics = per_layer(tr, data, lv, lv1, mb, ncpu)
    tr.write(spans_path)
    if args.trace:
        table = layer_table(args.workload, args.seed, metrics)
        with open(os.path.join(WORK, f"layers-{args.workload}.md"), "w") as f:
            f.write(table)
        print(table)
    else:
        metrics = end_to_end(lv, mb)
        print(f"failed_frac {failed / attempted:.6g} ratio")
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    emitted = {k: u for k, (_, u) in metrics.items()}
    if emitted != declared:
        raise SystemExit(f"perfbench: metrics {emitted} differ from "
                         f"BENCHMARK.json {declared}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
