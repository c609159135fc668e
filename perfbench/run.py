#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload pipeline_ingest --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, one driver process on ``local[nproc]``):

- ``pipeline_ingest``: one operation is one ``run_pipeline`` pass over a
  seeded multi-dialect CSV corpus, into a fresh directory, followed by
  materializing every country view;
- ``catalog_small``: one operation is one catalog query (construction
  through a ``noop`` write) over seeded star-schema tables at sf0.01;
- ``tpch_10x``: one operation is one of TPC-H q1-q22 over the same
  schema with ``orders``/``lineitem`` replicated ten times.

A run sets up (session, data, one untimed first-touch pass, one untimed
warm-up pass), then runs whole passes over the workload's operations in a seed-shuffled order
until ``--seconds`` have passed, then checks every output: pipeline
passes against the generator's exact counts, catalog queries against
their DuckDB oracles. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs traced and untraced operations alternately and
reports the per-layer metrics. Human-readable tables go to stdout
before the final JSON line; the full record, and the span file of a
traced run, go under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()

PACKAGE = "incubyte_vaccination_data_pipeline_spark"
WORKLOADS = ("pipeline_ingest", "catalog_small", "tpch_10x")
END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "python_peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_heap_mb(spark) -> dict[str, float]:
    """The JVM heap's committed size now and the sum of its pools' peak
    use, in MB."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    peaks = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                if p.getType().toString() == "Heap memory")
    return {"jvm.heap_committed_mb": committed / 2**20, "jvm.heap_pool_peaks_mb": peaks / 2**20}


def _git_commit(root: str) -> str | None:
    # the ceiling keeps git from looking for a repository above ``root``
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def conditions(root: str, nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": list(os.getloadavg()),
        "steal_s_start": _steal_s(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_commit": _git_commit(root),
    }


def start_spark(name: str, nproc: int, work: str, trace: bool):
    from incubyte_vaccination_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{name}", master=f"local[{nproc}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin, the gateway's lifeline, closes)."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def report_table(rows: list[tuple[str, object, str, object]]) -> None:
    print(f"{'metric':36s} {'value':>16s} {'unit':10s} n")
    for name, value, unit, n in rows:
        v = f"{value:.6g}" if isinstance(value, float) else str(value)
        print(f"{name:36s} {v:>16s} {unit:10s} {n}")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "run", f"{args.workload}-{os.getpid()}")
    for d in ("spark-local", "tmp", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    # keep Spark's block files and every temp file inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import workloads

    nproc = len(os.sched_getaffinity(0))
    cond = conditions(root, nproc)
    t0 = time.perf_counter()
    spark = start_spark(args.workload, nproc, work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        cond["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wl = workloads.make(args.workload, spark, run_dir)
        rng = random.Random(args.seed)
        t0 = time.perf_counter()
        wl.prepare(args.seed)
        t1 = time.perf_counter()
        wl.first_touch(rng)
        setup_s = time.perf_counter() - T_START
        phases = {"prepare_s": t1 - t0, "first_touch_s": time.perf_counter() - t1}
        t0 = time.perf_counter()
        if args.trace:
            result = wl.traced(rng, args.seconds, work)
        else:
            result = wl.measure(rng, args.seconds)
        memory = {"python_peak_rss_mb": _vm_hwm_kb("self") / 1024,
                  "jvm_peak_rss_mb": _vm_hwm_kb(jvm_pid) / 1024, **_jvm_heap_mb(spark)}
        peak_rss_mb = memory["python_peak_rss_mb"] + memory["jvm_peak_rss_mb"]
        t1 = time.perf_counter()
        result.failures.extend(wl.check(rng))
        phases.update(measure_s=t1 - t0, check_s=time.perf_counter() - t1)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        wl.finish_trace(result, work)
    cond["loadavg_end"] = list(os.getloadavg())
    cond["steal_s"] = _steal_s() - cond.pop("steal_s_start")

    attempted = result.attempted
    failed = result.failed_ops()
    if args.trace:
        result.layer_metrics["session.get_spark_s"] = (session_s, "s")
        metrics = {k: {"value": result.layer_metrics[k][0], "unit": unit}
                   for k, unit in workloads.COMMON_LAYER_METRICS.items()}
    else:
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": result.ops_per_s(),
            "python_peak_rss_mb": memory["python_peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("conditions " + json.dumps(cond))
    rows = [("setup_s", setup_s, "s", 1), ("session.get_spark_s", session_s, "s", 1)]
    rows += [(f"phase.{k}", v, "s", 1) for k, v in phases.items()]
    rows += [(k, v, "MB", 1) for k, v in memory.items()]
    rows += result.report_rows(failed, attempted, peak_rss_mb)
    report_table(rows)
    if result.failures:
        print(f"failures ({len(result.failures)}):")
        for f in result.failures:
            print(f"  {f['op']}: {f['error']}")
    else:
        print("failures: none")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "conditions": cond, "setup_s": setup_s,
        "session_s": session_s, "phases": phases, "metrics": metrics,
        "report": [list(r) for r in rows], "failures": result.failures,
        "samples": result.samples,
    }
    out = os.path.join(work, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps({
        "correct": not result.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
