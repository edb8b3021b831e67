#!/usr/bin/env python3
"""Benchmark of the web-text filter: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 10 --trace 0

Run from the repository root. Starts Spark at local[<cores available>]
in this process, builds the workload's inputs from the seed under
``.perfbench/`` in the repository root, warms up, then repeats the
workload's operation for ``--seconds`` and checks every output.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the run's spans are written to
``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_FAILED = 2  # failed operations after which a run stops early
END_TO_END_UNITS = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "s/kdoc",
                    "peak_rss_mb": "MB", "setup_s": "s"}


def _configure_env(work: str, cores: int) -> None:
    """Environment of the driver, the JVM it launches and the Python
    workers, fixed before Spark starts."""
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_ARROW_BATCH",
                "SPARK_GRAFT_READER_BATCH", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(var, None)  # the program's own defaults are measured
    path = os.environ.get("PYTHONPATH")
    # workers import hyperpolyglot_spark and the input generators
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([path] if path else []))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    os.environ["SPARK_DRIVER_MEM"] = f"{min(2048, phys_mb // 4)}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _start_spark(work: str, cores: int):
    from hyperpolyglot_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap of fixed size: no resizing between operations
        "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true"
        f" -Xms{os.environ['SPARK_DRIVER_MEM']} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait for every descendant to exit."""
    import procs

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # the JVM is already gone; the processes still need reaping
        traceback.print_exc()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in procs.tree_pids() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline - 20:  # 10 s of grace, then kill
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def _probe(cls, spark, work: str, seed: int, tracer, counters,
           k0: int) -> tuple[int, int, dict]:
    """A layer probe (``workloads.LAYER_PROBES``): set-up and warm-up,
    then ``PROBE_OPS`` traced, checked operations numbered from ``k0``.
    Returns the operations attempted and failed, and the probe's
    per-layer metrics."""
    from workloads import PROBE_OPS

    probe = cls(spark, work, seed, tracer)
    records, failed = [], 0
    try:
        probe.build_inputs()
        probe.open()
        probe.warm_up()
        probe.prepare_checks()
        for k in range(k0, k0 + PROBE_OPS):
            probe.prepare_op(k)
            counters.mark()
            t0 = time.perf_counter()
            with tracer.span("probe", k, workload=cls.name):
                _, check = probe.op(k, True)
            dt = time.perf_counter() - t0
            records.append(counters.since_mark())
            ok = check()
            failed += not ok
            print(f"probe {cls.name} op {k}: {dt:.3f}s{'' if ok else ' FAILED'}",
                  file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return PROBE_OPS, PROBE_OPS, {}
    return PROBE_OPS, failed, probe.layer_metrics(records)


def run(name: str, seed: int, seconds: float, per_layer: dict[str, str] | None,
        work: str, cores: int) -> tuple[dict, int]:
    """One run; ``per_layer`` (name -> unit) makes it the traced run.
    Returns the result and the number of untraced units."""
    import procs
    import tracing
    from hyperpolyglot_spark.functions.langid import default_hashed_model
    from hyperpolyglot_spark.functions.perplexity import default_ppl_model, ppl_thresholds_for
    from workloads import LAYER_PROBES, WORKLOADS, median

    traced = per_layer is not None

    tracer = tracing.Tracer()
    t0 = time.perf_counter()
    spark = _start_spark(work, cores)
    spark_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[name](spark, work, seed, tracer)
        t0 = time.perf_counter()
        default_hashed_model()
        ppl_thresholds_for(default_ppl_model())
        models_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.build_inputs()
        wl.open()
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare_checks()
        checks_s = time.perf_counter() - t0
        setup_s = spark_s + models_s + build_s + warm_s
        print(f"setup: spark {spark_s:.2f}s models {models_s:.2f}s inputs "
              f"{build_s:.2f}s warm-up {warm_s:.2f}s (checks {checks_s:.2f}s)",
              file=sys.stderr)

        counters = tracing.SparkCounters(spark) if traced else None
        # rates per unit: an operation, or a resume_write directory, whose
        # groups differ in page count by up to 10 %
        plain, with_trace, cpu, op_counters = [], [], [], []
        u_docs = u_dt = u_cpu = 0.0
        attempted = failed = 0
        peak_rss_mb = 0.0
        t_end = time.perf_counter() + seconds
        k = 0
        tr = False
        # at least one operation, however long, and whole directories of
        # resume_write; a traced run alternates untraced and traced
        # operations (directories)
        while (time.perf_counter() < t_end or not plain
               or (traced and not with_trace) or not wl.at_boundary()):
            if traced and k and wl.at_boundary():
                tr = not tr
            wl.prepare_op(k)
            attempted += 1
            try:
                if tr:
                    counters.mark()
                procs.reset_peak_rss()
                cpu0 = procs.tree_cpu_s()
                t0 = time.perf_counter()
                with tracer.span("op", k, workload=name) if tr else nullcontext():
                    docs, check = wl.op(k, tr)
                dt = time.perf_counter() - t0
                cpu_s = procs.tree_cpu_s() - cpu0
                peak_rss_mb = max(peak_rss_mb, procs.tree_peak_rss_mb())
                if tr:
                    op_counters.append(counters.since_mark())
                ok = check()
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                failed += 1
                print(f"op {k} FAILED", file=sys.stderr)
                if failed >= MAX_FAILED:
                    break
            else:
                u_docs, u_dt, u_cpu = u_docs + docs, u_dt + dt, u_cpu + cpu_s
                print(f"op {k}{' traced' if tr else ''}: {dt:.3f}s "
                      f"{docs / dt:.1f} docs/s", file=sys.stderr)
            k += 1
            if wl.at_boundary() and u_docs:
                (with_trace if tr else plain).append(u_docs / u_dt)
                if not tr:
                    cpu.append(u_cpu / (u_docs / 1000))
                u_docs = u_dt = u_cpu = 0.0
        if not wl.check_run():
            failed = attempted
        docs_per_s = median(plain)
        end_to_end = {"docs_per_s": docs_per_s, "cpu_s_per_kdoc": median(cpu),
                      "peak_rss_mb": peak_rss_mb, "setup_s": setup_s}
        if not traced:
            result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
            result["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                                 for k, v in end_to_end.items()}
            return result, len(plain)

        layer = tracing.layer_probe(wl.probe_pages(), tracer, -1)
        spec = layer["pipeline.spec_docs_per_s"]
        c = op_counters
        layer.update({
            "pipeline.parallel_eff": docs_per_s / (cores * spec),
            "pipeline.python_total_s": median([x["python_total_s"] for x in c]),
            "pipeline.python_boot_s": median([x["python_boot_s"] for x in c]),
            "pipeline.python_init_s": median([x["python_init_s"] for x in c]),
            "pipeline.python_sent_mb": median([x["python_sent_b"] for x in c]) / 2**20,
            "pipeline.python_received_mb": median([x["python_received_b"] for x in c]) / 2**20,
            "pipeline.tasks": median([x["tasks"] for x in c]),
            "pipeline.task_skew": median([x["task_skew"] for x in c]),
            "pipeline.gc_s": median([x["gc_s"] for x in c]),
            "pipeline.failed_tasks": sum(x["failed_tasks"] for x in c),
            "sources.scan_mb": median([sum(b for _, b, _ in x["scans"]) for x in c]) / 2**20,
            "sources.splits": wl.splits(),
        })
        for lname in per_layer:  # layers this workload does not call read 0
            layer.setdefault(lname, 0.0)
        layer.update(wl.layer_metrics(c))
        layer["trace.overhead_frac"] = 1 - median(with_trace) / docs_per_s if docs_per_s else 0.0
        for probe in LAYER_PROBES.get(name, ()):
            n, bad, metrics = _probe(probe, spark, work, seed, tracer, counters, k)
            attempted, failed, k = attempted + n, failed + bad, k + n
            layer.update(metrics)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        layer["error_rate"] = failed / attempted
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{name}-seed{seed}.json"))
        result["metrics"] = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
        return result, len(plain)
    finally:
        _stop_spark(spark)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hyperpolyglot_spark")):
        print(f"no hyperpolyglot_spark package under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    per_layer = None
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        _configure_env(work, cores)
        result, ops = run(args.workload, args.seed, args.seconds, per_layer, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"{args.workload} seed {args.seed}: {result['attempted']} ops, "
          f"{result['failed']} failed, error_rate "
          f"{result['failed'] / result['attempted']:.4f} ratio")
    for k, m in result["metrics"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(f"  (medians over {ops} untraced operations or directories)")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
