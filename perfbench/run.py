#!/usr/bin/env python3
"""Closed-loop workload benchmark for the sparkpipe engine.

    python3 perfbench/run.py --workload aql_search --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts one local Spark
session (``local[<cores>]``) in this process, sets the workload up once,
runs its ops one at a time for ``--seconds`` seconds, checks the
outputs against DuckDB oracles, and prints one JSON object as the last
line of stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
wraps the program's entry points in spans, reads Spark's status stores and
reports the per-layer metrics instead.  See perfbench/README.md.

Everything the run writes stays under ``.perfbench_work/`` in the current
directory; the run's own subdirectory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """``(end_to_end, per_layer)`` name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, samples)``: the highest whole percentile with
    at least ten samples beyond it (nearest rank), and never below the
    median.  Up to 20 samples no percentile above the median has ten
    beyond it, so the median is reported (percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    p = min(99, math.floor(100 * (1 - 10 / n))) if n > 20 else 50
    if p <= 50:
        return statistics.median(xs), 50, n
    return xs[math.ceil(p / 100 * n) - 1], p, n


class Clock:
    """Wall-clock intervals with the hypervisor's steal taken out.

    On a shared virtual machine the host runs other guests on our vCPUs;
    the kernel counts the time a vCPU was ready to run but not running as
    ``steal`` in /proc/stat.  An interval's *unstolen* length is its wall
    length times the share of the vCPUs' non-idle time in it that was not
    stolen -- equal to the wall length on a dedicated machine.  Idle time
    is left out of the share because a halted vCPU cannot be stolen from.
    All reported times use it, so that load on neighbouring guests does not
    read as a change in the program."""

    def __init__(self) -> None:
        self.wall = self.steal = 0.0

    @staticmethod
    def now() -> tuple[float, int, int]:
        with open("/proc/stat") as f:
            # user nice system idle iowait irq softirq steal ...
            u, n, sy, _, _, irq, soft, st = (int(x) for x in f.readline().split()[1:9])
        return time.time(), u + n + sy + irq + soft + st, st

    def ms(self, a: tuple[float, int, int], b: tuple[float, int, int]) -> float:
        wall = 1000.0 * (b[0] - a[0])
        ticks = b[1] - a[1]
        share = (b[2] - a[2]) / ticks if ticks > 0 else 0.0
        self.wall += wall
        self.steal += wall * share
        return wall * (1.0 - share)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def proc_cpu_ms(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM temp, index
    artifacts) under ``work``."""
    for d in ("tmp", "local", "artifacts"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_ARTIFACT_ROOT"] = os.path.join(work, "artifacts")
    # the engine's default heap (16 GiB) lets the JVM grow to 3-7 GB
    # resident before it collects, and by a different amount in every run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # a common JVM setting that bounds glibc's per-thread malloc arenas
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    import tempfile

    tempfile.tempdir = None


def start_spark(work: str):
    from qradar_restapi_kafka_datapipeline_spark.engine import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.ui.retainedExecutions": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def temp_view_count(spark) -> int:
    return len(spark.catalog.listTables())


def scratch_dir_count() -> int:
    from qradar_restapi_kafka_datapipeline_spark import engine

    root = engine._SCRATCH_ROOT
    return len(os.listdir(root)) if root and os.path.isdir(root) else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # before the program is imported: its engine reads the driver heap size
    # from the environment at import time
    prepare_env(work)
    spark = wl = None
    try:
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        try:
            import pyspark  # noqa: F401

            import qradar_restapi_kafka_datapipeline_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
            return 3
        import gen
        import tracing
        import workloads as W

        classes = {c.name: c for c in (W.AqlSearch, W.EtlIngest, W.BatchRun,
                                       W.StreamIngest)}
        if args.workload not in classes:
            print(f"perfbench: unknown workload {args.workload!r}; choose from "
                  f"{sorted(classes)}", file=sys.stderr)
            return 2
        cls = classes[args.workload]

        t0 = time.perf_counter()
        paths = gen.generate(os.path.join(work, "inputs"), args.seed, **cls.inputs)
        gen_s = time.perf_counter() - t0

        clock = Clock()
        t0 = clock.now()
        spark = start_spark(work)
        session_s = clock.ms(t0, clock.now()) / 1000.0
        tracer = tracing.Tracer()
        wl = cls(spark, paths, work, args.seed, tracer)
        t0 = clock.now()
        wl.setup()
        setup_s = session_s + clock.ms(t0, clock.now()) / 1000.0
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0

        if args.trace:
            tracing.instrument(tracer, spark)
        views0, scratch0 = temp_view_count(spark), scratch_dir_count()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        jvm0 = proc_cpu_ms(jvm_pid)
        done: list[tuple[str, float, bool]] = []
        windows: list[tuple[float, float]] = []
        errors: dict[str, int] = {}
        raw: list[float] = []
        py_cpu = 0.0
        ops = wl.ops()
        deadline = time.time() + args.seconds
        while time.time() < deadline or len(done) < wl.min_ops:
            label, fn = next(ops)
            tracer.op_id = len(done)
            c0 = time.process_time()
            a = clock.now()
            ok = True
            try:
                fn()
            except Exception as e:  # a failed op is counted, never filtered
                ok = False
                key = f"{type(e).__name__}: {str(e).splitlines()[0][:100]}"
                errors[key] = errors.get(key, 0) + 1
            b = clock.now()
            py_cpu += time.process_time() - c0
            tracer.op_id = -1
            done.append((label, clock.ms(a, b), ok))
            if ok:
                raw.append(1000.0 * (b[0] - a[0]))
            windows.append((a[0], b[0]))
        jvm_ms = proc_cpu_ms(jvm_pid) - jvm0
        views_growth = temp_view_count(spark) - views0
        scratch_growth = scratch_dir_count() - scratch0
        tracer.unpatch()
        # before the checks, whose DuckDB oracles are not the program's memory
        py_mb, jvm_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)

        t0 = time.perf_counter()
        problems = wl.check()
        check_s = time.perf_counter() - t0

        by_kind: dict[str, list[float]] = {k: [] for k in wl.kinds()}
        for kind, ms, ok in done:
            if ok and kind in by_kind:
                by_kind[kind].append(ms)
        failed = sum(1 for *_, ok in done if not ok)
        missing = [k for k, v in by_kind.items() if not v]
        if missing:
            # the figures sum over a fixed set of kinds; without one of them
            # this run is not comparable with any other
            print(f"perfbench: no successful op of kind {missing}; "
                  f"failures: {errors}", file=sys.stderr)
            return 4
        lat = [ms for v in by_kind.values() for ms in v]
        kind_p50 = {k: statistics.median(v) for k, v in by_kind.items()}
        round_ms = sum(kind_p50.values())
        p50 = statistics.median(kind_p50.values())
        tail_v, tail_p, n_lat = tail(lat)
        work_rate = wl.work_done(done)

        print(f"# workload {args.workload} seed {args.seed}: {len(done)} ops, "
              f"{failed} failed (failed_share {failed / len(done):.4f}), "
              f"{n_lat} latency samples")
        for k, v in sorted(errors.items()):
            print(f"#   failure x{v}: {k}")
        print("# ops: " + " ".join(f"{lb}:{ms:.0f}{'' if ok else 'x'}"
                                   for lb, ms, ok in done))
        print(f"# {len(by_kind)} op kinds: round {round_ms:.1f} ms, median of "
              f"kind medians {p50:.1f} ms; over all {n_lat} samples: median "
              f"{statistics.median(lat):.1f} ms, tail p{tail_p} {tail_v:.1f} ms; "
              f"work {work_rate:.3f}/s")
        print("# kind medians: " + " ".join(f"{k}:{v:.0f}" for k, v in kind_p50.items()))
        print(f"# input generation {gen_s:.2f} s (not in setup_s); session "
              f"{session_s:.2f} s; set-up {setup_s - session_s:.2f} s; "
              f"warm-up {warm_s:.2f} s; check {check_s:.2f} s")
        print(f"# host steal: {clock.steal / max(clock.wall, 1e-9):.1%} of the "
              f"timed wall clock; times above are wall minus steal (op p50 "
              f"with steal, over all samples: {statistics.median(raw):.1f} ms)")
        print(f"# peak RSS: driver Python {py_mb:.0f} MB, "
              f"JVM {jvm_mb:.0f} MB")
        for p in problems:
            print(f"# CHECK FAILED: {p}")

        end_to_end, per_layer = declared_metrics()
        if args.trace:
            n = len(done)
            snap = tracing.snapshot(spark)
            metrics = tracing.engine_metrics(snap, windows)
            metrics["engine.analyze_ms"] = tracer.total_ms("engine.spark_sql") / n
            metrics["engine.jvm_cpu_ms"] = jvm_ms / n
            metrics["engine.driver_python_cpu_ms"] = 1000.0 * py_cpu / n
            metrics["engine.read_artifact_calls"] = tracer.count("engine.read_artifact") / n
            metrics["engine.temp_views_growth"] = views_growth
            metrics["engine.scratch_dirs_growth"] = scratch_growth
            metrics.update(wl.layer_metrics(done, snap))
            metrics["trace.round_ms"] = round_ms
            metrics["trace.work_per_s"] = work_rate
            metrics["trace.self_ms"] = 1000.0 * tracer.self_s / n
            undeclared = sorted(set(metrics) - set(per_layer))
            if undeclared:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
            spans = os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans)
            print(f"# tracing: {len(tracer.spans)} spans in {spans}; traced "
                  f"round {round_ms:.1f} ms and work {work_rate:.3f}/s -- the "
                  f"tracing overhead is these minus a --trace 0 run of the same seed")
            # layers the workload does not reach report 0
            result_metrics = {k: {"value": metrics.get(k, 0.0), "unit": u}
                              for k, u in per_layer.items()}
        else:
            values = {"round_ms": round_ms, "op_p50_ms": p50,
                      "work_per_s": work_rate, "peak_rss_mb": py_mb + jvm_mb,
                      "setup_s": setup_s}
            result_metrics = {k: {"value": values[k], "unit": u}
                              for k, u in end_to_end.items()}
        print(json.dumps({"correct": not problems, "attempted": len(done),
                          "failed": failed, "metrics": result_metrics}))
        return 1 if problems else 0
    finally:
        if wl is not None:
            wl.teardown()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
