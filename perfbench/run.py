#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one workload per run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
inside ``perfbench/.work/``, which is removed at exit; the session runs
``local[<cpus this process may use>]`` with its local dirs, warehouse and
temp files there too, so ``/tmp`` and ``spark-warehouse/`` are left as
they were found. One client runs operations back to back until the
measured operation time reaches ``--seconds``; every result is checked
outside the timer.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with spans,
the Spark event log and a streaming progress listener, and reports the
per-layer metrics (the full layer report is the line before it and is
also written to ``perfbench/.out/``). The line before those records the
environment and the sample counts. ``perfbench/README.md`` lists every
metric.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import scenarios
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_apache_kafka_python_doker_aws_spark"

#: The metric names and units of the result line, per ``--trace`` value.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

#: Consecutive operation failures after which the loop gives up.
MAX_FAILURE_STREAK = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(scenarios.SCENARIOS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Everything the session and its Python workers inherit. Set before
    the JVM starts; the JVM and its Python workers read it at launch."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # engine default, see README
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def tree_listing(path: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(path):
        out.extend(os.path.relpath(os.path.join(root, n), path) for n in dirs + files)
    return sorted(out)


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        ref_path = os.path.join(ROOT, ".git", ref[5:])
        return open(ref_path).read().strip() if os.path.isfile(ref_path) else None
    return ref


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int]) -> float:
    """Share of this host's CPU time since ``start`` that the hypervisor
    gave to other guests (the ``steal`` column of /proc/stat): a
    contended host, not the program, when it is high."""
    delta = [b - a for a, b in zip(start, cpu_times())]
    return delta[7] / max(1, sum(delta))


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    warehouse_before = tree_listing(os.path.join(ROOT, "spark-warehouse"))
    cpu_at_start = cpu_times()
    pin_environment(work)
    sys.path.insert(0, ROOT)

    from etl_apache_kafka_python_doker_aws_spark import get_spark

    traced = args.trace == 1
    tr = tracing.Tracer() if traced else tracing.NullTracer()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM otherwise writes /tmp/hsperfdata_<user>/
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    spark = None
    scenario = None
    durations: list[float] = []
    by_kind: dict[str, list[float]] = {}
    timeline: list[tuple[str, float]] = []
    rows = 0
    attempted = failed = 0
    progress: list[dict] = []
    env: dict = {}
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        jvm = spark.sparkContext._jvm
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale,
            "master": spark.sparkContext.master,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
            "PYTHONPATH": "<repo root>",
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
            "host_ram_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20,
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_sha": git_sha(),
        }
        jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        if traced:
            spark.streams.addListener(tracing.make_progress_listener(progress))

        scenario = scenarios.SCENARIOS[args.workload](spark, ROOT, work, args.seed, args.scale)
        with tr.span("setup"):
            t1 = time.perf_counter()
            scenario.setup()
            setup_s = session_s + (time.perf_counter() - t1)
        with tr.span("warm"):
            n_checked, n_bad = scenario.warm()
        attempted += n_checked
        failed += n_bad

        streak = 0
        ops = scenario.ops()
        while (
            sum(durations) < args.seconds or (attempted - n_checked) % scenario.cycle_len
        ) and streak < MAX_FAILURE_STREAK:
            with tr.span("next_input"):
                op = next(ops)
            attempted += 1
            ok = False
            try:
                with tr.span("op"):
                    start = time.perf_counter()
                    result = op.run(tr)
                    elapsed = time.perf_counter() - start
                durations.append(elapsed)
                by_kind.setdefault(op.kind, []).append(elapsed)
                timeline.append((op.label, round(elapsed, 4)))
                rows += op.rows
                tr.after_op()
                with tr.span("check"):
                    ok = bool(op.check(result))
                if not ok:
                    print(f"perfbench: output check failed for {op.label}", file=sys.stderr)
            except Exception:
                traceback.print_exc()
            failed += not ok
            streak = 0 if ok else streak + 1

        rss = peak_rss_mb(jvm_pid)
        with tr.span("teardown"):
            scenario.teardown()
            extra = scenario.layer_stats()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
            if traced:
                log = tracing.read_event_log(os.path.join(work, "eventlog"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if not os.listdir(os.path.dirname(work)):
                os.rmdir(os.path.dirname(work))

    leftovers = tree_listing(os.path.join(ROOT, "spark-warehouse")) != warehouse_before
    if leftovers:
        print("perfbench: spark-warehouse/ changed during the run", file=sys.stderr)
    if not durations:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    measured = sum(durations)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(durations) / measured,
        "op_p50_s": statistics.median(durations),
        "rows_per_s": rows / measured,
    }
    env["peak_rss_mb"] = rss
    env["cpu_steal_share"] = steal_share(cpu_at_start)
    env["samples"] = {
        "ops": len(durations),
        "measured_s": measured,
        "setups": 1,
        **{f"{k}_ops": len(v) for k, v in sorted(by_kind.items())},
        **{f"{k}_p50_s": statistics.median(v) for k, v in sorted(by_kind.items())},
        "timeline": timeline,
    }
    print(json.dumps({"env": env}))
    if traced:
        layers = tracing.layer_report(tr, log, progress)
        layers.update(extra)
        layers["session.start_s"] = session_s
        layers["mem.peak_rss_mb"] = rss
        layers["trace.op_p50_s"] = e2e["op_p50_s"]
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}")
        tr.dump(stem + "-spans.json")
        with open(stem + "-layers.json", "w") as f:
            json.dump(layers, f, indent=1, sort_keys=True)
        print(json.dumps({"layers": layers}, sort_keys=True))
    values = layers if traced else e2e
    spec = BENCH["per_layer" if traced else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({
        "correct": failed == 0 and not leftovers,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
