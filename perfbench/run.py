"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. The last line of
standard output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries the raw samples and
the host probe. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see README.md in this directory).
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
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))

N_SETUP = 3  # set-ups per run; setup_s is their median

E2E_UNITS = {
    "setup_s": "s",
    "primary_p50_s": "s",
    "secondary_p50_s": "s",
    "items_per_s": "1/s",
}

_CORE = ["calls", "wall_s", "self_s", "jobs", "tasks", "exec_cpu_s", "driver_gap_s"]
_LAZY = ["calls", "wall_s", "jobs"]  # calls that only build a DataFrame
# per-layer functions and the fields reported for each (fields that are
# always zero for a function are left out)
LAYOUT: dict[str, list[str]] = {
    "datagen.changelog_stream": ["calls", "wall_s", "jobs", "tasks", "exec_cpu_s",
                                 "output_bytes", "driver_gap_s"],
    "streaming.cdc.run_available": _CORE + ["input_bytes", "shuffle_bytes"],
    "sources.lake.merge_into": _CORE + ["input_bytes", "shuffle_bytes", "output_bytes"],
    "sources.lake.read.plan": _LAZY,
    "sources.lake.changes_since": _LAZY,
    "sources.sync.sync_step": _CORE + ["shuffle_bytes"],
    "sources.agg_view.refresh_agg_view": _CORE + ["shuffle_bytes"],
    "operators.reconcile.build_blocks": _CORE + ["input_bytes", "shuffle_bytes"],
    "operators.similarity.brute_force_topk": _CORE + ["shuffle_bytes"],
    "operators.pq.pq_train": _CORE,
    "operators.pq.pq_topk": _CORE + ["shuffle_bytes"],
}
RATIOS = [
    "streaming.cdc.trigger_gap_s",
    "trace.overhead_s",
    "trace.accounted_share",
    "host.probe_s",
]


def per_layer_names() -> list[str]:
    return [f"{fn}.{f}" for fn, fields in LAYOUT.items() for f in fields] + RATIOS


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "fraction"
    return "count"


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _env(root: str, work: str, trace: bool) -> None:
    """Process environment for the engine: the checkout on PYTHONPATH (pandas
    UDF workers import the package by name), every scratch directory inside
    the run's work directory, and local[nproc] from this one process."""
    for sub in ("tmp", "spark-local", "jtmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed-size heap: no heap resizing between repetitions
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no hsperfdata files in the system temp dir, from the launcher or the Spark driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={work}/jtmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(f"{k}={v}" for k, v in conf.items())


def _stop_event_log(spark: Any) -> None:
    """Detach the event log while the session stays up, so the untraced
    repetitions that measure tracing overhead run without it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    logger = sc.eventLogger()
    if logger.isDefined():
        # the logger flushes at every job end; SparkContext.stop() closes it
        sc.removeSparkListener(logger.get())


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _shutdown(spark: Any) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _run_reps(wl: Any, fx: Any, tracer: Any, seconds: float,
              min_reps: int) -> tuple[list[dict[str, Any]], int]:
    """Timed repetitions until ``seconds`` have passed (and at least
    ``min_reps``). Returns the samples and the number of repetitions that
    raised."""
    samples, failed = [], 0
    t_start = time.perf_counter()
    n = 0
    while n < min_reps or time.perf_counter() - t_start < seconds:
        tracer.rep = n
        try:
            samples.append(wl.rep(fx))
        except Exception:  # noqa: BLE001 - a failing operation is counted, not fatal
            traceback.print_exc()
            failed += 1
        n += 1
        if failed > 2:
            break
    return samples, failed


def run(args: argparse.Namespace, root: str, work: str) -> dict[str, Any]:
    import hostprobe

    t_run = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - t_run

    probe_s = hostprobe.probe()
    _env(root, work, bool(args.trace))
    sys.path.insert(0, root)
    from data_sync_tool_spark.session import build_session

    import spans as sp
    from workloads import WORKLOADS, Ctx

    cls = WORKLOADS[args.workload]
    tracer = sp.Tracer(enabled=bool(args.trace))
    mark("probe")
    spark = build_session(f"perfbench-{args.workload}")
    mark("session")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = cls(Ctx(spark, args.seed, tracer, cls.SIZES[args.scale]))
        wl.plant = args.plant_fault

        setup_s = []
        fx = None
        for i in range(N_SETUP):
            d = os.path.join(work, f"setup{i}")
            tracer.rep = "setup"
            t0 = time.perf_counter()
            fx = wl.setup(d)
            setup_s.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(work, f"setup{i - 1}"), ignore_errors=True)

        mark("setup")
        tracer.rep = "warmup"
        for _ in range(wl.warmup):
            wl.rep(fx)
        mark("warmup")

        samples, raised = _run_reps(wl, fx, tracer, args.seconds, wl.reps)
        mark("timed")
        checks = wl.check(fx) if samples else {"repetitions": ["none completed"]}
        for msg in (m for ms in checks.values() for m in ms):
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        # every engine call and every output check is one attempted operation
        attempted = sum(s["ops"] for s in samples) + raised + len(checks)
        failed = raised + sum(1 for ms in checks.values() if ms)
        mark("check")

        detail: dict[str, Any] = {
            "workload": args.workload, "seed": args.seed, "host_probe_s": probe_s,
            "setup_s": setup_s, "reps": len(samples),
            "primary_s": [x for s in samples for x in s["primary"]],
            "secondary_s": [x for s in samples for x in s["secondary"]],
            "notes": wl.notes,
            "checks": {name: ms or "ok" for name, ms in checks.items()},
        }
        if args.trace:
            metrics = _layer_metrics(spark, wl, fx, tracer, samples, work, detail)
            metrics["host.probe_s"] = probe_s
            mark("trace")
            values = {k: metrics[k] for k in per_layer_names()}
            units = {k: per_layer_unit(k) for k in values}
        else:
            prim = _median(detail["primary_s"])
            values = {
                "setup_s": _median(setup_s),
                "primary_p50_s": prim,
                "secondary_p50_s": _median(detail["secondary_s"]),
                "items_per_s": samples[0]["items"] / prim,
            }
            units = E2E_UNITS
    finally:
        _shutdown(spark)
    mark("shutdown")
    detail["phases"] = phases
    print(json.dumps(detail))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def _layer_metrics(spark: Any, wl: Any, fx: Any, tracer: Any, samples: list[dict[str, Any]],
                   work: str, detail: dict[str, Any]) -> dict[str, float]:
    import spans as sp

    timed = list(range(len(samples)))
    _stop_event_log(spark)
    logs = [os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))]
    jobs = sp.parse_event_log(logs[0])
    traced_walls = [s["wall"] for s in samples]
    span_walls = sp.rep_walls(tracer.spans, timed)

    # the same repetitions again with tracing off: the difference in median
    # repetition wall is the tracing overhead
    tracer.enabled = False
    untraced, _ = _run_reps(wl, fx, tracer, 0, len(samples))
    overhead = _median(traced_walls) - _median([s["wall"] for s in untraced])

    stats = sp.attribute(tracer.spans, jobs)
    out = sp.layer_metrics(stats, LAYOUT, timed, N_SETUP)
    gaps = [s["trigger_gap_s"] for s in samples if "trigger_gap_s" in s]
    out["streaming.cdc.trigger_gap_s"] = _median(gaps) if gaps else 0.0
    out["trace.overhead_s"] = overhead
    out["trace.accounted_share"] = sum(span_walls) / sum(traced_walls)
    detail["jobs_per_rep"] = _jobs_per_rep(stats, timed)
    detail["traced_wall_s"] = traced_walls
    detail["untraced_wall_s"] = [s["wall"] for s in untraced]
    return out


def _jobs_per_rep(stats: list[Any], timed: list[int]) -> dict[str, float]:
    """Spark jobs per timed repetition, by owning (innermost) layer call."""
    out: dict[str, float] = {}
    for st in stats:
        if st.span.rep in timed:
            out[st.span.name] = out.get(st.span.name, 0) + len(st.jobs) / len(timed)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_replica", "ann_topk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt every output before its check (self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_sync_tool_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds the "
              "data_sync_tool_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
