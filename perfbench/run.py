#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the report pipeline.

    python3 perfbench/run.py --workload api_requests --seed 1 --seconds 25 --trace 0

Run from the repository root. Workloads and metrics are declared in
``BENCHMARK.json``; ``perfbench/README.md`` describes them. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics. Any
failed operation or output check makes the exit code 1.

``--selftest`` starts a session, checks the status-store calls the
tracer relies on, and exits.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"


def _pin_environment(work: str) -> dict:
    """Pin what the program reads from the environment, before Spark
    starts. Python workers inherit PYTHONPATH from the JVM, which
    inherits it from this process; without the repository root on it,
    ``mapInPandas`` workers cannot import the package."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Temporary files stay inside the checkout: Spark's, Python's and
        # the JVMs' (no hsperfdata file under /tmp).
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    for var in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MASTER", "SPARK_MASTER", "MONGO_URI",
                "AZURE_OPENAI_ENDPOINT", "AZURE_OPENAI_API_KEY"):
        os.environ.pop(var, None)
    os.environ.update(pinned)
    return pinned


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _rss_peak_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM) plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit
    (its Python daemon and workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _session(args, traced: bool, name: str, work: str):
    """Start the session, run the workload (or the self-test) and stop
    the session. Set-up is program import, session start and the
    workload's warm-up operation."""
    t_setup = time.perf_counter()
    import medical_examination_data_etl_system_spark as program
    from medical_examination_data_etl_system_spark import get_spark

    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"program imported from {program.__file__}, not from {ROOT}")
    import spans
    import workloads

    spark = get_spark(app_name=f"perfbench-{name}")
    session_start_s = time.perf_counter() - t_setup
    try:
        if args.selftest:
            spans.selftest(spark)
            return None
        tracer = spans.Tracer(spark) if traced else None
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work, t_setup)
        workloads.WORKLOADS[args.workload](run, traced)
        if traced:
            spans.selftest(spark)
        return run, tracer, session_start_s, _rss_peak_mb(spark)
    finally:
        _stop(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # A terminated run still unwinds, so the JVM is stopped below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    declared = _declared()
    if not args.selftest and args.workload not in declared["workloads"]:
        ap.error(f"--workload must be one of {declared['workloads']}")
    traced = bool(args.trace)

    name = "selftest" if args.selftest else f"{args.workload}-{args.seed}"
    work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    os.makedirs(work)
    try:
        pinned = _pin_environment(work)
        sys.path.insert(0, ROOT)
        out = _session(args, traced, name, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        print("selftest ok")
        return 0
    run, tracer, session_start_s, rss_mb = out

    import bench  # the repository's battery harness, for its box id

    run.layer["session.start_s"] = session_start_s
    run.layer["session.warmup_s"] = run.setup_s - session_start_s
    run.e2e["setup_s"] = run.setup_s
    run.layer["session.rss_peak_mb"] = rss_mb
    if tracer is not None:
        tracer.write(os.path.join(WORK_ROOT, f"spans-{name}.jsonl"))

    wanted = declared["per_layer"] if traced else declared["end_to_end"]
    produced = run.layer if traced else run.e2e
    undeclared = sorted(set(produced) - set(wanted))
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {undeclared}")
    # A layer the workload does not exercise reads 0 (e.g. stream.* on
    # api_requests).
    metrics = {
        k: {"value": float(produced.get(k, 0.0)), "unit": unit} for k, unit in wanted.items()
    }
    for problem in run.problems:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "digest": run.digest,
        "detail": run.info,
        "loadavg": os.getloadavg(),
        "box": bench._box_info(),
        "env": pinned,
        "process_s": time.perf_counter() - T_PROCESS,
    }, sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
