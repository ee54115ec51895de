"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's seeded inputs,
sets up, measures for ``--seconds``, runs the workload's correctness gates
and prints, as its last stdout line, one JSON object::

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the end-to-end set, with ``--trace 1``
the per-layer set (see ``metrics.py``); the line before it is a detail
report with every named metric.  A traced run also writes its spans and
per-layer self times to ``.perfbench/traces/``.  Exit status is 0 only when
every gate passed."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DEADLINE_S = 170.0  # a run that is still going here is killed, not reported


def parse_args(argv: list[str]) -> argparse.Namespace:
    from metrics import RUN_SECONDS, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=None, help="input seed (default: the workload's)")
    p.add_argument("--seconds", type=float, default=RUN_SECONDS, help="length of the measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use small ones)")
    args = p.parse_args(argv)
    if args.seed is None:
        args.seed = WORKLOADS[args.workload]["default_seed"]
    return args


def check_product() -> str | None:
    for rel in ("fetchez_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from the root of a fetchez-spark checkout"
    return None


def isolate(work: str) -> None:
    """Keep every file the run touches inside its work directory."""
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no user config file: every run sees the engine defaults
    os.environ["FETCHEZ_SPARK_CONFIG"] = os.path.join(work, "no-user-config.yaml")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # already gone: nothing left to stop
        print(f"gateway shutdown: {e}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    err = check_product()
    if err:
        print(err, file=sys.stderr)
        return 2
    from metrics import build_result
    from workloads import RUNNERS, Run

    watchdog = threading.Timer(DEADLINE_S, lambda: (print("deadline exceeded", file=sys.stderr), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    run = Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        scale=args.scale,
        work=work,
        cores=len(os.sched_getaffinity(0)),
    )
    try:
        RUNNERS[args.workload](run)
    finally:
        stop_jvm(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    run.layer["session.start_s"] = statistics.median(run.session_starts)
    if run.samples.get("sink.merge"):
        run.layer["sink.merge_s_p50"] = statistics.median(run.samples["sink.merge"])
    run.e2e["setup_s"] = run.setup_s
    if run.traced:
        run.report["layer_self_s"] = run.tracer.layer_self_times()
        path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        run.tracer.dump(path, {"workload": args.workload, "seed": args.seed, "layer": run.layer})
        run.report["trace_file"] = os.path.relpath(path, ROOT)
    run.report.update(e2e=run.e2e, failures=run.failures)
    result = build_result(run)
    samples = {k: [round(x, 4) for x in v] for k, v in run.samples.items()}
    print(json.dumps({"report": run.report, "samples": samples}, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    code = main(sys.argv[1:])
    sys.stdout.flush()
    os._exit(code)
