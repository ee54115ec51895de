"""Run-to-run spread of the end-to-end metrics, and tracing overhead.

    python3 perfbench/spread.py --workloads ingest,serve_query --seeds 1-10 [--seconds 20]
    python3 perfbench/spread.py --workloads ingest --seeds 1-3 --overhead
    python3 perfbench/spread.py --workloads ingest --seeds 1-5 --keep .perfbench/runs

Runs ``run.py`` once per (workload, seed), from the current directory, and
prints per metric the median and the interquartile range as a share of the
median (the quartiles of ``statistics.quantiles(values, n=4)``), for the
end-to-end metrics and for the time figures of the detail report.  With
``--overhead`` each seed also runs traced; the detail report of a traced
run carries the same numbers, and the table gives the median of traced
minus untraced, as a share of the untraced value.  ``--keep DIR``
writes each run's detail report and result line to ``DIR``."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import RUN_SECONDS  # noqa: E402


# Time figures of each workload's detail report: (name, key, field or None)
FIGURES = {
    "ingest": [
        ("replay_events_per_s", "replay_events_per_s", "p50"),
        ("replay_events_per_cpu_s", "replay_events_per_cpu_s", None),
        ("freshness_p50_s", "freshness_s", "p50"),
        ("tail_cpu_s_per_file", "tail_cpu_s_per_file", None),
        ("catchup_events_per_s", "catchup_events_per_s", None),
    ],
    "serve_query": [
        ("serve_cycle_p50_s", "serve_cycle_s", "p50"),
        ("serve_cycle_cpu_s", "serve_cycle_cpu_s", None),
        ("lookup_p50_s", "lookup_s", "p50"),
        ("query_execs_per_s", "query_execs_per_s", None),
        ("query_execs_per_cpu_s", "query_execs_per_cpu_s", None),
    ],
}


def numbers(workload: str, report: dict, result: dict | None) -> dict[str, float]:
    """End-to-end metrics (from the result line, or the traced run's own
    copy in its report) and the detail report's time figures."""
    out = dict(report["e2e"]) if result is None else {k: v["value"] for k, v in result["metrics"].items()}
    for name, key, sub in FIGURES.get(workload, []):
        v = report[key]
        out[f"{name} (detail)"] = v[sub] if sub else v
    return out


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(
    workload: str, seed: int, seconds: float, trace: int, keep: str | None = None
) -> tuple[dict, dict, float]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    wall = time.monotonic() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
    if keep:
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
            f.write("\n".join(lines[-2:]) + "\n")
    return json.loads(lines[-2])["report"], json.loads(lines[-1]), wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--seconds", type=float, default=RUN_SECONDS)
    p.add_argument("--overhead", action="store_true")
    p.add_argument("--keep", default=None, help="directory for each run's output lines")
    args = p.parse_args()
    for w in args.workloads.split(","):
        plain: dict[str, list[float]] = {}
        over: dict[str, list[float]] = {}
        for s in seeds(args.seeds):
            report, res, wall = run_once(w, s, args.seconds, 0, args.keep)
            base = numbers(w, report, res)
            for k, v in base.items():
                plain.setdefault(k, []).append(v)
            print(json.dumps({"workload": w, "seed": s, "wall_s": round(wall, 1),
                              **{k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
            if args.overhead:
                traced, _, _ = run_once(w, s, args.seconds, 1, args.keep)
                for k, v in numbers(w, traced, None).items():
                    over.setdefault(k, []).append((v - base[k]) / base[k])
        for k, vals in plain.items():
            line = f"{w:12s} {k:36s} median={statistics.median(vals):.4g} n={len(vals)}"
            if len(vals) >= 2:
                line += f" iqr/median={spread(vals):.3f}"
            if k in over:
                line += f" traced-untraced={statistics.median(over[k]):+.3f}"
            print(line, flush=True)


if __name__ == "__main__":
    main()
