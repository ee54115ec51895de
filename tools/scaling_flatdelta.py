"""Same-session scaling A/B: clustered vs flat (zero-shuffle) delta append.

Round-4 found the binding scaling lever is bytes moved per event
(BENCH/BASELINE.md: zstd shuffle halved bytes/event and raised the 2->8
efficiency 0.564 -> 0.600).  The OTHER half of the per-batch byte budget
is the clustered delta write itself: `cluster_deltas=False` appends each
micro-batch as flat (unclustered) files -- ZERO shuffle on the ingest
path -- and defers all clustering to the periodic compaction.  If the
per-batch shuffle is what bends the 2->8 curve, the flat configuration
should scale better; if compaction's full-table exchange dominates, it
won't.  Measure, don't guess.

Protocol is tools/scaling_session.py's (same-window ceiling, pinned
cores, interleaved trials, median-of-3); this script only swaps the
codec dimension for the delta-layout dimension, holding the shuffle
codec at zstd (the recommended cluster setting).

Emits BENCH/scaling_flatdelta_r4.json; BENCH/BASELINE.md is hand-merged.

Run with nothing else on the box:  python tools/scaling_flatdelta.py
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from scaling_session import PAIR, sha2_ceiling  # noqa: E402  (same-window ceiling)

EVENTS = int(os.environ.get("FETCHEZ_SCALING_EVENTS", 32_000_000))
TRIALS = int(os.environ.get("FETCHEZ_SCALING_TRIALS", 3))

CONFIGS = {
    # shipped default: per-batch clustered delta write (one O(batch)
    # repartition on the bucket key)
    "clustered": {"FETCHEZ_CLUSTER_DELTAS": "1"},
    # fast-append: flat delta files, zero ingest shuffle; periodic
    # compaction does the clustering
    "flat": {"FETCHEZ_CLUSTER_DELTAS": "0"},
}

# re-measure a subset without the full 18-run matrix, e.g.
# FETCHEZ_SCALING_CONFIGS=flat for the shipped ingest default only
_only = os.environ.get("FETCHEZ_SCALING_CONFIGS")
if _only:
    names = [n.strip() for n in _only.split(",") if n.strip()]
    unknown = [n for n in names if n not in CONFIGS]
    if unknown:
        # fail BEFORE the multi-minute ceiling run, not after
        raise SystemExit(
            f"FETCHEZ_SCALING_CONFIGS: unknown config(s) {unknown}; "
            f"valid: {sorted(CONFIGS)}"
        )
    CONFIGS = {k: v for k, v in CONFIGS.items() if k in names}


def engine_runs(log_dir: str) -> dict:
    results: dict[str, dict[int, list[float]]] = {}
    shuffles: dict[str, dict] = {}
    for trial in range(TRIALS):
        for cfg, extra in CONFIGS.items():
            ordered = PAIR if trial % 2 == 0 else tuple(reversed(PAIR))
            for cores in ordered:
                out = f"/dev/shm/scaling-{cfg}-{cores}-{trial}.json"
                env = dict(
                    os.environ,
                    FETCHEZ_BENCH_EVENTS=str(EVENTS),
                    FETCHEZ_BENCH_BATCHES="4",
                    FETCHEZ_SKIP_QUERIES="1",
                    FETCHEZ_IO_CODEC="zstd",
                    **extra,
                )
                cmd = [
                    "taskset", "-c", f"0-{cores - 1}",
                    sys.executable, os.path.join(REPO, "bench.py"),
                    "--single", str(cores), log_dir, out,
                ]
                subprocess.run(cmd, check=True, env=env,
                               stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
                with open(out) as f:
                    blob = json.load(f)
                results.setdefault(cfg, {}).setdefault(cores, []).append(blob["value"])
                shuffles.setdefault(cfg, {})[cores] = blob.get("shuffle", {})
                print(f"  engine {cfg} local[{cores}] trial {trial}: "
                      f"{blob['value']:,.0f} ev/s", flush=True)
                time.sleep(30)
    summary = {}
    lo, hi = PAIR
    for cfg, by_cores in results.items():
        m2 = statistics.median(by_cores[lo])
        m8 = statistics.median(by_cores[hi])
        summary[cfg] = {
            "rate2": m2, "rate8": m8, "pair": list(PAIR),
            "eff": m8 / ((hi / lo) * m2),
            "trials2": by_cores[lo], "trials8": by_cores[hi],
            "shuffle": shuffles[cfg],
        }
    return summary


def main() -> None:
    import shutil
    import tempfile

    print("1/2 compute-bound Spark ceiling...", flush=True)
    sha2 = sha2_ceiling()
    print(f"  any-Spark eff {sha2['eff']:.3f}", flush=True)
    print("2/2 engine trials...", flush=True)
    shared = tempfile.mkdtemp(prefix="fz-scaling-", dir="/dev/shm")
    try:
        from bench import _write_log

        _write_log(EVENTS, os.path.join(shared, "log"), chunks=128)
        engine = engine_runs(os.path.join(shared, "log"))
    finally:
        shutil.rmtree(shared, ignore_errors=True)
    blob = {
        "events": EVENTS,
        "trials": TRIALS,
        "io_codec": "zstd",
        "spark_ceiling": sha2,
        "engine": engine,
        "normalized": {c: engine[c]["eff"] / sha2["eff"] for c in engine},
    }
    out_name = os.environ.get("FETCHEZ_SCALING_OUT", "scaling_flatdelta_r4.json")
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(blob, f, indent=2)
    print(json.dumps(blob, indent=2))


if __name__ == "__main__":
    main()
