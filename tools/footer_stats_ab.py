"""A/B: a sorted fold's wall time and Spark job count, parent vs change.

A sorted fold (``compact(sort=True)``) records per-file leading-key ranges
in the manifest.  This times that fold in two checkouts of the engine on
one pre-generated log, and counts the Spark jobs it launches (through
``statusTracker`` under a job group).  Each run is its own JVM: it
replays the log into a fresh table (untimed), then times one
``compact(sort=True, target_file_bytes=...)``.  Pairs alternate which
checkout runs first.  Each run also digests the recorded ``key_stats``
values (file paths differ between runs, the ranges must not).

    python tools/footer_stats_ab.py gen LOG_DIR [--events N]
    python tools/footer_stats_ab.py pairs PARENT_DIR CHANGE_DIR LOG_DIR \\
        [--pairs 10] [--out BENCH/pr12_footer_stats.json]

``run`` (one measurement in one checkout) is what ``pairs`` launches.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

TARGET_FILE_BYTES = 20_000


def gen(log_dir: str, events: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from fetchez_spark.changegen import ChangeLogSpec, write_change_log_chunked

    spec = ChangeLogSpec(
        num_events=events, num_convs=max(events // 4, 100), max_turns=5, seed=7
    )
    write_change_log_chunked(spec, log_dir, num_chunks=4, workers=1)


def run(checkout: str, log_dir: str, label: str) -> dict:
    sys.path.insert(0, os.path.abspath(checkout))
    from fetchez_spark.session import get_spark
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    spark = get_spark(app_name=f"footer-stats-ab-{label}", master="local[4]",
                      shuffle_partitions=8)
    chunks = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
    work = tempfile.mkdtemp(prefix="footer-stats-ab-")
    sink = LocalSnapshotSink(os.path.join(work, "t"), num_buckets=4,
                             compact_every=10**9, async_compact=False)
    for i, f in enumerate(chunks):
        sink.merge(spark.read.parquet(f), f"chunk-{i}")
    sc = spark.sparkContext
    group = f"sorted-fold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compact(sort=True)")
    t0 = time.perf_counter()
    sink.compact(spark, sort=True, target_file_bytes=TARGET_FILE_BYTES)
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    ks = sink.key_stats()
    files = [f for fs in sink.file_lists().values() for f in fs]
    digest = hashlib.sha256(
        json.dumps(sorted(ks.values())).encode()
    ).hexdigest()[:16]
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return {"label": label, "compact_s": wall, "jobs": jobs, "files": len(files),
            "key_stats_entries": len(ks), "key_stats_digest": digest}


def pairs(parent: str, change: str, log_dir: str, n: int, out: str | None) -> None:
    me = os.path.abspath(__file__)
    runs = []
    for p in range(n):
        order = [("parent", parent), ("change", change)]
        if p % 2:
            order.reverse()
        for label, checkout in order:
            res = subprocess.run(
                [sys.executable, me, "run", checkout, log_dir, "--label", label],
                check=True, capture_output=True, text=True,
            )
            row = json.loads(res.stdout.strip().splitlines()[-1])
            row["pair"] = p
            runs.append(row)
            print(json.dumps(row), flush=True)
    by = {lab: [r for r in runs if r["label"] == lab] for lab in ("parent", "change")}
    wins = sum(
        c["compact_s"] <= q["compact_s"]
        for c, q in zip(by["change"], by["parent"])
    )
    summary = {
        lab: {
            "compact_s_median": statistics.median(r["compact_s"] for r in rs),
            "compact_s_quartiles": statistics.quantiles(
                [r["compact_s"] for r in rs], n=4
            ),
            "jobs": sorted({r["jobs"] for r in rs}),
            "files": sorted({r["files"] for r in rs}),
            "key_stats_digests": sorted({r["key_stats_digest"] for r in rs}),
        }
        for lab, rs in by.items()
    }
    summary["change_faster_or_equal_pairs"] = f"{wins}/{n}"
    print(json.dumps(summary, indent=1))
    if out:
        with open(out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen")
    g.add_argument("log_dir")
    g.add_argument("--events", type=int, default=100_000)
    r = sub.add_parser("run")
    r.add_argument("checkout")
    r.add_argument("log_dir")
    r.add_argument("--label", default="run")
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("log_dir")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out")
    a = ap.parse_args()
    if a.cmd == "gen":
        gen(a.log_dir, a.events)
    elif a.cmd == "run":
        print(json.dumps(run(a.checkout, a.log_dir, a.label)))
    else:
        pairs(a.parent, a.change, a.log_dir, a.pairs, a.out)


if __name__ == "__main__":
    main()
