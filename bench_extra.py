"""Phase-level profiling companion to bench.py (guide section 1).

bench.py is the FROZEN measurement contract; this file exists so the
optimization work can see INSIDE the replay number without touching it:

* ``profile`` -- run the same replay shape as bench.run_bench (same sink
  config, same batch split, same warm-up) with per-phase wall timing:
  delta writes, per-batch stats job (driver collect), manifest commits,
  footer harvesting, compaction (fold read+shuffle+write), and the
  closing compact.  Prints one JSON line.
* ``queries`` -- noop-sink isolation of each headline query (guide 1.4):
  N repeats each, plus ``.explain("formatted")`` dumped under
  ``plans/r06/<name>_<tag>.txt`` for plan-shape evidence.

Usage:
  python bench_extra.py profile  [--events N] [--cores N] [--batches N]
  python bench_extra.py queries  [--repeats N] [--tag before|after]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the LocalSnapshotSink methods `profile` times, one phase each; the
# footer burst includes a fold's driver-side tombstone counts
SINK_PHASES = [
    "_write_flat",
    "_write_bucketed",
    "_dedup_write_bucketed",
    "_commit",
    "_footer_burst",
    "manifest",
]

_PHASES: dict[str, float] = {}
_COUNTS: dict[str, int] = {}


def _instrument(cls, names: list[str]) -> None:
    for name in names:
        raw = cls.__dict__[name]  # keep classmethod/staticmethod wrappers
        func = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw

        def make(func, name):
            @functools.wraps(func)
            def wrapped(*a, **k):
                t0 = time.monotonic()
                try:
                    return func(*a, **k)
                finally:
                    dt = time.monotonic() - t0
                    _PHASES[name] = _PHASES.get(name, 0.0) + dt
                    _COUNTS[name] = _COUNTS.get(name, 0) + 1

            return wrapped

        wrapped = make(func, name)
        if isinstance(raw, classmethod):
            wrapped = classmethod(wrapped)
        elif isinstance(raw, staticmethod):
            wrapped = staticmethod(wrapped)
        setattr(cls, name, wrapped)


def profile_replay(events: int | None, cores: int, batches: int) -> dict:
    from fetchez_spark.session import get_spark
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
    from fetchez_spark.streaming.engine import replay_batches
    from fetchez_spark.streaming.lineage import LineageLog

    import bench  # frozen driver; reuse its knobs/helpers verbatim

    sf = bench._sf_of(SF_DIR)
    n_events = events if events else bench._events_for(sf)
    spark = get_spark(
        app_name=f"fetchez-profile-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": bench._fast_tmp() or "/tmp",
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "20000000",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
            "spark.ui.enabled": "true",
            "spark.io.compression.codec": os.environ.get("FETCHEZ_IO_CODEC", "lz4"),
        },
    )
    _instrument(LocalSnapshotSink, SINK_PHASES)
    work = tempfile.mkdtemp(prefix="fetchez-profile-", dir=bench._fast_tmp())
    try:
        log_dir = os.path.join(work, "log")
        t0 = time.monotonic()
        bench._write_log(n_events, log_dir)
        gen_sec = time.monotonic() - t0
        files = sorted(
            os.path.join(log_dir, f) for f in os.listdir(log_dir) if f.endswith(".parquet")
        )
        per = max(len(files) // batches, 1)
        chunks = [files[i : i + per] for i in range(0, len(files), per)]

        spark.range(1_000_000).selectExpr("sum(id)").collect()
        warm_sink = LocalSnapshotSink(
            os.path.join(work, "warmup-table"), num_buckets=8, compact_every=10**9
        )
        warm_files = chunks[0][: max(len(chunks[0]) // 8, 2)]
        replay_batches(spark, [warm_files], warm_sink, token_prefix="warm")
        warm_sink.compact(spark)
        _PHASES.clear()
        _COUNTS.clear()

        sink = LocalSnapshotSink(
            os.path.join(work, "table"),
            num_buckets=max(2 * cores, 32),
            collect_metrics=True,
            compact_every=max(len(chunks) // 2, 2),
            cluster_deltas=os.environ.get("FETCHEZ_CLUSTER_DELTAS", "0") != "0",
        )
        compact_secs: list[float] = []
        orig_compact = LocalSnapshotSink.compact

        @functools.wraps(orig_compact)
        def timed_compact(self, *a, **k):
            t0 = time.monotonic()
            try:
                return orig_compact(self, *a, **k)
            finally:
                compact_secs.append(time.monotonic() - t0)

        LocalSnapshotSink.compact = timed_compact
        lineage = LineageLog(os.path.join(work, "lineage"))
        from fetchez_spark.plans import ShuffleMetrics

        sm = ShuffleMetrics(spark)
        snap0 = sm.snapshot()
        t0 = time.monotonic()
        batch_metrics = replay_batches(spark, chunks, sink, lineage=lineage)
        merge_loop_sec = time.monotonic() - t0
        t1 = time.monotonic()
        sink.compact(spark)
        closing_compact_sec = time.monotonic() - t1
        replay_sec = time.monotonic() - t0
        snap1 = sm.snapshot()
        d = ShuffleMetrics.delta(snap0, snap1)
        per_batch = [
            {
                "token": m.get("batch_token"),
                "sec": round(m.get("seconds", 0.0), 3),
                "compacted": bool(m.get("compacted")),
            }
            for m in batch_metrics
        ]
        stages = []
        try:
            import urllib.request

            ui, app = spark.sparkContext.uiWebUrl, spark.sparkContext.applicationId
            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=10
            ) as r:
                for s in json.load(r):
                    stages.append(
                        {
                            "id": s.get("stageId"),
                            "name": (s.get("name") or "")[:90],
                            "tasks": s.get("numCompleteTasks"),
                            "runtime_s": round((s.get("executorRunTime") or 0) / 1e3, 2),
                            "cpu_s": round((s.get("executorCpuTime") or 0) / 1e9, 2),
                            "in_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
                            "out_mb": round((s.get("outputBytes") or 0) / 1e6, 1),
                            "sh_r_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
                            "sh_w_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 1),
                        }
                    )
            stages.sort(key=lambda s: -s["runtime_s"])
            stages = stages[:18]
        except Exception:
            pass
        jobs = []
        try:
            import urllib.request
            from datetime import datetime

            def _ts(s):
                return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/jobs", timeout=10
            ) as r:
                raw = json.load(r)
            raw.sort(key=lambda j: j.get("jobId", 0))
            prev_end = None
            for j in raw:
                sub, comp = j.get("submissionTime"), j.get("completionTime")
                if not sub or not comp:
                    continue
                t0, t1 = _ts(sub), _ts(comp)
                jobs.append(
                    {
                        "job": j["jobId"],
                        "sec": round(t1 - t0, 3),
                        "gap_before": round(t0 - prev_end, 3) if prev_end else None,
                        "stages": len(j.get("stageIds", [])),
                    }
                )
                prev_end = t1
        except Exception:
            pass
        result = {
            "events": n_events,
            "cores": cores,
            "batches": batches,
            "gen_sec": round(gen_sec, 2),
            "replay_sec": round(replay_sec, 3),
            "merge_loop_sec": round(merge_loop_sec, 3),
            "closing_compact_sec": round(closing_compact_sec, 3),
            "events_per_sec": round(n_events / replay_sec, 1),
            "per_batch": per_batch,
            "compact_calls_sec": [round(s, 3) for s in compact_secs],
            "phases_sec": {k: round(v, 3) for k, v in sorted(_PHASES.items())},
            "phase_calls": dict(sorted(_COUNTS.items())),
            "shuffle": d,
            "stages": stages,
            "jobs": jobs,
            "final_rows": sink.read(spark).count(),
        }
        return result
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


HEADLINE = [
    "cdc_dedup_latest",
    "cdc_final_state",
    "q1_pricing_summary",
    "broadcast_lookup_join",
    "hourly_rollup",
    "as_of_join",
    "topk_per_group",
    "text_token_stats",
    "cosine_topk",
    "conversation_assembly",
    "sessionize_gaps",
]


def time_queries(repeats: int, tag: str, names: list[str] | None = None) -> dict:
    from fetchez_spark.session import get_spark

    import __spark_entry__ as entry_mod
    import bench

    spark = get_spark(
        app_name="fetchez-queries",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra_conf={
            "spark.local.dir": bench._fast_tmp() or "/tmp",
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "20000000",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        },
    )
    queries = entry_mod.queries()
    plans_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)
    out: dict[str, list[float]] = {}
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        for name in names or HEADLINE:
            secs = []
            for r in range(repeats):
                spark.sparkContext.setJobDescription(f"{name} [{r}]")
                t0 = time.monotonic()
                df = queries[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                secs.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = secs
            if tag:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    queries[name](spark, SF_DIR).explain("formatted")
                with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                    f.write(buf.getvalue())
        return {"sf_dir": SF_DIR, "repeats": repeats, "queries": out}
    finally:
        spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["profile", "queries"])
    ap.add_argument("--events", type=int, default=None)
    ap.add_argument("--cores", type=int, default=CPUS)
    ap.add_argument("--batches", type=int, default=int(os.environ.get("FETCHEZ_BENCH_BATCHES", "4")))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--tag", type=str, default="")
    ap.add_argument("--names", type=str, default="")
    args = ap.parse_args()
    if args.mode == "profile":
        print(json.dumps(profile_replay(args.events, args.cores, args.batches)))
    else:
        names = [n for n in args.names.split(",") if n] or None
        print(json.dumps(time_queries(args.repeats, args.tag, names)))
